package graft

import org.apache.spark.sql.functions._

import graft.plans.GraftRules
import graft.sources.ChangeFeed

/** Optimizer rules: implied scn-band bounds reach the raw parquet scan. */
class PlansSpec extends SparkSpec {
  import spark.implicits._

  test("scn band on the capture path pushes implied seq bounds to the scan") {
    GraftRules.install(spark)
    val env = ChangeFeed.envelope(spark, sf())
    val banded = env.where($"scn" > 300 && $"scn" <= 700)

    // implied event_id bounds appear in the scan's pushed filters
    val plan = banded.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"))
    assert(plan.contains("GreaterThan(event_id,290)"),
      s"missing implied lower bound in:\n$plan")
    assert(plan.contains("LessThan(event_id,710)"),
      s"missing implied upper bound in:\n$plan")

    // and the result is exactly the unoptimized semantics
    assert(banded.count() ==
      env.collect().count(r => r.getLong(0) > 300 && r.getLong(0) <= 700))
  }

  test("equality scn predicate derives a closed seq window") {
    GraftRules.install(spark)
    val env = ChangeFeed.envelope(spark, sf())
    val one = env.where($"scn" === 500)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(event_id,490)") &&
      plan.contains("LessThan(event_id,510)"), s"no closed window in:\n$plan")
    assert(one.count() == 10)
  }

  test("rule is idempotent and preserves non-matching filters") {
    GraftRules.install(spark)
    GraftRules.install(spark) // double install must not duplicate
    val env = ChangeFeed.envelope(spark, sf())
    val q = env.where($"source_id" === 3 && $"scn" >= 200)
    val n1 = q.count()
    val n2 = env.where($"source_id" === 3 && $"scn" >= 200).count()
    assert(n1 == n2)
  }

  test("relay DataSource reports the accepted scn band as pushed filters") {
    val dir = graft.sources.WireFixtures.relayLogDir(spark, sf())
    val banded = spark.read.format("graft-relay").option("path", dir).load()
      .where($"scn" > 300 && $"scn" <= 700)
    val plan = banded.queryExecution.executedPlan.toString
    // the V2 scan surfaces the accepted band (pushedFilters) so explain
    // shows the segment pruning instead of hiding it
    assert(plan.contains("GreaterThan(scn,300)") ||
      plan.contains("scnBand"), s"band not visible in:\n$plan")
  }

  test("bucketed fact-fact join runs with no exchange on either side") {
    val o = graft.sources.Store.bucketedTable(spark, sf(), "orders",
      "o_orderkey", 8)
    val l = graft.sources.Store.bucketedTable(spark, sf(), "lineitem",
      "l_orderkey", 8)
    val joined = l.hint("merge")
      .join(o.hint("merge"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderkey").agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the only allowed shuffle is the final aggregate's (and bucketing on
    // the grouping key removes even that); the join itself must have none
    val planStr = plan.toString
    val joinIdx = planStr.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, s"expected SMJ in:\n$planStr")
    assert(!planStr.substring(joinIdx).contains("Exchange"),
      s"exchange below the bucketed join in:\n$planStr")
    assert(exchanges.isEmpty,
      s"expected zero exchanges end-to-end, got ${exchanges.size}")
  }

  test("decontamination plan broadcasts the eval n-gram set") {
    val train = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val eval = train.where($"doc_id" < 10)
    val clean = graft.pipeline.Dedup.decontaminate(train, eval)
    val plan = clean.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"eval side not broadcast in:\n$plan")
  }

  test("importanceWeights broadcasts both bucket distributions") {
    val raw = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val target = raw.where($"doc_id" < 50)
    val scored = graft.pipeline.Weighting.importanceWeights(raw, target)
    val plan = scored.queryExecution.executedPlan.toString
    // the (bucket, count) dims must broadcast — a shuffled join here
    // would shuffle the raw-corpus gram explode at 100 TB
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts >= 2, s"bucket dims not broadcast ($broadcasts):\n$plan")
  }

  test("semanticDedup: no forced broadcast; wide pair shuffles carry no " +
      "vectors") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select($"vec_id".as("id"), $"embedding".as("vec"))

    def assertUnhinted(df: org.apache.spark.sql.DataFrame): Unit = {
      // the drop-set / label side is duplicate-mass-sized (corpus-order at
      // web scale) — no broadcast hint may survive to any join; AQE must
      // stay free to pick a shuffled join from measured sizes
      val hinted = df.queryExecution.optimizedPlan.collect {
        case j: LJoin if j.hint.leftHint.exists(_.strategy.isDefined) ||
          j.hint.rightHint.exists(_.strategy.isDefined) => j
      }
      assert(hinted.isEmpty,
        s"forced join hint survives:\n${df.queryExecution.optimizedPlan}")
    }

    val out = graft.pipeline.Semantic.semanticDedup(e, k = 2, iters = 1)
    assertUnhinted(out)
    val lsh = graft.pipeline.Semantic.semanticDedup(e, k = 2, iters = 1,
      intraCellPlanes = 4, intraCellTables = 2)
    assertUnhinted(lsh)
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    assertUnhinted(graft.pipeline.Semantic.softDedupWeights(
      e.select($"id".as("doc_id")), pairs))

    // the shuffle that can go quadratic (keyed on cell_id / bucket) must
    // carry ids only — vectors ride one id-keyed linear join at verify.
    // AQE off + broadcast threshold -1 = the plan the 100 TB run would
    // get when nothing fits in a broadcast
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (df <- Seq(out, lsh)) {
        val exchanges = df.queryExecution.executedPlan.collect {
          case x: ShuffleExchangeExec => x
        }
        val wide = exchanges.filter { x =>
          val p = x.outputPartitioning.toString
          p.contains("cell_id") || p.contains("bucket")
        }
        assert(wide.nonEmpty, "expected a cell/bucket-keyed pair shuffle")
        for (x <- wide)
          assert(!x.output.exists(_.dataType.isInstanceOf[ArrayType]),
            s"vector column in wide shuffle: ${x.output}")
      }
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }

    // complementary guard: with AQE ON and a small drop set, the unhinted
    // exclusion join must still come out a broadcast join at runtime
    // (sizes measured by AQE) — guards against silently paying a full
    // shuffle at SFs where broadcast is right
    val smallDrop = graft.pipeline.Semantic.semanticDedup(e, k = 2, iters = 1)
    Bench.force(smallDrop)
    val finalPlan = smallDrop.queryExecution.executedPlan.toString
    assert(finalPlan.contains("BroadcastHashJoin"),
      s"AQE did not broadcast the small drop set:\n$finalPlan")
  }

  test("bm25 plans zero corpus-sized shuffles (stats row broadcast only)") {
    val d = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val out = graft.pipeline.Retrieval.bm25(d, Seq("the", "of"))
    val plan = out.queryExecution.executedPlan.toString
    // the only exchanges allowed: the 1-row stats aggregate's partial →
    // final hop and its broadcast back — never a hashpartitioning of
    // the corpus itself
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 0, s"corpus shuffle in bm25 plan:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"stats row not broadcast:\n$plan")
  }

  test("stripFrequentLines: frequent set joins anti, corpus reassembles once") {
    val d = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val out = graft.pipeline.Lines.stripFrequentLines(d, shareBp = 100)
    Bench.force(out) // let AQE finalize join strategies from real sizes
    val plan = out.queryExecution.executedPlan.toString
    // the frequent-line membership test must be an anti join (rows never
    // multiply), and with AQE measuring the tiny thresholded set it must
    // come out broadcast — the corpus-side explode is never re-shuffled
    // for the membership check
    assert(plan.contains("LeftAnti"), s"no anti join:\n$plan")
    assert("BroadcastHashJoin.*LeftAnti".r.findFirstIn(plan).isDefined ||
      plan.contains("BroadcastHashJoin"),
      s"frequent set not broadcast under AQE:\n$plan")
  }

  test("collapseRepeatedLines plans zero exchanges (pure projection)") {
    val d = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val plan = graft.pipeline.Lines.collapseRepeatedLines(d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("mixToBudget plans exactly one exchange (the per-domain window)") {
    val d = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "lang", "text")
    val out = graft.pipeline.Sampling.mixToBudget(d, "doc_id", "lang",
      "text", budgetTokens = Map("en" -> 100L))
    val plan = out.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("bloom decontamination gates the train gram scan WITHOUT a ScalaUDF") {
    val train = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val eval = train.where($"doc_id" < 10)
    val clean = graft.pipeline.Dedup.decontaminateBloom(train, eval)
    val plan = clean.queryExecution.executedPlan.toString
    // the prune must be the NATIVE might_contain expression inside
    // codegen, never an interpreted Scala UDF on the 100 TB-side scan
    assert(!plan.contains("ScalaUDF"), s"ScalaUDF in bloom plan:\n$plan")
    assert(plan.contains("might_contain"),
      s"native bloom prune missing in:\n$plan")
    // same output as the exact path (bit-identical contract)
    val exact = graft.pipeline.Dedup.decontaminate(train, eval)
    assert(clean.select("doc_id").except(exact.select("doc_id")).isEmpty &&
      exact.select("doc_id").except(clean.select("doc_id")).isEmpty)
  }

  test("perceptual near-dup: no blob ever rides a shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.BinaryType
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val ids = spark.range(0, 40).select($"id".as("doc_id"))
    val media = graft.pipeline.Multimodal.attachSmoothImages(ids)
    // media blobs dominate row size at 100 TB — every exchange after the
    // signature kernel must carry (id, sig)-shaped rows, never payload
    val pairs = graft.pipeline.Multimodal.imageNearDups(media)
    val binaryShuffles = pairs.queryExecution.executedPlan.collect {
      case x: ShuffleExchangeExec
          if x.output.exists(_.dataType == BinaryType) => x
    }
    // the one allowed exception is the spreadIds round-robin BEFORE the
    // encode kernel, which shuffles bare 8-byte ids — assert no shuffled
    // row carries a binary column at all, which covers both stages
    assert(binaryShuffles.isEmpty,
      s"blob column in a shuffle:\n${binaryShuffles.map(_.output)}")
  }

  test("incremental winnow fingerprints only the increment (one kernel in plan)") {
    // the store side must be a parquet scan of (doc_id, fp) — a second
    // winnow_select in the plan would mean the stored corpus is being
    // re-fingerprinted, breaking the O(increment) store protocol
    val out = SparkEntry.queries("q_winnow_incr")(spark, sf())
    val plan = out.queryExecution.executedPlan.toString
    val kernels = "winnow_select".r.findAllIn(plan).size
    assert(kernels == 1, s"expected exactly 1 winnow kernel, got $kernels:\n$plan")
  }

  test("curation pipeline: document text never rides a shuffle — gate is aggregate-only") {
    // the quantile gate folds its rank into a (lang, quality) count
    // aggregate (quantileSelectByValue): its shuffles carry NARROW
    // value-count rows. The budget-mix window derives n_tokens BEFORE
    // its exchange, so with the rank window gone the pipeline moves
    // document text across the wire ZERO times (the r9 form sorted
    // text-heavy rows per stratum and reused that exchange for the
    // mix — strictly more text movement than none).
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // AQE wraps the plan and hides exchanges from collect() until
    // execution — turn it off for the shape assertion
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val out = SparkEntry.queries("q_pipeline_curation")(spark, sf())
      val shuffles = out.queryExecution.executedPlan.collect {
        case x: ShuffleExchangeExec => x
      }
      assert(shuffles.nonEmpty, "expected the narrow aggregate/window exchanges")
      val textEx = shuffles.filter(_.output.exists(_.name == "text"))
      assert(textEx.isEmpty,
        s"document text rides a shuffle:\n${textEx.map(_.output).mkString("\n")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("phrase search over the persisted index scans the store, never rebuilds") {
    val out = SparkEntry.queries("q_postings_incr")(spark, sf())
    val plan = out.queryExecution.executedPlan.toString
    // the input is the persisted index's parquet files — the documents
    // table is never read and no tokenizer (split/posexplode Generate)
    // appears anywhere in the plan: append ≡ maintained index, served
    assert(plan.contains("postings_index"),
      s"expected a scan of the postings store:\n$plan")
    assert(!plan.contains("documents.parquet"),
      s"corpus re-read behind the index's back:\n$plan")
    assert(!plan.contains("posexplode"),
      s"index rebuilt (tokenizer in plan):\n$plan")
    // the phrase's token probe reaches the store scan as a pushed filter
    assert(plan.contains("PushedFilters: [In(token"),
      s"token probe not pushed to the index scan:\n$plan")
  }

  test("index-served BM25 reads only the store and matches the scan path") {
    val byIndex = SparkEntry.queries("q_bm25_index")(spark, sf())
    val plan = byIndex.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet") && !plan.contains("posexplode"),
      s"document text read on the serving path:\n$plan")
    assert(plan.contains("PushedFilters: [In(token"),
      s"term probe not pushed to the postings scan:\n$plan")
    val byScan = SparkEntry.queries("q_bm25_topk")(spark, sf())
    val a = byIndex.collect().map(_.toSeq).toSet
    val b = byScan.collect().map(_.toSeq).toSet
    assert(a == b, "index-served BM25 diverged from the corpus-scan path")
  }

  test("index-served BM25 executes ONE postings scan, single query and batch") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object Plans extends AdaptiveSparkPlanHelper
    // the per-doc term frequencies feed both the df row and the scoring
    // join; the executed plan must reuse their shuffle, not scan twice
    for (q <- Seq("q_bm25_index", "q_bm25_multi")) {
      val out = SparkEntry.queries(q)(spark, sf())
      out.collect()
      val scans = Plans.collectWithSubqueries(out.queryExecution.executedPlan) {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.getName == "postings") => s
      }
      assert(scans.size == 1,
        s"$q: ${scans.size} postings scans in\n${out.queryExecution.executedPlan}")
    }
  }

  test("batch BM25 pushes the union of the batch's terms into one scan") {
    val out = SparkEntry.queries("q_bm25_multi")(spark, sf())
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet") && !plan.contains("posexplode"),
      s"batch serving read document text:\n$plan")
    // one pruned scan carries every query's terms
    assert(plan.contains("PushedFilters: [In(token"),
      s"term-union probe not pushed:\n$plan")
    Seq("the", "of", "data", "table", "value").foreach(t =>
      assert(plan.contains(t), s"term $t missing from the pushed probe"))
  }

  test("store-served hybrid RRF reads only the indexes — no text, no unprobed vectors") {
    val out = SparkEntry.queries("q_hybrid_rrf_store")(spark, sf())
    val plan = out.queryExecution.executedPlan.toString
    // lexical leg: postings store only — no corpus re-read, no tokenizer,
    // term probe pushed into the pruned scan
    assert(!plan.contains("documents.parquet") && !plan.contains("posexplode"),
      s"document text read on the hybrid serving path:\n$plan")
    assert(plan.contains("postings_index"),
      s"expected the postings store scan:\n$plan")
    assert(plan.contains("PushedFilters: [In(token"),
      s"term probe not pushed to the postings scan:\n$plan")
    // semantic leg: the persisted IVF store's int8 cells, probed —
    // the candidate join keys on cell_id (only probed cells' members
    // flow), and raw float vectors enter ONLY through the survivors'
    // re-rank fetch, never a corpus-wide cosine
    assert(plan.contains("ann_index"),
      s"expected the persisted ANN store scan:\n$plan")
    assert(plan.contains("cell_id"),
      s"cell-probe join missing — vector leg degenerated to a full scan:\n$plan")
    // the exactness twin q_hybrid_rrf is the only place a brute-force
    // corpus cosine is allowed; here every cosine input is id-joined
    val bruteCross = plan.linesIterator.count(l =>
      l.contains("CartesianProduct") || l.contains("BroadcastNestedLoopJoin"))
    // probeCells' query×centroid crossJoin (codebook-sized) and the
    // 1-row corpus-stats scalar are the only legitimate nested-loop
    // joins; a corpus×query product would appear as an extra one
    assert(bruteCross <= 2,
      s"unexpected corpus-wide nested-loop join on the store path:\n$plan")
  }

  test("search flagship serves entirely from stores — document text never read") {
    // BM25 ranks, the phrase-audit flag and the length norms all come
    // from the postings store; only the ANN leg touches embeddings.
    // If documents.parquet appears, some stage regressed to a corpus scan.
    val out = SparkEntry.queries("q_pipeline_search")(spark, sf())
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet") && !plan.contains("posexplode"),
      s"search flagship re-read the corpus:\n$plan")
    assert(plan.contains("postings_index"),
      s"expected the postings store scan:\n$plan")
  }

  test("incremental CDC chunks only the increment (one kernel in plan)") {
    // count GENERATE sites, not textual mentions — ExtractGenerator
    // materializes the kernel into a child Project, so the single
    // evaluation legitimately prints twice
    val out = SparkEntry.queries("q_cdc_incr")(spark, sf())
    val plan = out.queryExecution.executedPlan.toString
    val kernels = plan.linesIterator
      .count(l => l.contains("Generate") && l.contains("cdc_chunks"))
    assert(kernels == 1, s"expected exactly 1 cdc Generate, got $kernels:\n$plan")
  }

  test("LSH decontamination: band shuffles carry ids only, never vectors") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    val eval = e.where($"id" < 10)
      .select(($"id" + 5000000L).as("id"), $"vec")
    // AQE off + broadcast threshold -1 = the plan the too-big-to-
    // broadcast eval store regime would get — exactly the regime this
    // variant exists for
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = graft.pipeline.Semantic
        .semanticDecontaminateLsh(e, eval, cosineThreshold = 0.99)
      val exchanges = out.queryExecution.executedPlan.collect {
        case x: ShuffleExchangeExec => x
      }
      val band = exchanges.filter(
        _.outputPartitioning.toString.contains("bucket"))
      assert(band.nonEmpty, "expected a (table, bucket) band shuffle")
      for (x <- band)
        assert(!x.output.exists(_.dataType.isInstanceOf[ArrayType]),
          s"vector column in the band shuffle: ${x.output}")
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("contamination report: text never rides a shuffle (grams are longs)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val d = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val out = graft.pipeline.Dedup.contaminationReport(
      d, d.where($"doc_id" < 50), maxGramDf = 100)
    // both corpora reduce to (id, gram-hash) longs inside the kernel
    // scan; every exchange after it — pair join, df cap, totals —
    // must be long-shaped, never document text
    val stringShuffles = out.queryExecution.executedPlan.collect {
      case x: ShuffleExchangeExec
          if x.output.exists(_.dataType == StringType) => x
    }
    assert(stringShuffles.isEmpty,
      s"text column in a shuffle:\n${stringShuffles.map(_.output)}")
  }

  test("web pipeline: document text never rides the host-cap window shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // host cardinality bounds the per-host cap window's parallelism, so
    // wide rows through those few partitions is the shape to avoid: the
    // pipeline must project (id, host, len, md5) BEFORE the cap (the
    // 10× probe measured 5.9× → 3.3× from exactly this change). Guard:
    // no shuffled row carries a string column wider than the md5/host
    // columns — i.e. no `clean`/`html`/`text`-named output anywhere in
    // an exchange.
    val out = SparkEntry.queries("q_pipeline_web")(spark, sf())
    val wide = out.queryExecution.executedPlan.collect {
      case x: ShuffleExchangeExec if x.output.exists(a =>
        Set("clean", "html", "text", "url").contains(a.name)) => x
    }
    assert(wide.isEmpty,
      s"document-sized column in a shuffle:\n${wide.map(_.output)}")
  }

  test("ANN serving pushes the probed cells into the store scan as a literal In") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // the probes frame is queries × nProbe (driver-sized by
    // construction), so its distinct cell ids become a LITERAL isin on
    // the cells/codes scan — pushed to parquet, where the
    // cell_id-clustered layout's footer stats skip unprobed row groups.
    // Without it the scan reads the whole coded tier and filters in the
    // join (seek-then-scan, never scan-then-filter — ScnIndex.java:623)
    for (q <- Seq("q_ann_store", "q_ann_ivfpq")) {
      val out = SparkEntry.queries(q)(spark, sf())
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("In(cell_id")),
        s"$q: probed-cell literal not pushed to the store scan:\n$plan")
    }
    // float-precision IVF store path (no driver query of its own), plus
    // the RUNTIME proof: rows flowing out of the int8 cells scan are
    // probed-cells-sized, not store-sized
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the k=16 organic store with FEW queries: 3 queries × nProbe=2
      // probe ≤ 6 of 16 cells, so the literal must leave most of the
      // tier out of the scan's output (many queries × a tiny codebook
      // legitimately probes everything — that is the one case pruning
      // cannot help, not a counterexample)
      val store =
        graft.sources.WireFixtures.annOrganicIndexDir(spark, sf())
      val all = spark.read.parquet(s"${sf()}/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val fl = graft.pipeline.Ann.ivfTopKFromStore(
        all.where(col("id") < 3), all, store, k = 5, nProbe = 2)
      val flPlan = fl.queryExecution.executedPlan.toString
      assert(flPlan.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("In(cell_id")),
        s"ivfTopKFromStore: probed-cell literal not pushed:\n$flPlan")
      val served = graft.pipeline.Ann.ivfQuantizedTopKFromStore(
        all.where(col("id") < 3), all, store, k = 5, nProbe = 2)
      served.collect()
      val cellScans = served.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec if s.output.exists(_.name == "q") => s
      }
      assert(cellScans.nonEmpty, "expected the int8 cells scan")
      val scanned = cellScans.map(_.metrics("numOutputRows").value).sum
      val storeRows = spark.read.parquet(
        s"${graft.pipeline.VersionedStore.tableRoot(store)}/cells").count()
      assert(scanned < storeRows / 2,
        s"cells scan emitted $scanned of $storeRows rows — the probed" +
          " cells' literal pruned nothing")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("batch-regime ANN serving shuffles the probe join — no literal," +
      " no driver collect in the plan") {
    // ivfQuantizedTopKFromStoreBatch is the corpus-sized-query regime:
    // its plan identity is the ABSENCE of the request-sized path's
    // driver materialization — no probed-cell literal on the cells scan
    // (the tier scan is the stated trade) and no LocalRelation probe
    // frame (nothing was collected); the probe side reaches the cells
    // join through an exchange, not a driver-shipped broadcast of
    // collected rows
    val store =
      graft.sources.WireFixtures.annOrganicIndexDir(spark, sf())
    val pqStore =
      graft.sources.WireFixtures.ivfPqOrganicIndexDir(spark, sf())
    val all = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    // ALL THREE families' batch regimes carry the same plan identity
    // (batch parity, round 15): int8 IVF, raw IVF, IVF-PQ
    val regimes = Seq(
      ("ivfQuantizedTopKFromStoreBatch",
        graft.pipeline.Ann.ivfQuantizedTopKFromStoreBatch(
          all, all, store, k = 5, nProbe = 2)),
      ("ivfTopKFromStoreBatch",
        graft.pipeline.Ann.ivfTopKFromStoreBatch(
          all, all, store, k = 5, nProbe = 2)),
      ("ivfPqTopKFromStoreBatch",
        graft.pipeline.Ann.ivfPqTopKFromStoreBatch(
          all, all, pqStore, k = 5, nProbe = 2)))
    regimes.foreach { case (name, served) =>
      val plan = served.queryExecution.executedPlan.toString
      assert(!plan.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("In(cell_id")),
        s"$name must not carry the probed-cell literal:\n$plan")
      assert(!plan.contains("LocalTableScan") &&
        !plan.contains("LocalRelation"),
        s"$name must not materialize probes on the driver:\n$plan")
    }
  }
}
