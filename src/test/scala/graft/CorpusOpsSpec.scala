package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, LangModel, Lines, Retrieval}

/** Corpus-curation operators added in round 7: line-level boilerplate
  * removal, bigram-LM NLL scoring (in-session + persisted store),
  * leakage-free splits, BM25, NFC normalization. */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- line-level boilerplate removal ----

  private def corpusWithBoilerplate = Seq(
    (0L, "alpha body zero\nSUBSCRIBE NOW\nunique zero"),
    (1L, "beta body one\nSUBSCRIBE NOW\nunique one"),
    (2L, "gamma body two\nSUBSCRIBE NOW"),
    (3L, "delta body three\nrare line"),
    (4L, "SUBSCRIBE NOW"), // all-boilerplate doc
    (5L, "epsilon body five\n\nafter blank")).toDF("doc_id", "text")

  test("stripFrequentLines drops frequent lines, keeps order and rare lines") {
    val out = Lines.stripFrequentLines(corpusWithBoilerplate, shareBp = 5000)
      .collect().map(r => r.getLong(0) -> r).toMap
    // "SUBSCRIBE NOW" is in 4/6 docs (67% >= 50%): stripped everywhere
    assert(out(0L).getString(1) === "alpha body zero\nunique zero")
    assert(out(1L).getString(1) === "beta body one\nunique one")
    assert(out(2L).getString(1) === "gamma body two")
    // rare line survives
    assert(out(3L).getString(1) === "delta body three\nrare line")
    // all-boilerplate doc survives as an empty husk, not a dropped row
    assert(out(4L).getString(1) === "")
    assert(out(4L).getLong(2) === 0L && out(4L).getLong(3) === 1L)
    // blank lines are structure, not boilerplate: never stripped even
    // though "" appears in >50% of docs implicitly via the blank row
    assert(out(5L).getString(1) === "epsilon body five\n\nafter blank")
    // counts reconcile
    assert(out(0L).getLong(2) === 2L && out(0L).getLong(3) === 1L)
  }

  test("stripFrequentLines: NULL-text docs survive and count in the share") {
    // split(NULL) is NULL and posexplode(NULL) yields zero rows — without
    // the coalesce a NULL-text doc would vanish from the output AND from
    // the share-threshold denominator (shifting which lines qualify)
    val df = Seq(
      (0L, "common\nown zero"), (1L, "common\nown one"),
      (2L, "common"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    // denominator must be 4 (the NULL doc counts): 3/4 = 75% ≥ 70%
    // qualifies; were the NULL doc dropped, 3/3 would qualify at any bp
    val out = Lines.stripFrequentLines(df, shareBp = 7000)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    assert(out.keySet === Set(0L, 1L, 2L, 3L))
    assert(out(0L) === (("own zero", 1L)))
    assert(out(2L) === (("", 1L)))
    assert(out(3L) === (("", 0L))) // empty husk, nothing dropped
    // at 80% the line is below threshold ONLY because the NULL doc is
    // in the denominator (3/4 < 80%; 3/3 would pass)
    assert(Lines.frequentLines(df, shareBp = 8000).count() === 0L)
  }

  test("frequentLines threshold is exact integer share, per-doc counted") {
    // a line repeated 10x INSIDE one doc of 4 must not qualify at 50%
    val df = Seq(
      (0L, Seq.fill(10)("spam line").mkString("\n")),
      (1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    assert(Lines.frequentLines(df, shareBp = 5000).count() === 0L)
    // in 2 of 4 docs (exactly 50%): >= comparison admits it
    val df2 = Seq((0L, "spam line"), (1L, "spam line"), (2L, "b"), (3L, "c"))
      .toDF("doc_id", "text")
    assert(Lines.frequentLines(df2, shareBp = 5000).as[(String, Long)]
      .collect().toSeq === Seq(("spam line", 2L)))
  }

  test("collapseRepeatedLines: uniq rule, blank runs, interleaved repeats") {
    val docs = Seq(
      (0L, "a\na\na\nb\na"),   // run collapses, later recurrence kept
      (1L, "x\n\n\n\ny"),      // blank run -> one blank
      (2L, "solo"),
      (3L, "s\ns")).toDF("doc_id", "text")
    val out = Lines.collapseRepeatedLines(docs)
      .as[(Long, String, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(0L) === (("a\nb\na", 2L)))
    assert(out(1L) === (("x\n\ny", 2L)))
    assert(out(2L) === (("solo", 0L)))
    assert(out(3L) === (("s", 1L)))
  }

  // ---- bigram LM scoring ----

  test("scoreNll: closed-form bigram NLL on a tiny corpus") {
    val train = Seq((0L, "a b a b"), (1L, "a b c")).toDF("doc_id", "text")
    val model = LangModel.train(train)
    // counts: uni a=3 b=3 c=1, V=3; bi (a,b)=3 (b,a)=1 (b,c)=1
    // doc "a b": one term log2((3+3)/(3+1)) = log2(1.5)
    val out = LangModel.scoreNll(model, Seq((7L, "a b")).toDF("doc_id", "text"))
      .as[(Long, Long, Long)].head()
    val expected = math.floor(
      math.log(1.5) / math.log(2.0) * 10000.0 + 1e-6).toLong
    assert(out === ((7L, 1L, expected)))
    // unseen bigram with seen context: (c,a): log2((1+3)/(0+1)) = 2.0
    // exactly — the power-of-two case the +1e-6 nudge protects
    val unseen = LangModel.scoreNll(model,
      Seq((8L, "c a")).toDF("doc_id", "text")).as[(Long, Long, Long)].head()
    assert(unseen === ((8L, 1L, 20000L)))
    // fully unseen context backs off to log2((0+V)/(0+1)) = log2 3
    val oov = LangModel.scoreNll(model,
      Seq((9L, "z q")).toDF("doc_id", "text")).as[(Long, Long, Long)].head()
    val exp3 = math.floor(
      math.log(3.0) / math.log(2.0) * 10000.0 + 1e-6).toLong
    assert(oov === ((9L, 1L, exp3)))
  }

  test("scoreNll: short docs score (0,0); OOV soup scores exactly uniform 1/V") {
    val d = sf() // sf0.001 documents
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "text")
    val model = LangModel.train(docs)
    val realText = docs.orderBy("doc_id").select("text").as[String].head()
    val probe = Seq(
      (1000001L, "x"), // single token: no bigram
      (1000002L, ""),
      (1000003L, realText),
      (1000004L, Seq.fill(30)("zzqq wwxx").mkString(" "))
    ).toDF("doc_id", "text")
    val out = LangModel.scoreNll(model, probe)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(1000001L) === ((0L, 0L)) && out(1000002L) === ((0L, 0L)))
    val real = out(1000003L); val gibberish = out(1000004L)
    assert(real._1 > 0L && real._2 > 0L)
    // every OOV-context term backs off to EXACTLY the uniform 1/V:
    // 59 terms x floor(log2(V) * 1e4 + 1e-6), V read from the model
    val v = model.vocab.as[Long].head()
    val perTerm = math.floor(
      math.log(v.toDouble) / math.log(2.0) * 10000.0 + 1e-6).toLong
    assert(gibberish === ((59L, 59L * perTerm)), s"V=$v gibberish=$gibberish")
  }

  // ---- LM model store ----

  test("LangModel save/load roundtrip scores identically to the in-session model") {
    val train = Seq((0L, "a b a b c"), (1L, "b c a")).toDF("doc_id", "text")
    val probe = Seq((5L, "a b c"), (6L, "z a b")).toDF("doc_id", "text")
    val mem = LangModel.train(train)
    val dir = java.nio.file.Files.createTempDirectory("lmstore").toString
    LangModel.save(mem, dir)
    val loaded = LangModel.load(spark, dir)
    val a = LangModel.scoreNll(mem, probe).as[(Long, Long, Long)].collect().toSet
    val b = LangModel.scoreNll(loaded, probe).as[(Long, Long, Long)].collect().toSet
    assert(a === b && a.nonEmpty)
  }

  // ---- NFC normalization expression ----

  test("nfc_normalize composes combining sequences; codegen, SQL and null paths") {
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(
      (0L, "cafe\u0301"), // e + combining acute -> U+00E9
      (1L, "plain ascii"),
      (2L, "A\u030a"), // A + combining ring -> U+00C5
      (3L, null.asInstanceOf[String])).toDF("id", "s")
    val out = df.selectExpr("id", "nfc_normalize(s) AS n")
      .as[(Long, Option[String])].collect().toMap
    assert(out(0L) === Some("caf\u00e9"))
    assert(out(1L) === Some("plain ascii"))
    assert(out(2L) === Some("\u00c5"))
    assert(out(3L) === None)
    // column surface matches, and length shrinks by the composed mark
    val viaCol = df.where(col("id") === 0L)
      .select(graft.functions.GraftFunctions.nfc_normalize(col("s")))
      .as[String].head()
    assert(viaCol === "caf\u00e9" && viaCol.length === 4)
    // idempotent (already-NFC input returns unchanged)
    assert(graft.functions.NormalizeNfc.nfc("caf\u00e9") === "caf\u00e9")
  }

  // ---- leakage-free split ----

  test("leakageFreeSplit: clusters never straddle the split; singletons hash by id") {
    val docs = spark.range(0, 2000).toDF("doc_id")
    // chain 0-1-2 plus pair (10,11): transitive closure must hold 0,1,2
    // together even though (0,2) is not an edge
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Dedup.leakageFreeSplit(docs, pairs, testBp = 3000, salt = 5L)
      .as[(Long, Long, String)].collect()
    val byId = out.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out.length === 2000)
    assert(Set(byId(0L), byId(1L), byId(2L)).size === 1, "chain split apart")
    assert(byId(10L) === byId(11L))
    assert(byId(0L)._1 === 0L && byId(10L)._1 === 10L)
    // singleton share lands near the nominal 30%
    val nTest = out.count(_._3 == "test")
    assert(math.abs(nTest - 600) < 120, s"test share off: $nTest/2000")
    // determinism + salt sensitivity
    val again = Dedup.leakageFreeSplit(docs, pairs, testBp = 3000, salt = 5L)
      .as[(Long, Long, String)].collect().toSet
    assert(again === out.toSet)
    val other = Dedup.leakageFreeSplit(docs, pairs, testBp = 3000, salt = 6L)
      .where(col("split") === "test").count()
    assert(other != nTest.toLong || {
      // same count can coincide; membership must differ
      Dedup.leakageFreeSplit(docs, pairs, testBp = 3000, salt = 6L)
        .where(col("split") === "test").as[(Long, Long, String)]
        .collect().toSet != out.filter(_._3 == "test").toSet
    })
  }

  // ---- quality tertiles ----

  test("quantileBuckets: exact band membership, ties share a bucket") {
    import graft.pipeline.Weighting
    // 9 rows in one stratum, scores 0..8: tertiles split 3/3/3
    val df = (0 until 9).map(i => (i.toLong, "x", i.toDouble))
      .toDF("doc_id", "lang", "score")
    val out = Weighting.quantileBuckets(df, "score", "lang",
        cutsBp = Seq(3333, 6666), labels = Seq("tail", "middle", "head"))
      .select("doc_id", "bucket").as[(Long, String)].collect().toMap
    assert((0L to 2L).forall(out(_) == "tail"))
    assert((3L to 5L).forall(out(_) == "middle"))
    assert((6L to 8L).forall(out(_) == "head"))
    // all-tied scores: rank ties put every row in the FIRST band
    val tied = (0 until 6).map(i => (i.toLong, "x", 1.0))
      .toDF("doc_id", "lang", "score")
    val tb = Weighting.quantileBuckets(tied, "score", "lang",
        Seq(5000), Seq("lo", "hi"))
      .select("bucket").as[String].collect().toSet
    assert(tb === Set("lo"))
  }

  // ---- character entropy ----

  test("charEntropyE4: closed forms — uniform, degenerate, 2/3-1/3 mix") {
    import graft.functions.{TextFunctions => TF2}
    val df = Seq(
      (0L, "abcd"),     // uniform over 4: H = 2 exactly
      (1L, "aaaa"),     // degenerate: H = 0
      (2L, "aab"),      // H = log2(3) - 2/3
      (3L, "")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TF2.charEntropyE4(col("text")).as("e"))
      .as[(Long, Long)].collect().toMap
    assert(out(0L) === 20000L) // the power-of-2 case the nudge protects
    assert(out(1L) === 0L)
    val h = math.log(3.0) / math.log(2.0) -
      2.0 * (math.log(2.0) / math.log(2.0)) / 3.0
    assert(out(2L) === math.floor(h * 10000.0 + 1e-6).toLong)
    assert(out(3L) === 0L)
    // ordering property: random-ish text scores above repetitive text
    val sig = Seq((10L, "the cat sat on the mat today"),
      (11L, "spam spam spam spam spam spam"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TF2.charEntropyE4(col("text")).as("e"))
      .as[(Long, Long)].collect().toMap
    assert(sig(10L) > sig(11L))
    // the native kernel and the interpreted fold form are value-identical
    // over the real corpus (independent derivations of the same identity)
    val d = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val mismatch = d.select(
        TF2.charEntropyE4(col("text")).as("a"),
        TF2.charEntropyE4Fold(col("text")).as("b"))
      .where(col("a") =!= col("b")).count()
    assert(mismatch === 0L)
  }

  // ---- sharded export ----

  test("writeShards: one file per shard, content-preserving, deterministic") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val docs = spark.range(0, 500)
      .select(col("id").as("doc_id"),
        concat(lit("tok tok doc "), col("id").cast("string")).as("text"))
    val root = java.nio.file.Files.createTempDirectory("exp").toString
    val man = graft.pipeline.Export.writeShards(docs, s"$root/d", numShards = 4)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(man.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(man.map(_._2).sum === 500L)
    // exactly one data file per shard directory
    (0 until 4).foreach { sh =>
      val files = new java.io.File(s"$root/d/shard=$sh")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"shard $sh has ${files.length} files")
    }
    // roundtrip preserves every row
    val back = spark.read.parquet(s"$root/d").select("doc_id", "text")
      .as[(Long, String)].collect().toSet
    assert(back === docs.as[(Long, String)].collect().toSet)
    // same salt -> identical assignment on a rewrite
    val man2 = graft.pipeline.Export.writeShards(docs, s"$root/e", numShards = 4)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(man2.toSeq === man.toSeq)
  }

  // ---- priority keep-one ----

  test("keepOneByPriority: priority beats id; ties fall back to id; singletons kept") {
    val docs = Seq(
      (1L, 2L), (2L, 0L),        // cluster {1,2}: 2 wins on priority
      (10L, 1L), (11L, 1L),      // cluster {10,11}: tie -> lowest id 10
      (20L, 5L),                 // singleton: kept regardless of priority
      (30L, 0L), (31L, 1L), (32L, 2L) // chain cluster {30,31,32}: 30 wins
    ).toDF("doc_id", "prio")
    val pairs = Seq((1L, 2L), (10L, 11L), (30L, 31L), (31L, 32L))
      .toDF("id_a", "id_b")
    val kept = graft.pipeline.Dedup.keepOneByPriority(docs, pairs, "prio")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L, 10L, 20L, 30L))
    // priority-free keepOne would have kept 1L, not 2L
    val minId = graft.pipeline.Dedup.keepOnePerComponent(docs, pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(minId.contains(1L) && !minId.contains(2L))
  }

  test("leakageFreeSplit3: test membership is stable when valBp grows") {
    val docs = spark.range(0, 3000).toDF("doc_id")
    val pairs = Seq((0L, 1L), (5L, 6L)).toDF("id_a", "id_b")
    def splitOf(valBp: Int) =
      Dedup.leakageFreeSplit3(docs, pairs, valBp = valBp, testBp = 2500,
        salt = 9L).as[(Long, Long, String)].collect()
        .map(t => t._1 -> t._3).toMap
    val two = splitOf(0); val three = splitOf(1500)
    // the test set is IDENTICAL — growing val only eats into train
    assert(two.filter(_._2 == "test") === three.filter(_._2 == "test"))
    assert(two.count(_._2 == "val") === 0)
    val v = three.count(_._2 == "val")
    assert(math.abs(v - 450) < 120, s"val share off: $v/3000")
    assert(three.values.toSet === Set("train", "val", "test"))
  }

  // ---- BM25 ----

  test("bm25: closed-form score on a tiny corpus") {
    val docs = Seq(
      (0L, "apple banana apple"),
      (1L, "banana cherry"),
      (2L, "cherry cherry cherry cherry")).toDF("doc_id", "text")
    val out = Retrieval.bm25(docs, Seq("apple", "cherry"))
      .as[(Long, Long, Long)].collect().map(t => t._1 -> t._3).toMap
    // N=3, sumdl=9, avgdl=3; df(apple)=1, df(cherry)=2
    def idf(dfT: Double) = math.log((3.0 - dfT + 0.5) / (dfT + 0.5) + 1.0)
    def comp(tf: Double, dl: Double, dfT: Double) =
      idf(dfT) * ((tf * (1.2 + 1.0)) /
        (tf + 1.2 * ((1.0 - 0.75) + 0.75 * (dl / 3.0))))
    def e4(x: Double) = math.floor(x * 10000.0 + 1e-6).toLong
    assert(out(0L) === e4(comp(2.0, 3.0, 1.0)) + 0L) // apple only
    assert(out(1L) === e4(comp(1.0, 2.0, 2.0)))      // cherry only
    assert(out(2L) === e4(comp(4.0, 4.0, 2.0)))
    // absent terms contribute exactly 0, never a negative floor
    val zero = Retrieval.bm25(docs, Seq("durian"))
      .as[(Long, Long, Long)].collect()
    assert(zero.forall(_._3 === 0L))
  }

  test("postings: true df, ascending capped ids, tf alignment") {
    val docs = Seq(
      (3L, "a b a"),
      (1L, "a c"),
      (2L, "a"),
      (4L, "a b")).toDF("doc_id", "text")
    val out = Retrieval.postings(docs, maxPostings = 2)
      .as[(String, Long, Seq[Long], Seq[Long])].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    // "a" in all 4 docs: TRUE df 4, capped to lowest 2 ids; tf aligned
    assert(out("a") === ((4L, Seq(1L, 2L), Seq(1L, 1L))))
    // doc 3 has tf("a")=2 but id 3 is cut by the cap; "b" keeps it
    assert(out("b") === ((2L, Seq(3L, 4L), Seq(1L, 1L))))
    assert(out("c") === ((1L, Seq(1L), Seq(1L))))
    // truncation is detectable: list holds min(n_docs, cap) entries, so
    // n_docs > maxPostings iff the list was capped
    assert(out.forall { case (_, (n, ids, tfs)) =>
      ids.length == tfs.length && ids.length == math.min(n, 2L).toInt })
  }

  test("bm25 ranks the term-dense short doc above the diluted long one") {
    val docs = Seq(
      (0L, "spark spark"),
      (1L, "spark " + Seq.fill(50)("filler").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Retrieval.bm25(docs, Seq("spark"))
      .as[(Long, Long, Long)].collect().map(t => t._1 -> t._3).toMap
    assert(out(0L) > out(1L))
  }

  // ---- JSONL sharded export ----

  test("JSONL export roundtrips exactly, one file per deterministic shard") {
    import graft.pipeline.{Export, Sampling}
    val docs = (0L until 40L)
      .map(i => (i, s"lang${i % 3}", s"words of doc $i"))
      .toDF("doc_id", "lang", "text")
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString
    Export.writeJsonlShards(docs, s"$dir/d", numShards = 4, salt = 7L)
    val back = Export.readJsonl(spark, s"$dir/d",
      "doc_id BIGINT, lang STRING, text STRING")
    // roundtrip identity on content columns
    val content = back.select("doc_id", "lang", "text")
    assert(content.exceptAll(docs).isEmpty && docs.exceptAll(content).isEmpty)
    // the shard partition column re-derives from the id hash alone
    val bad = back.where(col("shard").cast("long") =!=
      pmod(Sampling.minstd(col("doc_id"), 7L), lit(4L)))
    assert(bad.isEmpty)
    // one .json file per shard — the small-files discipline
    val shardDirs = new java.io.File(s"$dir/d").listFiles
      .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
    assert(shardDirs.length == 4)
    shardDirs.foreach { sd =>
      assert(sd.listFiles.count(_.getName.endsWith(".json")) == 1,
        s"expected exactly one data file in ${sd.getName}")
    }
  }

  // ---- Naive Bayes classification ----

  import graft.pipeline.Classifier

  private def nbTrainSet = Seq(
    (1L, "good", "excellent wonderful superb writing clear prose"),
    (2L, "good", "wonderful excellent insightful clear structured"),
    (3L, "good", "superb excellent prose wonderful thoughtful"),
    (4L, "bad", "terrible awful spam garbage click here"),
    (5L, "bad", "awful terrible spam spam garbage"),
    (6L, "bad", "garbage awful spam terrible clickbait"))
    .toDF("doc_id", "label", "text")
  // token totals are balanced by construction: 16 per class (the
  // tie-break test depends on equal n_toks AND equal n_docs)

  test("NB classifier separates planted classes on held-out docs") {
    val model = Classifier.train(nbTrainSet)
    val test = Seq(
      (10L, "excellent wonderful clear"),
      (11L, "spam garbage terrible"),
      (12L, "superb prose insightful"),
      (13L, "awful clickbait nonsense"))
      .toDF("doc_id", "text")
    val pred = Classifier.classify(model, test)
      .select("doc_id", "label").as[(Long, String)].collect().toMap
    assert(pred(10L) === "good" && pred(12L) === "good")
    assert(pred(11L) === "bad" && pred(13L) === "bad")
  }

  test("NB: saved model classifies identically to the in-session model") {
    val model = Classifier.train(nbTrainSet)
    val dir = java.nio.file.Files.createTempDirectory("nb").toString
    Classifier.save(model, dir)
    val loaded = Classifier.load(spark, dir)
    val test = Seq((20L, "excellent spam wonderful garbage"),
      (21L, "clear terrible")).toDF("doc_id", "text")
    val a = Classifier.classify(model, test).orderBy("doc_id").collect().toSeq
    val b = Classifier.classify(loaded, test).orderBy("doc_id").collect().toSeq
    assert(a === b)
  }

  test("NB: class-balanced priors tie-break deterministically") {
    // token unseen in both classes: per-token terms equal, priors equal
    // (3 docs each) → tie broken to the lexicographically smaller label
    val model = Classifier.train(nbTrainSet)
    val pred = Classifier.classify(model,
        Seq((30L, "zzzunseen")).toDF("doc_id", "text"))
      .select("label").as[String].head()
    assert(pred === "bad") // "bad" < "good"
  }

  test("phraseSearch: starts, counts, duplicate-token phrases, no match") {
    val docs = Seq(
      (0L, "a b c a b c"),   // "a b" at 0, 3; "b c" at 1, 4
      (1L, "b a b a"),       // "a b" at 1
      (2L, "c c c"),         // "c c" at 0, 1 (overlap allowed)
      (3L, "a x b")).toDF("doc_id", "text")
    val idx = Retrieval.positionalPostings(docs)
    // the index is exhaustive and 0-based
    assert(idx.count() === 6 + 4 + 3 + 3)
    def run(p: String*): Map[Long, (Long, Long)] =
      Retrieval.phraseSearch(idx, p)
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(run("a", "b") === Map(0L -> ((2L, 0L)), 1L -> ((1L, 1L))))
    assert(run("b", "c") === Map(0L -> ((2L, 1L))))
    // duplicate token in the phrase: a single occurrence must not
    // double-vote — "c c" matches only where BOTH slots are filled
    assert(run("c", "c") === Map(2L -> ((2L, 0L))))
    assert(run("a", "b", "c") === Map(0L -> ((2L, 0L))))
    // adjacency is required: doc 3 has a..b but not consecutively
    assert(run("a", "b").get(3L).isEmpty)
    assert(run("z").isEmpty)
    // single-token phrase = term lookup with positions
    assert(run("x") === Map(3L -> ((1L, 1L))))
  }

  test("proximitySearch: window membership, order-free, dup-term honesty") {
    val docs = Seq(
      (0L, "a x b"),     // a..b span 3 → window 3 yes, window 2 no
      (1L, "b x a"),     // order-free
      (2L, "a a"),       // one term twice must not look like two terms
      (3L, "a y y y b")).toDF("doc_id", "text") // span 5 > window 3
    val idx = Retrieval.positionalPostings(docs)
    def run(w: Int, terms: String*): Map[Long, (Long, Long)] =
      Retrieval.proximitySearch(idx, terms, w)
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(run(3, "a", "b") === Map(0L -> ((1L, 0L)), 1L -> ((1L, 0L))))
    assert(run(2, "a", "b") === Map.empty[Long, (Long, Long)])
    assert(run(5, "a", "b").keySet === Set(0L, 1L, 3L))
    // doc 2 has 'a' twice in one window — still only ONE distinct term
    assert(!run(2, "a", "b").contains(2L))
    // single-term proximity degenerates to windowed term lookup
    assert(run(2, "a")(2L) === ((2L, 0L))) // starts 0 and 1 both match
  }

  test("kwicSnippets: edge-clamped context windows around the first hit") {
    val docs = Seq((0L, "p q a b r s t u"), (1L, "a b x"), (2L, "no hit"))
      .toDF("doc_id", "text")
    val hits = Seq((0L, 2L), (1L, 0L)).toDF("doc_id", "first_pos")
    val got = Retrieval.kwicSnippets(docs, hits, phraseLen = 2, context = 2)
      .as[(Long, Long, String)].collect().map(r => r._1 -> r._3).toMap
    // interior hit: 2 tokens each side of the 2-token phrase
    assert(got(0L) === "p q a b r s")
    // left-edge hit: clamps to the doc start, right side clamps to len
    assert(got(1L) === "a b x")
    // only hit docs appear
    assert(got.keySet === Set(0L, 1L))
  }

  test("kwicProximity: window-span snippets at the first matching start") {
    import graft.pipeline.Retrieval
    val docs = Seq(
      (0L, "x a q q b y z w"), // first window start 1: "a q q b" (w=4)
      (1L, "b a t"), //            start 0, clamped both edges
      (2L, "a x x x x b") //       no 4-window holds both
    ).toDF("doc_id", "text")
    val hits = Retrieval.proximitySearch(
      Retrieval.positionalPostings(docs), Seq("a", "b"), window = 4)
    val got = Retrieval.kwicProximity(docs, hits, window = 4, context = 1)
      .as[(Long, Long, String)].collect()
      .map { case (id, fs, sn) => id -> ((fs, sn)) }.toMap
    assert(got(0L) == ((1L, "x a q q b y")))
    assert(got(1L) == ((0L, "b a t")))
    assert(!got.contains(2L))
  }

  test("postings index: append equals rebuild; doclens track the batches") {
    import graft.pipeline.Retrieval
    val dir = java.nio.file.Files.createTempDirectory("pidx").toString
    val base = Seq((0L, "a b a"), (1L, "b c")).toDF("doc_id", "text")
    val batch = Seq((2L, "c a b a"), (3L, "x")).toDF("doc_id", "text")
    Retrieval.writePostingsIndex(base, dir, numFiles = 2)
    Retrieval.appendToPostingsIndex(batch, dir)
    val all = base.unionByName(batch)
    // the incrementally-built index is row-identical to a from-scratch
    // full-corpus index — append is union, no merge logic to get wrong
    val got = Retrieval.readPostingsIndex(spark, dir)
      .as[(String, Long, Long)].collect().toSet
    val want = Retrieval.positionalPostings(all)
      .as[(String, Long, Long)].collect().toSet
    assert(got == want)
    assert(Retrieval.readDocLengths(spark, dir)
      .as[(Long, Long)].collect().toSet ==
      Set((0L, 3L), (1L, 2L), (2L, 4L), (3L, 1L)))
    // phrase + proximity served from the store match the direct path
    assert(Retrieval.phraseSearch(
        Retrieval.readPostingsIndex(spark, dir), Seq("a", "b"))
      .as[(Long, Long, Long)].collect().toSet ==
      Retrieval.phraseSearch(Retrieval.positionalPostings(all), Seq("a", "b"))
        .as[(Long, Long, Long)].collect().toSet)
  }

  test("rrfFuse: integer reciprocal contributions, absence contributes zero") {
    import graft.pipeline.Retrieval
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("doc_id", "rank")
    val b = Seq((2L, 1L), (4L, 2L)).toDF("doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(a, b), topK = 4)
      .as[(Long, Long, Long)].collect().toList
    // floor(1e8/61)=1639344, /62=1612903, /63=1587301; doc 2 appears in
    // both rankings and tops the fusion; docs absent from a ranking get
    // nothing from it
    assert(got == List(
      (2L, 1612903L + 1639344L, 1L),
      (1L, 1639344L, 2L),
      (4L, 1612903L, 3L),
      (3L, 1587301L, 4L)))
  }

  test("phraseSearchAll: one pass answers the whole suite, per-phrase exact") {
    import graft.pipeline.Retrieval
    val docs = Seq(
      (0L, "a b c a b"), (1L, "b a b"), (2L, "c c a")
    ).toDF("doc_id", "text")
    val post = Retrieval.positionalPostings(docs)
    val suite = Seq(Seq("a", "b"), Seq("c"), Seq("b", "a", "b"))
    val got = Retrieval.phraseSearchAll(post, suite)
      .as[(Long, Long, Long, Long)].collect().toSet
    // each phrase's rows equal its single-phrase derivation
    val want = suite.zipWithIndex.flatMap { case (p, pid) =>
      Retrieval.phraseSearch(post, p)
        .as[(Long, Long, Long)].collect()
        .map { case (d, n, f) => (pid.toLong, d, n, f) }
    }.toSet
    assert(got == want)
    // closed forms: "a b" hits docs 0 (x2, first 0) and 1 (x1, first 1);
    // "c" hits 0 (pos 2) and 2 (x2, pos 0); "b a b" hits doc 1 only
    assert(got == Set((0L, 0L, 2L, 0L), (0L, 1L, 1L, 1L),
      (1L, 0L, 1L, 2L), (1L, 2L, 2L, 0L), (2L, 1L, 1L, 0L)))
  }

  test("compactPostingsIndex: fewer files, identical rows, atomic layout") {
    import graft.pipeline.Retrieval
    val dir = java.nio.file.Files.createTempDirectory("pcmp").toString
    val d = (0L until 20L).map(i => (i, s"tok$i common x")).toDF("doc_id", "text")
    (0 until 5).foreach(i =>
      Retrieval.appendToPostingsIndex(d.where($"doc_id" % 5 === i), dir))
    // the append-born store is versioned: resolve the live generation
    def files() = new java.io.File(
        s"${graft.pipeline.VersionedStore.tableRoot(dir)}/postings")
      .listFiles().count(_.getName.startsWith("part-"))
    val before = files()
    assert(before >= 5, s"expected >=5 trickle files, got $before")
    val rows = Retrieval.readPostingsIndex(spark, dir)
      .as[(String, Long, Long)].collect().toSet
    Retrieval.compactPostingsIndex(spark, dir, numFiles = 2)
    assert(files() <= 2, s"compaction left ${files()} files")
    assert(Retrieval.readPostingsIndex(spark, dir)
      .as[(String, Long, Long)].collect().toSet == rows)
    assert(Retrieval.readDocLengths(spark, dir)
      .as[(Long, Long)].collect().toSet ==
      (0L until 20L).map(i => (i, 3L)).toSet)
  }

  test("bm25TopKFromIndex is bit-identical to bm25TopK, zero-score docs kept") {
    import graft.pipeline.Retrieval
    /** The index-served top-k of `docs` minus `takedowns`, asserted equal
      * (rank order) to bm25TopK over the live docs' text. */
    def same(docs: Seq[(Long, String)], takedowns: Seq[Long],
        terms: Seq[String], k: Int): Seq[(Long, Long, Long, Long)] = {
      val dir = java.nio.file.Files.createTempDirectory("pidx2").toString
      Retrieval.writePostingsIndex(docs.toDF("doc_id", "text"), dir)
      if (takedowns.nonEmpty) Retrieval.tombstoneDocs(spark, dir, takedowns)
      val fromIndex = Retrieval.bm25TopKFromIndex(
        Retrieval.readPostingsIndex(spark, dir),
        Retrieval.readDocLengths(spark, dir), terms, k)
        .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._4)
      val live = docs.filterNot(d => takedowns.contains(d._1))
      val fromScan = Retrieval.bm25TopK(live.toDF("doc_id", "text"), terms, k)
        .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._4)
      assert(fromIndex == fromScan, s"terms $terms, k $k, takedowns $takedowns")
      fromIndex
    }
    val docs = Seq((0L, "apple banana apple"), (1L, "banana cherry"),
      (2L, "durian elderberry fig grape"), (3L, "apple"))
    // k exceeds the positive-score docs, so membership (doc 2 at score
    // 0) must survive the index path exactly as the scan path keeps it
    val base = same(docs, Nil, Seq("apple", "cherry"), k = 4)
    assert(base.exists { case (id, _, score, _) => id == 2L && score == 0L })
    // a term absent from the store: df 0, contributes 0 everywhere
    assert(same(docs, Nil, Seq("apple", "zebra"), k = 4).map(_._1) ==
      same(docs, Nil, Seq("apple"), k = 4).map(_._1))
    // k above the live count: every live doc, once
    assert(same(docs, Seq(1L), Seq("banana"), k = 10).map(_._1).sorted ==
      Seq(0L, 2L, 3L))
    // takedowns leave N, avgdl and df: with doc 0 gone, "apple" is rarer
    // and doc 3 scores higher than over the full store
    val taken = same(docs, Seq(0L), Seq("apple", "cherry"), k = 4)
    assert(!taken.exists(_._1 == 0L))
    def scoreOf(rows: Seq[(Long, Long, Long, Long)], id: Long) =
      rows.find(_._1 == id).get._3
    assert(scoreOf(taken, 3L) > scoreOf(base, 3L))
    // a head term in every doc of equal length: idf ≈ 0.5/N, so each
    // contribution floors to 0 and the top-k fills by doc_id
    val head = (0L until 6000L).map(i => (i, s"the w${i % 7}"))
    assert(same(head, Nil, Seq("the"), k = 5) ==
      (0L until 5L).map(i => (i, 2L, 0L, i + 1)))
  }

  test("contaminationAuditStreamBatch: cap decided on the RUNNING global df") {
    val dir = java.nio.file.Files.createTempDirectory("dfstore").toString
    val eval = Dedup.gramHashTable(
      Seq((100L, "a b c d")).toDF("doc_id", "text")) // grams {a b c, b c d}
    // batch 0: gram "a b c" in 2 docs — at the cap (2), still reported
    val b0 = Seq((0L, "a b c"), (1L, "a b c x")).toDF("doc_id", "text")
    val r0 = Dedup.contaminationAuditStreamBatch(b0, eval, s"$dir/df",
        maxGramDf = 2, batchId = 0L)
      .select("train_id", "eval_id", "n_shared", "leak_bp")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(r0 == Set((0L, 100L, 1L, 5000L), (1L, 100L, 1L, 5000L)))
    // batch 1: doc 2 carries {a b c, b c d}; "a b c" now has GLOBAL df 3
    // (> 2 — boilerplate as of this batch) and is suppressed, while the
    // still-rare "b c d" attributes — so doc 2 reports exactly 1 shared
    // gram. A batch-local cap (df 1 ≤ 2) would have reported 2.
    val b1 = Seq((2L, "a b c d q")).toDF("doc_id", "text")
    val r1 = Dedup.contaminationAuditStreamBatch(b1, eval, s"$dir/df",
        maxGramDf = 2, batchId = 1L)
      .select("train_id", "n_shared", "leak_bp")
      .as[(Long, Long, Long)].collect().toSet
    assert(r1 == Set((2L, 1L, 5000L)))
    // at-least-once REPLAY of batch 1 (same batchId): the partial is
    // rewritten, not double-counted — df and report identical
    val r1b = Dedup.contaminationAuditStreamBatch(b1, eval, s"$dir/df",
        maxGramDf = 2, batchId = 1L)
      .select("train_id", "n_shared", "leak_bp")
      .as[(Long, Long, Long)].collect().toSet
    assert(r1b == r1)
    def partials = s"${graft.pipeline.VersionedStore.tableRoot(s"$dir/df")}/partials"
    def dfState() = spark.read.parquet(partials)
      .groupBy("g").agg(sum($"df_part").as("d"))
      .as[(Long, Long)].collect().toSet
    val before = dfState()
    // total (doc, gram) mass = 3 (batch 0) + 3 (batch 1) — a replayed
    // append would read 9 here
    assert(before.toSeq.map(_._2).sum == 6L)
    // ROLLUP compaction: per-batch partials merge into one summed row
    // per gram; the global df a later batch sees is unchanged
    Dedup.compactGramDfStore(spark, s"$dir/df")
    assert(dfState() == before)
    assert(graft.pipeline.StoreFs.listNames(s"$partials/batch=-1")
      .count(_.startsWith("part-")) == 1)
    // the rollup partial's reserved id is NUMERIC, so the discovered
    // `batch` partition column keeps its integer type — a batch-pinned
    // col("batch") <= n read still compares numerically post-compaction
    assert(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType)
      .contains(spark.read.parquet(partials).schema("batch").dataType))
    val b2 = Seq((3L, "a b c z")).toDF("doc_id", "text")
    val r2 = Dedup.contaminationAuditStreamBatch(b2, eval, s"$dir/df",
        maxGramDf = 2, batchId = 2L)
      .select("train_id", "n_shared")
      .as[(Long, Long)].collect().toSet
    assert(r2.isEmpty) // its only shared gram is over the cap
  }

  test("contaminationReport: closed-form pair counts, bp shares, df cap") {
    // eval doc 100: "a b c d" → trigrams {a b c, b c d} (2 grams)
    // train 0: full copy → shares both grams → leak_bp 10000
    // train 1: "a b c x" → shares {a b c} → 1/2 → 5000
    // train 2: disjoint vocabulary → no row
    // train 3: "p q r s t" vs eval 101 "p q r s" (2 grams):
    //   shares {p q r} and {q r s} → 10000
    val train = Seq(
      (0L, "a b c d"), (1L, "a b c x"), (2L, "m n o p2"),
      (3L, "p q r s t")).toDF("doc_id", "text")
    val eval = Seq((100L, "a b c d"), (101L, "p q r s"))
      .toDF("doc_id", "text")
    val got = Dedup.contaminationReport(train, eval)
      .select("train_id", "eval_id", "n_shared", "eval_grams", "leak_bp")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (0L, 100L, 2L, 2L, 10000L),
      (1L, 100L, 1L, 2L, 5000L),
      (3L, 101L, 2L, 2L, 10000L)))
    // df cap: make gram "a b c" appear in 3 train docs, cap at 2 —
    // every pair evidenced ONLY by that boilerplate gram disappears,
    // pairs with rarer evidence keep their rare grams
    val train2 = Seq(
      (0L, "a b c d"), (1L, "a b c x"), (2L, "a b c y"))
      .toDF("doc_id", "text")
    val (cappedDf, stats) = Dedup.contaminationReportWithStats(
      train2, eval, maxGramDf = 2)
    val capped = cappedDf
      .select("train_id", "n_shared").as[(Long, Long)].collect().toSet
    // "a b c" has df 3 → dropped; only train 0's "b c d" survives
    assert(capped == Set((0L, 1L)))
    // the cap is accounted, never silent: train2's distinct grams are
    // {a b c}×3 docs + {b c d, b c x, b c y} → 4 distinct, one over-cap
    // gram carrying 3 (doc, gram) rows
    assert(stats == Some(Dedup.GramDfStats(
      distinctGrams = 4L, droppedGrams = 1L, droppedRows = 3L)))
    // uncapped (exact) report opts out of stats — fully lazy path
    val (_, none) = Dedup.contaminationReportWithStats(
      train2, eval, maxGramDf = Int.MaxValue)
    assert(none.isEmpty)
    // the finite DEFAULT cap leaves this tiny corpus untouched and
    // reports zero dropped mass
    val (dflt, dstats) = Dedup.contaminationReportWithStats(train, eval)
    assert(dflt.select("train_id", "eval_id", "n_shared")
      .as[(Long, Long, Long)].collect().toSet ==
      Set((0L, 100L, 2L), (1L, 100L, 1L), (3L, 101L, 2L)))
    assert(dstats.exists(s => s.droppedGrams == 0L && s.droppedRows == 0L))
  }
}
