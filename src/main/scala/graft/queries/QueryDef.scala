package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its builder over a dataset dir and the DuckDB oracle
  * its result must hash-match. The oracle is DuckDB-runnable ANSI SQL over
  * the dataset's tables whose column names and types match the builder's
  * output exactly (the driver hashes by sorted column name). */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)

/** A query family. The object that declares a query is its family. */
trait QueryFamily {
  def defs: Seq[QueryDef]
}

/** The 15 query families and the name-keyed views over them. */
object QueryRegistry {

  val families: Seq[QueryFamily] = Seq(
    RelationalQueries, CdcSourceQueries, FilterQueries, RelayQueries,
    BootstrapQueries, AnnQueries, AnnMaintenanceQueries, DedupQueries,
    RetrievalQueries, ScoringQueries, TextQueries, MultimodalQueries,
    LayoutQueries, StoreQueries, StreamingQueries)

  /** Name-keyed index over `defs`. Throws on a name declared twice, which
    * a map built straight from the pairs would silently collapse. */
  def index(defs: Seq[QueryDef]): Map[String, QueryDef] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty,
      s"query names declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    defs.map(d => d.name -> d).toMap
  }

  lazy val byName: Map[String, QueryDef] = index(families.flatMap(_.defs))
}
