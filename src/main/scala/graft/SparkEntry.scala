package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see SURVEY.md §7.
  *
  * [[registry]] is the one list of gated queries: each [[Query]] entry is
  * one operator from SURVEY §2's inventory wired to the driver's parquet
  * fixtures, together with the equivalent ANSI SQL the driver runs in
  * DuckDB over the same tables (column names and row order identical on
  * both sides; total ORDER BY everywhere). Entries live in the
  * `graft.queries.*` modules, one per operator family. Every name-keyed
  * view below ([[queries]], [[oracleSql]], [[benchQueries]]) is derived
  * from the registry, so a query and its oracle cannot drift apart.
  */
object SparkEntry {

  /** Every gated query; initialisation throws if two entries share a name. */
  val registry: Seq[Query] = Query.unique(
    WordCountQueries.queries ++
      RelationalQueries.queries ++
      AdvancedQueries.queries ++
      AnalyticQueries.queries ++
      TextPipelineQueries.queries ++
      SimilarityQueries.queries ++
      CorpusStatsQueries.queries ++
      ExtensionQueries.queries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("wc_words")(spark, "/root/testdata/sf0.001")

  /** Name → build, one per registry entry. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** Name → DuckDB oracle SQL, for the entries that have one. */
  lazy val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Queries Bench times — ALL of them, in stable name order. A full sweep
    * is the only protocol; `graft.tools.QueryProfile` replays its warm-up
    * and timed run for named queries. BASELINE.md says how to read the
    * artifact; the count and seconds are not restated here. */
  lazy val benchQueries: Seq[String] = registry.map(_.name).sorted
}
