package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.tok.Tokenizer

/** One gated query: its name, the DataFrame it builds over a fixture dir,
  * and the equivalent ANSI SQL the DuckDB oracle runs over the same parquet
  * tables (None where the operator is not SQL-expressible; such a query is
  * only smoke-checked for rows > 0). Each `*Queries` module lists its
  * entries in one `queries: Seq[Query]`; [[graft.SparkEntry]] joins them
  * into the registry and derives every name-keyed view from it.
  */
final case class Query(name: String, build: Query.Build, oracle: Option[String])

object Query {
  type Build = (SparkSession, String) => DataFrame

  def apply(name: String, build: Build): Query = Query(name, build, None)

  def apply(name: String, build: Build, oracle: String): Query =
    Query(name, build, Some(oracle))

  /** `entries` unchanged; throws if two of them share a name (a name-keyed
    * map would otherwise keep only the later one). */
  def unique(entries: Seq[Query]): Seq[Query] = {
    val dups = entries.groupBy(_.name).collect {
      case (name, qs) if qs.size > 1 => name
    }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    entries
  }
}

/** DuckDB SQL fragments shared by the oracle strings. */
private[queries] object OracleSql {

  /** Exact-decimal sum, rounded back to double: mirrors the engine's
    * decimal-accumulated sums. */
  def oSum(expr: String, as: String, scale: Int = 4): String =
    s"ROUND(CAST(SUM(CAST($expr AS DECIMAL(28,10))) AS DOUBLE), $scale) AS $as"

  /** The tokenizer's split regex (valid for both Java regex and DuckDB
    * RE2), single-quote-escaped for embedding in a SQL string literal. */
  val Re: String = Tokenizer.DefaultSplitRegex.replace("'", "''")

  /** DuckDB: lowercased non-empty token list of `text`. */
  val ToksSql: String =
    s"list_filter(string_split_regex(lower(text), '$Re'), x -> x <> '')"
}
