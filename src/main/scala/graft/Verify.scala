package graft
import graft.queries.Query
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import org.apache.spark.sql.SparkSession
import scala.util.Using
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** The queries a run dumps, in `registered` order: all of them, or only
    * those named in the comma-separated `filter` (for local iteration; the
    * correctness gate runs the full surface). Left holds each filter name
    * that is not registered, so a mistyped filter fails instead of
    * dumping nothing. */
  def select(registered: Seq[String], filter: Option[String])
      : Either[Seq[String], Seq[String]] = filter.map(_.split(',').toSeq) match {
    case None => Right(registered)
    case Some(names) =>
      val unknown = names.filterNot(registered.contains)
      if (unknown.nonEmpty) Left(unknown) else Right(registered.filter(names.contains))
  }

  /** Dumps one query's result to `<outDir>/<name>` as one parquet file.
    * The old `<outDir>/<name>` is deleted first, so a build that throws
    * leaves no dump from an earlier run for the oracle compare to pass. */
  def dump(spark: SparkSession, sfDir: String, outDir: String, name: String,
           build: Query.Build): Unit = {
    val out = Paths.get(outDir, name)
    // names the query for every warning its build logs after this line
    System.err.println(s"[verify] $name")
    if (Files.exists(out))
      Using.resource(Files.walk(out))(_.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p)))
    try build(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(out.toString)
    catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
    }
    // several operators persist() intermediate relations for intra-query
    // branch reuse (Dedup, Similarity — see their scaladocs); their
    // lifetime contract is "until the caller clears", and this harness
    // is the caller: drop them so a 60+-query sweep doesn't accumulate
    // every query's cache (ADVICE r04), nor its localCheckpoint RDDs.
    Sessions.releaseCaches(spark)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val names = select(SparkEntry.queries.keys.toSeq, args.lift(2)) match {
      case Right(ns) => ns
      case Left(unknown) =>
        unknown.foreach(n => System.err.println(s"[verify] unknown query: $n"))
        sys.exit(1)
    }
    val spark = Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    names.foreach(name => dump(spark, sfDir, outDir, name, SparkEntry.queries(name)))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
