package graft

import graft.queries.Query
import org.scalatest.funsuite.AnyFunSuite

/** The query registry is the single source of every name-keyed view:
  * names are unique, every oracle belongs to a registered query, Verify's
  * filter only names registered queries, its dump never leaves a stale
  * result behind, and the frozen benchmark query list still resolves. */
class RegistrySpec extends AnyFunSuite {

  private val noBuild: Query.Build = (_, _) => null

  test("a duplicate query name throws instead of shadowing") {
    val e = intercept[IllegalArgumentException](Query.unique(Seq(
      Query("q_a", noBuild), Query("q_b", noBuild, "SELECT 1"),
      Query("q_a", noBuild, "SELECT 2"))))
    assert(e.getMessage.contains("duplicate query names: q_a"))
    val ok = Seq(Query("q_a", noBuild), Query("q_b", noBuild))
    assert(Query.unique(ok) === ok)
  }

  test("every oracle names a registered query; views match the registry") {
    val names = SparkEntry.registry.map(_.name)
    assert(SparkEntry.queries.keySet === names.toSet)
    assert(SparkEntry.queries.size === SparkEntry.registry.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.benchQueries === names.sorted)
  }

  test("Verify's filter selects registered names and rejects unknown ones") {
    val reg = Seq("q_a", "q_b", "q_c")
    assert(Verify.select(reg, None) === Right(reg))
    assert(Verify.select(reg, Some("q_c,q_a")) === Right(Seq("q_a", "q_c")))
    assert(Verify.select(reg, Some("NONE")) === Left(Seq("NONE")))
    assert(Verify.select(reg, Some("q_a,q_x,,q_b ")) === Left(Seq("q_x", "", "q_b ")))
  }

  test("Verify.dump deletes a stale dump before building, so a failed build leaves none") {
    val spark = TestSpark.spark
    val out = java.nio.file.Files.createTempDirectory("verifyOut")
    val stale = out.resolve("q_x")
    java.nio.file.Files.createDirectories(stale.resolve("sub"))
    java.nio.file.Files.writeString(stale.resolve("sub").resolve("part-0.parquet"), "stale")
    Verify.dump(spark, "unused", out.toString, "q_x", (_, _) => sys.error("build failed"))
    assert(!java.nio.file.Files.exists(stale), "a stale dump survived a failed build")
    Verify.dump(spark, "unused", out.toString, "q_y", (s, _) => s.range(3).toDF("id"))
    assert(spark.read.parquet(out.resolve("q_y").toString).count() === 3L)
  }

  test("every name in perfbench/queries.txt is a registered query") {
    val src = scala.io.Source.fromFile("perfbench/queries.txt", "UTF-8")
    val listed =
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toVector
      finally src.close()
    assert(listed.nonEmpty)
    val missing = listed.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"unregistered: $missing")
  }
}
