package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Salted join / salted aggregation: result-equivalence with the plain
  * forms on a deliberately skewed key distribution.
  */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  // 90% of fact rows share key 0 (the hot key), the rest spread over 1-9
  private def fact = (0 until 2000).map { i =>
    (if (i % 10 == 0) (i / 10) % 9 + 1 else 0L, i.toLong, i * 1.5)
  }.toDF("k", "row_id", "v")
  private def dim = (0L to 9L).map(k => (k, s"dim-$k")).toDF("k", "label")

  test("saltedJoin equals the plain join on skewed data") {
    val plain = fact.join(dim, Seq("k"))
      .select("row_id", "label").as[(Long, String)].collect().toSet
    val salted = Skew.saltedJoin(fact, dim, "k", col("row_id"), salts = 8)
      .select("row_id", "label").as[(Long, String)].collect().toSet
    assert(salted === plain)
    assert(plain.size === 2000, "dim is unique per key — row count preserved")
  }

  test("saltedJoin with salts=1 degenerates to the plain join") {
    val plain = fact.join(dim, Seq("k")).count()
    assert(Skew.saltedJoin(fact, dim, "k", col("row_id"), 1).count() === plain)
  }

  test("salted partial aggregation spreads the hot key and sums exactly") {
    val got = Skew.saltedCount(fact, "k", col("row_id"), salts = 8)
      .as[(Long, Long)].collect().toMap
    val exp = fact.groupBy("k").agg(count(lit(1)).as("cnt"))
      .as[(Long, Long)].collect().toMap
    assert(got === exp)
    assert(exp(0L) === 1800L, "fixture really is skewed")
  }

  test("advisor ranks the hot key first with exact share/skew/salt math") {
    // fact: key 0 → 1800 rows; keys 1–9 share the other 200 (keys 1,2 get
    // 23, keys 3–9 get 22). 10 keys, mean 200: hot skew = 1800·10/2000 = 9
    val got = Skew.advisor(fact, "k", topN = 3)
      .as[(Long, Long, Double, Double, Int)].collect().toSeq
    assert(got.size === 3)
    val hot = got.head
    assert(hot._1 === 0L && hot._2 === 1800L)
    assert(hot._3 === 0.9, "share = 1800/2000")
    assert(hot._4 === 9.0, "skew_ratio = 1800·10/2000")
    assert(hot._5 === 9,
      "salt = splits that bring the hot key back to the mean key size")
    // cold keys: skew below 1 ⇒ salt 1 (no salting), and the
    // cnt-desc/key-asc tiebreak makes the cut deterministic
    assert(got.tail.map(r => (r._1, r._2, r._5)) === Seq((1L, 23L, 1), (2L, 23L, 1)))
  }
}
