package graft

import org.apache.spark.sql.functions._

/** The SQL entry point (`spark.sql` over registered views) — the engine is
  * usable as a SQL engine, not only through the DataFrame API: fixture
  * tables registered as temp views, queries in ANSI SQL, native extension
  * functions callable from SQL.
  */
class SqlSurfaceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val registered: Unit = {
    val dir = "/root/testdata/sf0.001"
    Seq("region", "nation", "customer", "orders", "lineitem", "documents")
      .foreach(t => Tables.table(spark, dir, t).createOrReplaceTempView(t))
  }

  test("star-schema join + aggregate via pure SQL") {
    registered
    val rows = spark.sql(
      """SELECT n_name, count(*) AS n_cust
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""").collect()
    assert(rows.length > 0)
    assert(rows.map(_.getLong(1)).sum ===
      spark.table("customer").count())
  }

  test("word count as SQL (lateral explode) equals the DataFrame pipeline") {
    registered
    // Spark SQL string literals process backslash escapes (unlike DuckDB's
    // single-quoted strings): double them, then escape quotes
    val re = graft.tok.Tokenizer.DefaultSplitRegex
      .replace("\\", "\\\\").replace("'", "\\'")
    def viaSql(tokens: String) = spark.sql(
      s"""SELECT word, count(*) AS cnt
          FROM documents
          LATERAL VIEW explode($tokens) t AS word
          GROUP BY word ORDER BY word""")
      .as[(String, Long)].collect().toSeq
    val viaDf = graft.wc.WordCount
      .fromText(spark.table("documents"), "text")
      .as[(String, Long)].collect().toSeq
    assert(viaDf.nonEmpty)
    assert(viaSql("lower_tokens(text)") === viaDf)
    assert(fusedMapSide(spark.sql(
      """SELECT word, count(*) AS cnt
         FROM documents LATERAL VIEW explode(lower_tokens(text)) t AS word
         GROUP BY word""")))
    assert(viaSql(s"filter(split(lower(text), '$re'), x -> length(x) > 0)") === viaDf)
  }

  test("native extension functions are first-class SQL functions") {
    val r = spark.sql(
      """SELECT simhash60(array(1L, 2L, 3L)) AS sh,
                minhash_sig(array(7L), 3) AS mh,
                ngram_hashes(array(1L, 2L, 3L), 2) AS ng,
                lower_tokens('The QUICK, brown-Fox') AS lt,
                lower_tokens('a,b|C', '|') AS ltd""").head()
    assert(r.getLong(0) >= 0)
    assert(r.getSeq[Long](1).length === 3)
    assert(r.getSeq[Long](2).length === 2)
    assert(r.getSeq[String](3) === Seq("the", "quick", "brown", "fox"))
    assert(r.getSeq[String](4) === Seq("a,b", "c"))
  }

  test("window + subquery via SQL") {
    registered
    val top = spark.sql(
      """SELECT * FROM (
           SELECT o_custkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC) AS rn
           FROM orders)
         WHERE rn = 1 ORDER BY o_custkey LIMIT 10""").collect()
    assert(top.length === 10)
    assert(top.forall(_.getInt(2) === 1))
  }
}
