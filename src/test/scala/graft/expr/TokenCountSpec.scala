package graft.expr

import graft.SparkSpec
import graft.streaming.StreamingWordCount
import graft.tok.Tokenizer
import graft.wc.WordCount
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.unsafe.types.UTF8String

/** The fused word-count map side: the per-task table's flush, and where
  * the planner rule fires (exactly `Aggregate([w], count) ← explode(lower_tokens)`)
  * and where it must not. */
class TokenCountSpec extends SparkSpec {
  import spark.implicits._

  private def text(rows: String*) = rows.toDF("t")

  test("TokenCounts flushes at its cap; null rows have no tokens; partials sum to the counts") {
    val table = LowerTokens(Literal(""), LowerTokens.Default).table
    val memoryManager = { spark.sparkContext; org.apache.spark.SparkEnv.get.memoryManager }
    /** The partials of `rows`, after checking the table gave its memory back. */
    def partials(rows: Seq[String], cap: Int = TokenCounts.DefaultCap): Seq[(String, Long)] = {
      val memory = new org.apache.spark.memory.TaskMemoryManager(memoryManager, 0L)
      val out = TokenCounts.partials(rows.iterator.map(UTF8String.fromString), table,
        useICU = true, memory, cap).map(r => (r.getUTF8String(0).toString, r.getLong(1))).toList
      assert(memory.getMemoryConsumptionForThisTask === 0L)
      out.sorted
    }
    val rows = Seq("a b", "A c", "c d, e", null, "a")
    // flushes after rows 1, 2 and 3 (3 keys: a row's new keys may pass the
    // cap), then the last row's one key at the end
    assert(partials(rows, cap = 2) === Seq(("a", 1L), ("a", 1L), ("a", 1L), ("b", 1L),
      ("c", 1L), ("c", 1L), ("d", 1L), ("e", 1L)))
    assert(partials(rows) === Seq(("a", 3L), ("b", 1L), ("c", 2L), ("d", 1L), ("e", 1L)))
    assert(partials(Seq(null, ",;")).isEmpty)
  }

  test("the rule fires for fromText and for count(*) or count(word) over the exploded tokens") {
    val df = text("The the, THE", "fox", null)
    assert(fusedMapSide(WordCount.fromText(df, "t")))
    val words = df.select(explode(Tokenizer.lowerTokens(col("t"))).as("word"))
    for (c <- Seq(count("*"), count(col("word")))) {
      val counted = words.groupBy("word").agg(c.as("cnt"))
      assert(fusedMapSide(counted))
      assert(counted.as[(String, Long)].collect().toMap === Map("the" -> 3L, "fox" -> 1L))
    }
  }

  test("the rule does not fire on perFile, count(DISTINCT word) or explode_outer") {
    val dir = tempDir("noFuse")
    writeFile(dir, "a.txt", "x x y")
    assert(!fusedMapSide(WordCount.perFile(spark, dir.toString)))
    val df = text("a b a", null)
    val words = df.select(explode(Tokenizer.lowerTokens(col("t"))).as("word"))
    val distinct = words.groupBy("word").agg(countDistinct("word").as("n"))
    assert(!fusedMapSide(distinct))
    assert(distinct.as[(String, Long)].collect().toMap === Map("a" -> 1L, "b" -> 1L))
    val outer = df.select(explode_outer(Tokenizer.lowerTokens(col("t"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    assert(!fusedMapSide(outer))
    // the null row's explode_outer emits one null word
    assert(outer.as[(Option[String], Long)].collect().toMap ===
      Map(Some("a") -> 2L, Some("b") -> 1L, None -> 1L))
  }

  test("the rule does not fire on a streaming word count, which keeps its state store") {
    val dir = tempDir("wcStreamPlan")
    writeFile(dir, "a.txt", "The quick fox\nthe FOX")
    val q = StreamingWordCount.fromDirectory(spark, dir.toString)
      .writeStream.format("memory").queryName("token_count_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    try {
      assert(q.awaitTermination(120000), "stream did not terminate in time")
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      val names = collectPlanNodes(plan).map(_.nodeName)
      assert(names.contains("StateStoreSave") && !names.contains("TokenCount"), names)
      assert(spark.table("token_count_stream").as[(String, Long)].collect().toMap ===
        Map("the" -> 2L, "quick" -> 1L, "fox" -> 2L))
    } finally {
      q.stop()
      spark.catalog.dropTempView("token_count_stream")
    }
  }
}
