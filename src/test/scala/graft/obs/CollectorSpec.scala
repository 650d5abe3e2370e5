package graft.obs

import graft.SparkSpec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A traced operation's record is complete when `traced` returns (the
  * listener bus is drained, not slept on) and holds only the jobs of the
  * operation's own job group. */
class CollectorSpec extends SparkSpec {

  test("back-to-back traced operations: each record is whole on return and holds only its own jobs") {
    // Query-execution listeners share the collector's listener queue. This
    // one holds it for 100 ms after every query, so each operation's
    // events are still queued when its action returns: only the drain
    // makes the record whole.
    val lag = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val end = System.nanoTime() + 100000000L
        while (System.nanoTime() < end) Thread.onSpinWait()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(lag)
    try {
      val collector = new Collector(spark)
      val sc = spark.sparkContext
      (1 to 20).foreach { i =>
        val r = collector.traced(s"op$i")(spark.range(0, 100, 1, 7)) { df =>
          // an ungrouped job inside the traced window: the thread inherits
          // the job group, so it clears its own copy first
          val t = new Thread(() => { sc.clearJobGroup(); spark.range(0, 10, 1, 3).collect() })
          t.start(); t.join()
          df.write.mode("overwrite").format("noop").save()
        }
        assert((r.jobs, r.stages.map(_.tasks), r.tasks) === (1, Seq(7), 7), s"op$i")
        spark.range(0, 10, 1, 3).collect() // between operations, outside any job group
      }
    } finally spark.listenerManager.unregister(lag)
  }

  test("a second traced run of the same build compiles no class") {
    // literals no other suite uses, so the first run compiles; the codegen
    // cache then holds what it compiled
    val collector = new Collector(spark)
    def run() = collector.traced("compile")(
      spark.range(0, 1000, 1, 4).selectExpr("id % 7919 AS k", "id * 104729 AS v")
        .groupBy("k").sum("v"))(_.write.mode("overwrite").format("noop").save())
    assert(run().classesCompiled > 0)
    assert(run().classesCompiled === 0)
  }
}
