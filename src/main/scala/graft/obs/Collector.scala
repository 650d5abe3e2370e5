package graft.obs

import scala.collection.mutable
import org.apache.spark.graft.Bus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** One completed stage of a traced operation: the stage's task metrics,
  * summed over its tasks, as Spark reports them when the stage completes.
  * `wallMs` is submission to completion, -1 when Spark gave no times. */
final case class StageRow(id: Int, name: String, tasks: Int, wallMs: Long,
                          runMs: Long, cpuMs: Long, gcMs: Long,
                          shuffleReadBytes: Long, shuffleWriteBytes: Long,
                          inputBytes: Long, spillBytes: Long)

/** What Spark reported for one traced operation. Stages are in completion
  * order. `classesCompiled` counts the Janino compiles during the
  * operation, that is the generated classes the codegen cache missed;
  * exact in local mode, where driver and tasks share one JVM. */
final case class OpRecord(constructS: Double, actionS: Double, jobs: Int,
                          stages: Seq[StageRow], classesCompiled: Long) {
  def tasks: Int = stages.map(_.tasks).sum
  def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
}

/** The task-metrics collector: a SparkListener scoped by job group to one
  * traced operation at a time.
  *
  * [[traced]] registers the listener, runs the operation under a job group
  * named after it, drains the listener bus and unregisters. So the record
  * is complete when `traced` returns, and jobs outside the group (run
  * between operations, or from a thread that cleared its group) land in
  * no record. Spark copies a thread's job group to the threads that run
  * broadcasts and subqueries, so their jobs are counted.
  */
final class Collector(spark: SparkSession) extends SparkListener {
  private var group: Option[String] = None
  private var jobs = 0
  private val stageIds = mutable.Set.empty[Int]
  private val stages = mutable.ArrayBuffer.empty[StageRow]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (e.properties != null &&
        group.contains(e.properties.getProperty("spark.jobGroup.id"))) {
      jobs += 1
      stageIds ++= e.stageIds
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    if (stageIds.contains(si.stageId)) {
      val tm = si.taskMetrics
      val wall = (for (c <- si.completionTime; s <- si.submissionTime) yield c - s)
        .getOrElse(-1L)
      stages += StageRow(si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks,
        wall, tm.executorRunTime, tm.executorCpuTime / 1000000, tm.jvmGCTime,
        tm.shuffleReadMetrics.totalBytesRead, tm.shuffleWriteMetrics.bytesWritten,
        tm.inputMetrics.bytesRead, tm.memoryBytesSpilled)
    }
  }

  /** Runs `construct`, then `action` on what it built, as one operation
    * named `op`, and returns what Spark reported for it. */
  def traced[T](op: String)(construct: => T)(action: T => Unit): OpRecord = {
    val sc = spark.sparkContext
    synchronized {
      group = Some(op); jobs = 0; stageIds.clear(); stages.clear()
    }
    sc.addSparkListener(this)
    sc.setJobGroup(op, op)
    try {
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
      val c0 = compiles.getCount
      val t0 = System.nanoTime()
      val built = construct
      val t1 = System.nanoTime()
      action(built)
      val t2 = System.nanoTime()
      Bus.drain(sc)
      synchronized {
        OpRecord((t1 - t0) / 1e9, (t2 - t1) / 1e9, jobs, stages.toVector,
          compiles.getCount - c0)
      }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(this)
    }
  }
}
