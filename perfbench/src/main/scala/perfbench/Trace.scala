package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval (epoch ms) with the span that caused it. */
final case class Span(id: Int, parent: Int, op: String, name: String,
                      startMs: Double, endMs: Double) {
  def json: String = Json.obj("id" -> id, "parent" -> parent, "op" -> op,
    "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs)
}

/** What Spark reported for one timed operation. Times in seconds. */
final case class OpRecord(
    op: String, kind: String, wallS: Double, constructS: Double,
    analysisS: Double, optimizationS: Double, planningS: Double,
    jobs: Int, stages: Int, tasks: Int,
    taskRunS: Double, taskCpuS: Double, gcS: Double, maxTaskSkew: Double,
    execS: Double, unattributedS: Double,
    inputBytes: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long,
    shuffleRecords: Long, spillBytes: Long,
    generatedRows: Long, partialAggRows: Long, failedQueries: Int) {
  def json: String = Json.obj(
    "op" -> op, "kind" -> kind, "wall_s" -> wallS, "construct_s" -> constructS,
    "analysis_s" -> analysisS, "optimization_s" -> optimizationS,
    "planning_s" -> planningS, "jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "task_run_s" -> taskRunS, "task_cpu_s" -> taskCpuS,
    "gc_s" -> gcS, "max_task_skew" -> maxTaskSkew, "exec_s" -> execS,
    "unattributed_s" -> unattributedS, "input_bytes" -> inputBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_records" -> shuffleRecords, "spill_bytes" -> spillBytes,
    "generated_rows" -> generatedRows, "partial_agg_rows" -> partialAggRows,
    "failed_queries" -> failedQueries)
}

/** The benchmark-side collector: a SparkListener plus a
  * QueryExecutionListener, scoped to one timed operation at a time by its
  * job group. Spans stay in memory until the run writes them out.
  *
  * Attribution of an operation's wall time is by disjoint intervals: time
  * covered by a job is `exec`, time covered by a Catalyst phase (from
  * `QueryPlanningTracker`) and no job is `catalyst`, and the rest of the
  * `construct` window is construction; what remains is unattributed.
  */
final class Collector(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val GroupKey = "spark.jobGroup.id"
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  /** Wall clock in epoch ms, from the monotonic clock. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private def span(parent: Int, op: String, name: String, s: Double, e: Double): Int = synchronized {
    val id = spans.size + 1
    spans += Span(id, parent, op, name, s, e)
    id
  }

  private final class Acc(val op: String) {
    val jobs = mutable.LinkedHashMap.empty[Int, (Double, Double)]
    val jobStages = mutable.Map.empty[Int, Seq[Int]]
    val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    val stageTimes = mutable.Map.empty[Int, (Double, Double)]
    var taskRunMs, taskCpuNs, gcMs = 0L
    var input, shWrite, shRead, shRecords, spill = 0L
    val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]
    var generated, partialAgg = 0L
    var failed = 0
  }
  @volatile private var cur: Acc = _
  private var last: OpRecord = _

  private def mine(props: java.util.Properties): Boolean = {
    val a = cur
    a != null && props != null && props.getProperty(GroupKey) == a.op
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (mine(e.properties)) {
      cur.jobs(e.jobId) = (e.time.toDouble, Double.NaN)
      cur.jobStages(e.jobId) = e.stageIds
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val a = cur
    if (a != null) a.jobs.get(e.jobId).foreach { case (s, _) => a.jobs(e.jobId) = (s, e.time.toDouble) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val a = cur
    val i = e.stageInfo
    if (a != null && a.jobStages.values.exists(_.contains(i.stageId)))
      a.stageTimes(i.stageId) = (i.submissionTime.getOrElse(0L).toDouble,
        i.completionTime.getOrElse(0L).toDouble)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = cur
    if (a == null || !a.jobStages.values.exists(_.contains(e.stageId))) return
    a.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.taskRunMs += m.executorRunTime
      a.taskCpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.input += m.inputMetrics.bytesRead
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.shRecords += m.shuffleWriteMetrics.recordsWritten
      a.shRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val a = cur
    if (a == null) return
    qe.tracker.phases.foreach { case (name, p) =>
      a.phases += ((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }
    planNodes(qe.executedPlan).foreach {
      case g: GenerateExec => a.generated += metric(g, "numOutputRows")
      case h: HashAggregateExec if h.aggregateExpressions.nonEmpty &&
          h.aggregateExpressions.forall(_.mode == Partial) =>
        a.partialAgg += metric(h, "numOutputRows")
      case _ =>
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { if (cur != null) cur.failed += 1 }

  private def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).map(_.value).getOrElse(0L)

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec        => planNodes(q.plan)
    case other                    => other.children.flatMap(planNodes)
  })

  def register(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }
  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Runs `construct` then `action` as one traced operation named `op`. */
  def traced[T](op: String, kind: String)(construct: => T)(action: T => Unit): OpRecord = {
    val sc = spark.sparkContext
    val a = new Acc(op)
    synchronized { cur = a }
    sc.setJobGroup(op, op)
    val s = nowMs
    var c = s
    try {
      val built = construct
      c = nowMs
      action(built)
    } finally {
      sc.clearJobGroup()
      val e = nowMs
      org.apache.spark.perfbench.Bus.drain(sc)
      synchronized { cur = null }
      last = record(a, kind, s, c, e)
    }
    last
  }

  private def record(a: Acc, kind: String, s: Double, c: Double, e: Double): OpRecord = synchronized {
    val opSpan = span(0, a.op, kind, s, e)
    span(opSpan, a.op, "construct", s, c)
    span(opSpan, a.op, "action", c, e)
    val jobIv = a.jobs.values.filter(!_._2.isNaN).toSeq
    a.jobs.foreach { case (id, (js, je)) =>
      val j = span(opSpan, a.op, s"job $id", js, if (je.isNaN) e else je)
      a.jobStages.getOrElse(id, Nil).flatMap(st => a.stageTimes.get(st).map(st -> _))
        .foreach { case (st, (ss, se)) => span(j, a.op, s"stage $st", ss, se) }
    }
    a.phases.foreach { case (n, ps, pe) => span(opSpan, a.op, s"catalyst.$n", ps, pe) }
    def phase(n: String) = a.phases.filter(_._1 == n).map(p => p._3 - p._2).sum / 1e3
    val execMs = Intervals.length(jobIv)
    val phaseIv = a.phases.map(p => (p._2, p._3)).toSeq
    val catalystOnlyMs = Intervals.length(Intervals.minus(phaseIv, jobIv))
    val constructOnlyMs = Intervals.length(Intervals.minus(Seq((s, c)), jobIv ++ phaseIv))
    val wallMs = e - s
    val skews = a.stageTasks.values.filter(_.size >= 2).map { ds =>
      val mean = ds.sum.toDouble / ds.size
      if (mean > 0) ds.max / mean else 1.0
    }
    OpRecord(a.op, kind, wallMs / 1e3, (c - s) / 1e3,
      phase("analysis"), phase("optimization"), phase("planning"),
      a.jobs.size, a.stageTasks.size, a.stageTasks.values.map(_.size).sum,
      a.taskRunMs / 1e3, a.taskCpuNs / 1e9, a.gcMs / 1e3,
      if (skews.isEmpty) 1.0 else skews.max,
      execMs / 1e3, (wallMs - execMs - catalystOnlyMs - constructOnlyMs) / 1e3,
      a.input, a.shWrite, a.shRead, a.shRecords, a.spill,
      a.generated, a.partialAgg, a.failed)
  }
}

/** Unions and differences of [start, end) intervals. */
object Intervals {
  def union(iv: Seq[(Double, Double)]): Seq[(Double, Double)] =
    iv.filter(p => p._2 > p._1).sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((ls, le) :: rest, (s, e)) if s <= le => (ls, math.max(le, e)) :: rest
      case (acc, p) => p :: acc
    }.reverse
  def length(iv: Seq[(Double, Double)]): Double = union(iv).map(p => p._2 - p._1).sum
  /** `a` minus every interval of `b`. */
  def minus(a: Seq[(Double, Double)], b: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val cut = union(b)
    union(a).flatMap { case (s, e) =>
      var pieces = List((s, e))
      cut.foreach { case (cs, ce) =>
        pieces = pieces.flatMap { case (ps, pe) =>
          if (ce <= ps || cs >= pe) List((ps, pe))
          else List((ps, cs), (ce, pe)).filter(p => p._2 > p._1)
        }
      }
      pieces
    }
  }
}
