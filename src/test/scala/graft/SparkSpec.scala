package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession shared by every suite in the forked test JVM — session
  * startup is ~5 s, so per-suite sessions would dominate test wall-clock.
  * Built through [[Sessions.builder]] so tests run with the exact conf the
  * engine entry points use (UTC, AQE, extensions, nanosAsLong).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.builder("graft-test", "4").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Base class for engine suites: shared session + temp-dir helper. */
abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Fresh temp dir, deleted on JVM exit (tests stay rerunnable). */
  def tempDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  /** Fails the test when a fixture dir is missing: a gate that cancels
    * itself on a box without fixtures would pass silently. */
  def requireFixtures(dir: String): Unit =
    assert(java.nio.file.Files.isReadable(java.nio.file.Paths.get(dir)),
      s"fixture dir $dir is missing or unreadable")

  def writeFile(dir: java.nio.file.Path, name: String, content: String): Unit =
    java.nio.file.Files.write(dir.resolve(name),
      content.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Runs `body` with the given session confs set, restoring the old
    * values after (the session is shared across suites). */
  def withConf[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Confs for generated evaluation (whole-stage codegen, no interpreted
    * fallback) or for interpreted evaluation. */
  def codegenConfs(codegen: Boolean): Seq[(String, String)] = Seq(
    "spark.sql.codegen.wholeStage" -> codegen.toString,
    "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"))

  /** Every physical node of an executed plan, unwrapping AQE and recursing
    * into subqueries — the one AQE-aware walker every spec uses (a
    * per-suite copy once dropped the subquery recursion).
    * `TreeNode.collect` treats `AdaptiveSparkPlanExec` as a leaf and
    * silently finds nothing under AQE; materialized AQE stages
    * (Shuffle/Broadcast/ResultQueryStage) hold their subtree in `plan`,
    * not `children` — without those cases every plan-shape assertion sees
    * a single opaque leaf and passes vacuously.
    */
  def collectPlanNodes(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val self = plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        collectPlanNodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: collectPlanNodes(q.plan)
      case p => Seq(p)
    }
    self ++ plan.children.flatMap(collectPlanNodes) ++
      plan.subqueries.flatMap(collectPlanNodes)
  }

  /** Whether `df` counts its words on the fused map side: its executed
    * plan holds a [[graft.expr.TokenCountExec]], and then no
    * `GenerateExec` and no partial aggregate (asserted). Runs `df` first,
    * so the plan read is AQE's final one. */
  def fusedMapSide(df: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    df.collect()
    val nodes = collectPlanNodes(df.queryExecution.executedPlan)
    val fused = nodes.exists(_.isInstanceOf[graft.expr.TokenCountExec])
    if (fused) assert(!nodes.exists {
      case _: GenerateExec => true
      case a: BaseAggregateExec => a.aggregateExpressions.exists(_.mode == Partial)
      case _ => false
    }, df.queryExecution.executedPlan.toString)
    fused
  }

  /** Assert a frame's executed plan contains no cartesian product or
    * broadcast-nested-loop join — EXCEPT a BNLJ whose BUILD side IS a
    * one-row (ungrouped) aggregate: that is the engine's singleton-attach
    * shape (corpus totals, the broadcast seeds array), a map-side widen
    * with no scale dimension, and the optimizer plans it as a BNLJ even
    * when written as a constant-key equi-join (the condition folds away).
    * The check unwraps only exchange/codegen/project WRAPPERS above the
    * aggregate and looks at the build side specifically — searching
    * either child's whole subtree would exempt a genuine row-scale BNLJ
    * whenever some upstream lineage happens to contain a one-row totals
    * aggregate (the ubiquitous crossJoin(broadcast(tot)) idiom).
    */
  def assertKeyedJoins(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
    import org.apache.spark.sql.execution._
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: adaptive.AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: adaptive.QueryStageExec => unwrap(q.plan)
      case e: exchange.BroadcastExchangeExec => unwrap(e.child)
      case r: exchange.ReusedExchangeExec => unwrap(r.child)
      case w: WholeStageCodegenExec => unwrap(w.child)
      case i: InputAdapter => unwrap(i.child)
      case p: ProjectExec => unwrap(p.child)
      case p => p
    }
    def isSingletonBuild(p: SparkPlan): Boolean = unwrap(p) match {
      case a: aggregate.BaseAggregateExec => a.groupingExpressions.isEmpty
      case _ => false
    }
    val bad = collectPlanNodes(df.queryExecution.executedPlan).filter {
      case j: joins.BroadcastNestedLoopJoinExec =>
        val build = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
          case _ => j.right
        }
        !isSingletonBuild(build)
      case p => p.nodeName.contains("CartesianProduct")
    }
    assert(bad.isEmpty, s"$what plans an unkeyed join: ${bad.map(_.nodeName)}")
  }
}
