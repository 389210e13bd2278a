package graft.perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec,
  CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call. Spans of one benchmark job share `job`; `parent` is the
  * enclosing span's id, or -1. The module is the name's first dot-segment. */
final case class Span(id: Int, parent: Int, job: Int, name: String,
                      startNs: Long, endNs: Long) {
  def module: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task-metric totals over the Spark jobs one span launched. */
final class TaskTotals {
  var jobs = 0L
  var busyMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var bytesRead = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var resultBytes = 0L

  def add(o: TaskTotals): TaskTotals = {
    jobs += o.jobs; busyMs += o.busyMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; bytesRead += o.bytesRead; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; fetchWaitMs += o.fetchWaitMs; spill += o.spill
    resultBytes += o.resultBytes
    this
  }
}

/** Facts read from one executed plan tree (never from its text). */
final case class Audit(decodePasses: Int, sortMergeJoins: Int, broadcastJoins: Int,
                       fallbackExprs: Int, wscgStages: Int, pairRows: Long) {
  def +(o: Audit): Audit = Audit(decodePasses + o.decodePasses,
    sortMergeJoins + o.sortMergeJoins, broadcastJoins + o.broadcastJoins,
    fallbackExprs + o.fallbackExprs, wscgStages + o.wscgStages, pairRows + o.pairRows)
}

object Audit {
  val empty: Audit = Audit(0, 0, 0, 0, 0, 0L)
}

object PlanAudit extends AdaptiveSparkPlanHelper {
  private def nodes(plan: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(plan) { case p => p }

  /** Counts over the final (post-AQE) plan. `pairKeys` names the two key
    * columns of the pairs an operator builds: a join whose output carries
    * both while neither child does is the join that creates candidate
    * pairs, and its `numOutputRows` is the candidate count. */
  def audit(plan: SparkPlan, pairKeys: Option[(String, String)]): Audit = {
    val ns = nodes(plan)
    val exprs = ns.flatMap(_.expressions)
    def count(pf: PartialFunction[org.apache.spark.sql.catalyst.expressions.Expression, Unit]): Int =
      exprs.map(_.collect(pf).size).sum
    val pairRows = pairKeys.fold(0L) { case (a, b) =>
      def has(p: SparkPlan) = {
        val names = p.output.map(_.name).toSet
        names(a) && names(b)
      }
      ns.collect {
        case j @ (_: BaseJoinExec | _: CartesianProductExec)
            if has(j) && !j.children.exists(has) =>
          j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
    }
    Audit(
      decodePasses = count { case _: graft.exprs.DecodeOsmSpans => () },
      sortMergeJoins = ns.count(_.isInstanceOf[SortMergeJoinExec]),
      broadcastJoins = ns.count(_.isInstanceOf[BroadcastHashJoinExec]),
      fallbackExprs = count { case _: CodegenFallback => () },
      wscgStages = ns.count(_.isInstanceOf[WholeStageCodegenExec]),
      pairRows = pairRows)
  }
}

/** Attributes Spark jobs, their tasks and their query executions to the
  * span whose job group was set when they were submitted. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  private val stageSpan = mutable.Map[Int, Int]()
  private val totals = mutable.Map[Int, TaskTotals]()
  private val pending = mutable.ArrayBuffer[QueryExecution]()

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb|")).map(_.drop(3).toInt)

  private def acc(span: Int): TaskTotals = totals.getOrElseUpdate(span, new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      e.stageIds.foreach(stageSpan(_) = s)
      acc(s).jobs += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = acc(s)
      a.busyMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.bytesRead += m.inputMetrics.bytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.resultBytes += m.resultSize
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { pending += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { pending += qe }

  def takeQueries(): Seq[QueryExecution] = synchronized {
    val out = pending.toList
    pending.clear()
    out
  }

  def tasksOf(span: Int): TaskTotals = synchronized(totals.getOrElse(span, new TaskTotals))
}

/** In-memory span recorder. Disabled, `span` is a plain call: no job
  * groups, no listener, no bus drains — the untraced measurement path. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val listener = new LayerListener
  val spans = mutable.ArrayBuffer[Span]()
  private val audits = mutable.Map[Int, Audit]()
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0
  /** The benchmark job the next spans belong to. */
  var job = -1
  /** Key columns of the pairs the running operator builds (see [[PlanAudit]]). */
  var pairKeys: Option[(String, String)] = None

  private val sc = spark.sparkContext
  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(listener)
  }

  def close(): Unit = if (enabled) {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(listener)
    sc.clearJobGroup()
  }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.fold(-1)(_._1)
      drainTo(parent)
      stack = (id, name) :: stack
      setGroup()
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        drainTo(id)
        stack = stack.tail
        setGroup()
        spans += Span(id, parent, job, name, t0, t1)
      }
    }

  private def setGroup(): Unit = stack.headOption match {
    case Some((id, name)) => sc.setJobGroup(s"pb|$id", name, interruptOnCancel = false)
    case None             => sc.clearJobGroup()
  }

  /** Waits for the bus, then files every query execution finished since the
    * last drain under `span` (calls are sequential, so they are its own). */
  private def drainTo(span: Int): Unit = {
    PerfbenchBus.drain(sc)
    val qs = listener.takeQueries()
    if (span >= 0 && qs.nonEmpty) {
      val a = qs.map(q => PlanAudit.audit(q.executedPlan, pairKeys)).reduce(_ + _)
      audits(span) = audits.getOrElse(span, Audit.empty) + a
    }
  }

  def jobSpans(job: Int): Seq[Span] = spans.filter(_.job == job).toSeq
  def auditOf(span: Int): Audit = audits.getOrElse(span, Audit.empty)
  def tasksOf(span: Int): TaskTotals = listener.tasksOf(span)
}
