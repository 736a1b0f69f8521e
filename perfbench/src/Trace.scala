package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters Spark reports for one span. */
final class Counters {
  val c: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap(
    Counters.Names.map(_ -> 0.0): _*)
  def add(k: String, v: Double): Unit = c(k) += v
}

object Counters {
  val Names = Seq(
    "jobs", "sql_execs", "tasks", "task_s", "cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "input_bytes", "output_bytes", "planning_s", "exchanges",
    "codegen_stages", "driver_idle_s")
}

/** One span: the wall time of one public call (or of one benchmark
  * op around such calls), with the Spark work it caused. A call span
  * covers one interval; a call-site span (see [[Tracer]]) covers one
  * interval per run of its consecutive executions. Times are
  * `System.nanoTime`.
  */
final case class Span(
    traceId: Int, spanId: Int, parent: Option[Int], name: String,
    intervals: Seq[(Long, Long)], counters: Counters) {
  def startNs: Long = intervals.head._1
  def endNs: Long = intervals.last._2
  def wall: Double = intervals.map { case (a, b) => b - a }.sum / 1e9
}

/** Attributes Spark's own counters to the span open on the driver.
  *
  * The benchmark runs one op at a time on one thread, so "the span
  * open when the event happened" is unambiguous once the listener bus
  * has drained: a span waits for every queued event before it
  * closes. Job intervals are kept per span so its
  * `driver_idle_s` (wall minus the union of job intervals) can be
  * computed at close.
  *
  * A library call that the benchmark does not make itself — `Dedup`'s
  * state probes, appends and compactions inside `runIngest` — is
  * found by its call site instead: a SQL execution, or a job outside
  * one, whose recorded call stack holds a frame of a class in
  * `byCallSite` is charged, besides every open span, to a child span
  * of that layer under the innermost open span. That child covers each
  * run of the layer's consecutive executions.
  */
final class Tracer(spark: SparkSession, byCallSite: Seq[(String, String)])
    extends SparkListener with QueryExecutionListener {

  private final class Open(val id: Int, val traceId: Int, val name: String) {
    val ctr = new Counters
    val t0Ns: Long = System.nanoTime()
    val t0Ms: Long = System.currentTimeMillis()
    /** job intervals, epoch ms */
    val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
    /** per call-site layer: its counters and job intervals */
    val sub = mutable.LinkedHashMap.empty[String, (Counters, mutable.ArrayBuffer[(Long, Long)])]
    /** root executions and jobs outside one, in start order, with their layer */
    val items = mutable.ArrayBuffer.empty[(Long, Long, Option[String])]
    def subCtr(l: String) = sub.getOrElseUpdate(l, (new Counters, mutable.ArrayBuffer.empty))
  }

  private var open: List[Open] = Nil
  /** job id -> (start ms, call-site layer, runs inside a SQL execution) */
  private val jobStart = mutable.Map.empty[Int, (Long, Option[String], Boolean)]
  private val stageLayer = mutable.Map.empty[Int, Option[String]]
  private val execLayer = mutable.Map.empty[Long, Option[String]]
  private val execStart = mutable.Map.empty[Long, Long]
  /** the last started execution's layer: the one a QueryExecutionListener
    * call reports on, as executions run one at a time (nested ones
    * share their parent's call stack)
    */
  private var lastExecLayer: Option[String] = None
  private var nextId = 0
  val spans = mutable.ArrayBuffer.empty[Span]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def drain(): Unit =
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  private def newId(): Int = { nextId += 1; nextId }

  /** The call-site layer whose class has a frame in `stack`. */
  private def layerOf(stack: Iterable[String]): Option[String] =
    byCallSite.collectFirst {
      case (l, cls) if stack.exists(s => s.contains(cls + "$") || s.contains(cls + ".")) => l
    }

  /** Run `body` as a span named `name` under `traceId`. */
  def span[T](traceId: Int, name: String)(body: => T): T = {
    drain()
    val o = new Open(newId(), traceId, name)
    val parent = open.headOption.map(_.id)
    synchronized { open = o :: open }
    try body
    finally {
      val t1 = System.nanoTime()
      drain() // events of the span's jobs may still be queued
      synchronized { open = open.tail }
      o.ctr.add("driver_idle_s", math.max(0.0, (t1 - o.t0Ns) / 1e9 - union(o.jobs.toSeq, o.t0Ms)))
      spans += Span(traceId, o.id, parent, name, Seq((o.t0Ns, t1)), o.ctr)
      closeSub(o, t1)
    }
  }

  /** The call-site layers' child spans of `o`, which ended at `t1Ns`. */
  private def closeSub(o: Open, t1Ns: Long): Unit = {
    def ns(ms: Long) = math.min(t1Ns, math.max(o.t0Ns, o.t0Ns + (ms - o.t0Ms) * 1000000L))
    val items = o.items.sortBy(_._1)
    o.sub.foreach { case (l, (ctr, jobs)) =>
      // each maximal run of the layer's consecutive items
      val runs = mutable.ArrayBuffer.empty[(Long, Long)]
      var prevMine = false
      items.foreach { case (s, e, il) =>
        val mine = il.contains(l)
        if (mine && prevMine) runs(runs.size - 1) = (runs.last._1, math.max(runs.last._2, e))
        else if (mine) runs += ((s, e))
        prevMine = mine
      }
      if (runs.nonEmpty) {
        val iv = runs.map { case (s, e) => (ns(s), ns(e)) }.toSeq
        val wall = iv.map { case (a, b) => b - a }.sum / 1e9
        ctr.add("driver_idle_s", math.max(0.0, wall - union(jobs.toSeq, o.t0Ms)))
        spans += Span(o.traceId, newId(), Some(o.id), l, iv, ctr)
      }
    }
  }

  /** Seconds covered by the union of [start, end] job intervals. */
  private def union(iv: Seq[(Long, Long)], floorMs: Long): Double = {
    var covered = 0L
    var cur = Long.MinValue
    iv.map { case (s, e) => (math.max(s, floorMs), e) }.sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, cur)
      if (e > from) { covered += e - from; cur = e }
    }
    covered / 1e3
  }

  /** Every open span receives the event (a parent covers its children),
    * and so does the innermost span's child of call-site layer `l`.
    */
  private def each(l: Option[String])(f: Counters => Unit): Unit = synchronized {
    open.foreach(o => f(o.ctr))
    for (layer <- l; o <- open.headOption) f(o.subCtr(layer)._1)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).filter(execLayer.contains)
    // a job inside an execution (also one run from a broadcast thread)
    // belongs to that execution's layer
    val l = exec.map(execLayer).getOrElse(layerOf(e.stageInfos.map(_.details)))
    synchronized {
      jobStart(e.jobId) = (e.time, l, exec.isDefined)
      e.stageIds.foreach(s => stageLayer.getOrElseUpdate(s, l))
    }
    each(l)(_.add("jobs", 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (s, l, inExec) =>
      open.foreach(_.jobs += ((s, e.time)))
      open.headOption.foreach { o =>
        l.foreach(o.subCtr(_)._2 += ((s, e.time)))
        if (!inExec) o.items += ((s, e.time, l))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    each(stageLayer.getOrElse(e.stageId, None)) { c =>
      c.add("tasks", 1)
      c.add("task_s", e.taskInfo.duration / 1e3)
      if (m != null) {
        c.add("cpu_s", m.executorCpuTime / 1e9)
        c.add("gc_s", m.jvmGCTime / 1e3)
        c.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        c.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        c.add("spill_bytes", m.diskBytesSpilled.toDouble)
        c.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        c.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val l = layerOf(s.details.split("\n"))
      synchronized {
        execLayer(s.executionId) = l
        lastExecLayer = l
        if (s.rootExecutionId.forall(_ == s.executionId)) execStart(s.executionId) = s.time
      }
      each(l)(_.add("sql_execs", 1))
    case x: SparkListenerSQLExecutionEnd => synchronized {
      for (s <- execStart.remove(x.executionId); o <- open.headOption)
        o.items += ((s, x.time, execLayer(x.executionId)))
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planning = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3
    val plan = qe.executedPlan
    val ex = Tracer.exchanges(plan)
    val cg = Tracer.codegenStages(plan)
    each(lastExecLayer) { c =>
      c.add("planning_s", planning)
      c.add("exchanges", ex)
      c.add("codegen_stages", cg)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Tracer {

  /** Walk a final plan, descending into AQE query stages. */
  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case s: QueryStageExec => walk(s.plan)(f)
      case _: ReusedExchangeExec => // counted where it was built
      case other =>
        other.children.foreach(walk(_)(f))
        other.subqueries.foreach(walk(_)(f))
    }
  }

  def exchanges(p: SparkPlan): Int = {
    var n = 0
    walk(p) { case _: ShuffleExchangeLike => n += 1; case _ => }
    n
  }

  def codegenStages(p: SparkPlan): Int = {
    var n = 0
    walk(p) { case _: WholeStageCodegenExec => n += 1; case _ => }
    n
  }
}
