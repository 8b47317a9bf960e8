package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a workload, a phase or query, a layer call, or a
  * Spark job or stage. Times are nanoseconds on the driver's
  * `System.nanoTime` clock. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    start: Long, end: Long)

/** In-memory span recorder plus the Spark listeners of the traced run.
  *
  * Layer calls are wrapped from the benchmark's side ([[span]]); Spark jobs
  * and stages arrive from a [[SparkListener]] and are parented to the span
  * that was open on the submitting thread, which the recorder publishes as
  * the `perfbench.span` local property. Counters are cumulative; callers
  * snapshot them at unit boundaries after [[drain]]. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val current = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  // the driver clock and Spark's epoch-millisecond event times
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(epochMs: Long): Long = epochMs * 1000000L + clockOffsetNs

  val counters = new Counters

  def root: Long = current.get.headOption.getOrElse(0L)

  /** Runs `body` inside a span whose parent is the innermost open span of
    * this thread (or `parent`, when given). */
  def span[A](name: String, layer: String, parent: Long = -1L)(body: => A): A = {
    val id = nextId.getAndIncrement()
    val p = if (parent >= 0) parent else root
    val saved = current.get
    current.set(id :: saved)
    sc.setLocalProperty("perfbench.span", id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      current.set(saved)
      sc.setLocalProperty("perfbench.span", saved.headOption.map(_.toString).orNull)
      record(Span(id, p, name, layer, t0, t1))
    }
  }

  /** Records an interval measured by the caller, under the open span. */
  def interval(name: String, layer: String, start: Long, end: Long): Unit =
    record(Span(nextId.getAndIncrement(), root, name, layer, start, end))

  private def record(s: Span): Unit = spans.synchronized(spans += s)

  def allSpans: Seq[Span] = spans.synchronized(spans.toVector)

  /** Waits until every listener event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.perfbench.BusDrain.drain(sc)

  private val jobStart = mutable.Map.empty[Int, (Long, Long, Long)] // job -> (span, parent, start)
  private val stageJob = mutable.Map.empty[Int, Long]
  private val stageStart = mutable.Map.empty[(Int, Int), (Long, Long)] // -> (span, start)
  private val blocks = mutable.Map.empty[String, Long]
  private var stored = 0L

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val parent = Option(e.properties).flatMap(p =>
        Option(p.getProperty("perfbench.span"))).map(_.toLong).getOrElse(0L)
      val id = nextId.getAndIncrement()
      jobStart(e.jobId) = (id, parent, ns(e.time))
      e.stageIds.foreach(s => stageJob(s) = id)
      counters.jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (id, parent, t0) =>
        record(Span(id, parent, s"job ${e.jobId}", "spark", t0, ns(e.time)))
        counters.jobIntervals += ((t0, ns(e.time)))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val si = e.stageInfo
      val t0 = si.submissionTime.map(ns).getOrElse(System.nanoTime())
      stageStart((si.stageId, si.attemptNumber())) = (nextId.getAndIncrement(), t0)
      counters.stages += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      stageStart.remove((si.stageId, si.attemptNumber())).foreach { case (id, t0) =>
        val t1 = si.completionTime.map(ns).getOrElse(System.nanoTime())
        record(Span(id, stageJob.getOrElse(si.stageId, 0L),
          s"stage ${si.stageId}", "spark", t0, t1))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      counters.tasks += 1
      val info = e.taskInfo
      counters.taskBusyNs += (info.finishTime - info.launchTime) * 1000000L
      stageStart.get((e.stageId, e.stageAttemptId)).foreach { case (_, t0) =>
        counters.taskWaitNs += math.max(0L, ns(info.launchTime) - t0)
      }
      if (!info.successful) counters.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        counters.executorRunNs += m.executorRunTime * 1000000L
        counters.executorCpuNs += m.executorCpuTime
        counters.gcNs += m.jvmGCTime * 1000000L
        counters.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        counters.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        counters.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        stored += size - blocks.getOrElse(b.blockId.name, 0L)
        if (size == 0L) blocks.remove(b.blockId.name) else blocks(b.blockId.name) = size
        counters.storagePeakBytes = math.max(counters.storagePeakBytes, stored)
      }
    }
  }

  /** Query-level listener: planning phase time and the executed plan walk
    * (whole-stage-codegen stages, interpreted-fallback expressions). */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      note(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      note(qe)
  }

  private def note(qe: QueryExecution): Unit = {
    val planNs = Tracer.planNs(qe)
    val (wscg, fallback) = Tracer.walk(qe.executedPlan)
    counters.synchronized {
      counters.planNs += planNs
      counters.wscgStages += wscg
      counters.fallbackExprs += fallback
    }
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  def stop(): Unit = {
    drain()
    spark.listenerManager.unregister(queryListener)
    sc.removeSparkListener(listener)
  }
}

object Tracer {
  /** Analysis + optimization + physical planning time of one query. */
  def planNs(qe: QueryExecution): Long =
    Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum * 1000000L

  /** (whole-stage-codegen stages, expressions evaluated through the
    * interpreted CodegenFallback path) in an executed plan, descending into
    * adaptive query stages and subqueries. */
  def walk(plan: SparkPlan): (Long, Long) = {
    var wscg = 0L
    var fallback = 0L
    def visit(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan); return
        case q: QueryStageExec => visit(q.plan); return
        case _: WholeStageCodegenExec => wscg += 1
        case _ =>
      }
      p.expressions.foreach(_.foreach {
        case _: CodegenFallback => fallback += 1
        case _ =>
      })
      p.subqueries.foreach(visit)
      p.children.foreach(visit)
    }
    visit(plan)
    (wscg, fallback)
  }
}

/** Cumulative counters of the traced run. */
final class Counters {
  var jobs, stages, tasks, taskFailures = 0L
  var executorRunNs, executorCpuNs, gcNs, taskBusyNs, taskWaitNs = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var storagePeakBytes = 0L
  var planNs, wscgStages, fallbackExprs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def snapshot: Map[String, Long] = synchronized {
    Map("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "task_failures" -> taskFailures, "executor_run_ns" -> executorRunNs,
      "executor_cpu_ns" -> executorCpuNs, "gc_ns" -> gcNs,
      "task_busy_ns" -> taskBusyNs, "task_wait_ns" -> taskWaitNs,
      "shuffle_write_bytes" -> shuffleWriteBytes,
      "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes,
      "plan_ns" -> planNs, "wscg_stages" -> wscgStages,
      "fallback_exprs" -> fallbackExprs)
  }

  /** Nanoseconds of [t0, t1) covered by at least one running job. */
  def jobCoverage(t0: Long, t1: Long): Long = synchronized {
    val iv = jobIntervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }
}
