package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

object Clock {
  private val baseNs = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L

  /** Epoch microseconds read from the monotonic clock, so that span times
    * line up with the epoch-millisecond times of Spark's listener events. */
  def nowUs: Long = baseEpochUs + (System.nanoTime() - baseNs) / 1000L
}

/** One call into a layer. `op` is the id of the operation it belongs to;
  * `group` is the Spark job group its jobs ran under. */
final class Span(val id: Int, val parent: Int, val op: Int, val name: String,
                 val startUs: Long) {
  @volatile var endUs: Long = -1L
  @volatile var group: String = ""
  def durUs: Long = endUs - startUs
}

/** Records spans around the benchmark's own calls into each graft module.
  * While disabled it runs the body and records nothing. */
final class Tracer(spark: SparkSession) {
  @volatile var enabled = false
  private val recorded = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val open = new ThreadLocal[Span]
  private val off = new Span(0, 0, -1, "", 0L)

  def spans: Seq[Span] = recorded.asScala.toSeq

  /** Run `body` inside a span. Spans opened on one thread nest. The span's
    * Spark jobs run under a job group of its own; the enclosing span's
    * group is restored when it closes. A root span starts operation `op`. */
  def span[A](name: String, op: Int = -1)(body: Span => A): A =
    if (!enabled) body(off) else {
      val parent = open.get()
      val s = new Span(ids.incrementAndGet(),
        if (parent == null) 0 else parent.id,
        if (parent == null) op else parent.op, name, Clock.nowUs)
      s.group = s"perfbench-op${s.op}-span${s.id}"
      val sc = spark.sparkContext
      sc.setJobGroup(s.group, name)
      open.set(s)
      try body(s)
      finally {
        s.endUs = Clock.nowUs
        open.set(parent)
        if (parent == null) sc.clearJobGroup()
        else sc.setJobGroup(parent.group, parent.name)
        recorded.add(s)
      }
    }
}

final class Job(val group: String, val startMs: Long) { var endMs: Long = -1L }

final case class Task(stage: Int, durMs: Long, runMs: Long, cpuNs: Long,
                      gcMs: Long, spill: Long, in: Long, out: Long,
                      shuffleW: Long, shuffleR: Long, fetchWaitMs: Long)

/** Scheduler, executor and shuffle counters, kept per job and per task. */
final class JobListener extends SparkListener {
  val jobs = mutable.Map[Int, Job]()
  val stageJob = mutable.Map[Int, Int]()
  val tasks = ArrayBuffer[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = new Job(g, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, e.taskInfo.duration,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime)
  }
}

final case class Plan(startMs: Long, analysisMs: Double,
                      optimizationMs: Double, planningMs: Double)

/** Catalyst phase times of every executed query. */
final class PlanListener extends QueryExecutionListener {
  val plans = ArrayBuffer[Plan]()

  override def onSuccess(f: String, qe: QueryExecution, durNs: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
    plans += Plan(start, ms(QueryPlanningTracker.ANALYSIS),
      ms(QueryPlanningTracker.OPTIMIZATION), ms(QueryPlanningTracker.PLANNING))
  }
}

final case class Progress(runId: String, startMs: Long, durations: Map[String, Long])

/** The per-trigger phase durations that Structured Streaming reports. */
final class StreamListener extends StreamingQueryListener {
  val progress = ArrayBuffer[Progress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      progress += Progress(p.runId.toString,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    }
}

/** The traced run's instruments: the tracer plus Spark listeners, turned
  * on together for the traced phase and read once it has ended. */
final class Layers(spark: SparkSession, tracer: Tracer, cores: Int) {
  private val sc = spark.sparkContext
  private val jobsL = new JobListener
  private val plansL = new PlanListener
  private val streamL = new StreamListener
  private var cache = Map.empty[String, Double]

  def start(): Unit = {
    // events of untraced operations must not reach the new listeners
    PerfbenchAccess.drainListenerBus(sc)
    sc.addSparkListener(jobsL)
    spark.listenerManager.register(plansL)
    spark.streams.addListener(streamL)
    tracer.enabled = true
  }

  def stop(): Unit = {
    tracer.enabled = false
    PerfbenchAccess.drainListenerBus(sc)
    sc.removeSparkListener(jobsL)
    spark.listenerManager.unregister(plansL)
    spark.streams.removeListener(streamL)
    cache = Map(
      "cache.rdds_alive" -> sc.getPersistentRDDs.size.toDouble,
      "cache.broadcast_blocks_alive" ->
        PerfbenchAccess.broadcastBlocksAlive().toDouble,
      "cache.storage_bytes" ->
        sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble)
  }

  private def opSpans: Seq[Span] = tracer.spans.filter(_.parent == 0)

  /** Length of the union of `[s, e)` intervals. */
  private def unionLen(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  /** Self time of a span: its duration minus what its children cover. */
  def selfUs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLen(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))))
      s.id -> (s.durUs - covered)
    }.toMap
  }

  /** Operations whose descendants' self times add up to more than the
    * operation's own wall time (the tracing invariant; expected empty). */
  def selfTimeViolations(): Seq[Int] = {
    val spans = tracer.spans
    val self = selfUs(spans)
    spans.filter(_.parent == 0).filter { op =>
      spans.filter(s => s.op == op.op && s.parent != 0).map(s => self(s.id)).sum >
        op.durUs
    }.map(_.op)
  }

  /** Per-operation layer metrics over the traced phase. `moduleSpans` maps
    * a metric name to the span it reads: `_s` metrics are seconds per
    * operation, `_ms` metrics the median span in milliseconds. */
  def metrics(moduleSpans: Seq[(String, String)]): Map[String, Double] = {
    val ops = opSpans
    val n = math.max(ops.size, 1).toDouble
    val spans = tracer.spans
    val plans = plansL.synchronized(plansL.plans.toList)
    val (jobs, tasks) = jobsL.synchronized((jobsL.jobs.toMap, jobsL.tasks.toList))
    val progress = streamL.synchronized(streamL.progress.toList)

    val opWallUs = unionLen(ops.map(o => (o.startUs, o.endUs))).toDouble
    val jobIv = jobs.values.filter(_.endMs > 0).map(j => (j.startMs * 1000L, j.endMs * 1000L)).toSeq
    val gapUs = ops.map { o =>
      o.durUs - unionLen(jobIv.map { case (s, e) =>
        (math.max(s, o.startUs), math.min(e, o.endUs)) })
    }.sum
    val skews = tasks.groupBy(_.stage).values.filter(_.size >= 2).flatMap { ts =>
      val d = ts.map(_.durMs.toDouble).sorted
      val med = Stats.median(d)
      if (med > 0) Some(d.last / med) else None
    }
    def phase(k: String) = progress.map(_.durations.getOrElse(k, 0L)).sum / n
    val drains = spans.filter(_.name == "StreamingIngest.drain")
    val startMs = drains.flatMap { d =>
      progress.filter(_.runId == d.group).map(_.startMs).minOption
        .map(_ - d.startUs / 1000.0)
    }.sum

    val module = moduleSpans.map { case (metric, spanName) =>
      val ds = spans.filter(_.name == spanName).map(_.durUs.toDouble)
      metric -> (if (metric.endsWith("_ms")) Stats.median(ds) / 1000.0
                 else ds.sum / 1e6 / n)
    }

    Map(
      "catalyst.analysis_ms" -> plans.map(_.analysisMs).sum / n,
      "catalyst.optimization_ms" -> plans.map(_.optimizationMs).sum / n,
      "catalyst.planning_ms" -> plans.map(_.planningMs).sum / n,
      "catalyst.executions" -> plans.size / n,
      "scheduler.jobs" -> jobs.size / n,
      "scheduler.stages" -> tasks.map(_.stage).distinct.size / n,
      "scheduler.tasks" -> tasks.size / n,
      "scheduler.driver_gap_ms" -> gapUs / 1000.0 / n,
      "executor.run_ms" -> tasks.map(_.runMs).sum / n,
      "executor.cpu_ms" -> tasks.map(_.cpuNs).sum / 1e6 / n,
      "executor.gc_ms" -> tasks.map(_.gcMs).sum / n,
      "executor.busy_share" ->
        (if (opWallUs > 0) tasks.map(_.runMs).sum * 1000.0 / (cores * opWallUs) else 0.0),
      "executor.task_skew" -> (if (skews.isEmpty) 1.0 else skews.sum / skews.size),
      "executor.spill_bytes" -> tasks.map(_.spill).sum / n,
      "executor.input_bytes" -> tasks.map(_.in).sum / n,
      "executor.output_bytes" -> tasks.map(_.out).sum / n,
      "shuffle.write_bytes" -> tasks.map(_.shuffleW).sum / n,
      "shuffle.read_bytes" -> tasks.map(_.shuffleR).sum / n,
      "shuffle.fetch_wait_ms" -> tasks.map(_.fetchWaitMs).sum / n,
      "stream.triggers" -> progress.size / n,
      "stream.start_ms" -> startMs / n,
      "stream.latest_offset_ms" -> phase("latestOffset"),
      "stream.get_batch_ms" -> phase("getBatch"),
      "stream.add_batch_ms" -> phase("addBatch"),
      "stream.query_planning_ms" -> phase("queryPlanning"),
      "stream.wal_commit_ms" -> phase("walCommit"),
      "stream.commit_ms" -> phase("commitOffsets")
    ) ++ module ++ cache
  }

  /** One JSON object per span: timing, self time, and the Spark work
    * charged to it. A job is charged to the span whose job group it ran
    * under; a job without one of the benchmark's groups (one run on a
    * thread of `graft.Serve`) and a query's Catalyst time are charged to
    * the innermost span open when the job started or the planning began. */
  def spanLines(): Seq[String] = {
    val spans = tracer.spans.sortBy(s => (s.startUs, s.id))
    val self = selfUs(spans)
    val t0 = spans.map(_.startUs).minOption.getOrElse(0L)
    val (jobs, tasks) = jobsL.synchronized((jobsL.jobs.toMap, jobsL.tasks.toList))
    val plans = plansL.synchronized(plansL.plans.toList)
    val byGroup = spans.map(s => s.group -> s.id).toMap
    def openAt(ms: Long): Option[Int] =
      spans.filter(s => s.startUs <= ms * 1000L && ms * 1000L < s.endUs)
        .maxByOption(_.startUs).map(_.id)
    val spanOfJob = jobs.map { case (id, j) =>
      id -> byGroup.get(j.group).orElse(openAt(j.startMs)) }
    val jobsBy = spanOfJob.values.flatten.groupBy(identity).map { case (s, js) => s -> js.size }
    val tasksBy = tasks.groupBy(t =>
      jobsL.stageJob.get(t.stage).flatMap(spanOfJob.get).flatten)
    val planMsBy = plans.flatMap { p =>
      openAt(p.startMs).map(s => s -> (p.analysisMs + p.optimizationMs + p.planningMs))
    }.groupMapReduce(_._1)(_._2)(_ + _)
    spans.map { s =>
      val ts = tasksBy.getOrElse(Some(s.id), Nil)
      Json.render(scala.collection.immutable.ListMap(
        "op" -> s.op, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> (s.startUs - t0) / 1000.0, "dur_ms" -> s.durUs / 1000.0,
        "self_ms" -> self(s.id) / 1000.0, "job_group" -> s.group,
        "jobs" -> jobsBy.getOrElse(s.id, 0), "tasks" -> ts.size,
        "executor_run_ms" -> ts.map(_.runMs).sum,
        "catalyst_ms" -> planMsBy.getOrElse(s.id, 0.0)))
    }
  }
}

object Stats {
  /** Median (mean of the middle two on an even count), 0 when empty. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}
