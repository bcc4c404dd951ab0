package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session; suites may
  * run concurrently — Spark sessions are thread-safe across queries). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft_warehouse_${ProcessHandle.current().pid()}")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    s
  }
}

/** Jobs started and ended under one value of a local property — the
  * spec's own tag, so jobs of anything else in the JVM do not count.
  * Pool threads a run creates inherit the tag, as do Spark's broadcast
  * and subquery threads (they copy the caller's local properties). */
final class TaggedJobs(tag: String)
    extends org.apache.spark.scheduler.SparkListener {
  private val mine = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  val ended = new java.util.concurrent.atomic.AtomicInteger()
  def started: Int = mine.size
  override def onJobStart(
      e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
    if (Option(e.properties)
        .exists(_.getProperty(TaggedJobs.Key) == tag)) mine.add(e.jobId)
  override def onJobEnd(
      e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
    if (mine.contains(e.jobId)) ended.incrementAndGet()
}

object TaggedJobs {
  val Key = "graft.spec.tag"
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf0001 = "/root/testdata/sf0.001"

  /** Run `body` with its jobs tagged and counted; the count is read after
    * the listener bus has delivered every event the body produced. */
  def countingJobs[A](tag: String)(body: => A): (TaggedJobs, A) = {
    val sc = spark.sparkContext
    val jobs = new TaggedJobs(tag)
    sc.addSparkListener(jobs)
    sc.setLocalProperty(TaggedJobs.Key, tag)
    try {
      val a = body
      org.apache.spark.ListenerBusDrain(sc)
      (jobs, a)
    } finally {
      sc.setLocalProperty(TaggedJobs.Key, null)
      sc.removeSparkListener(jobs)
    }
  }

  /** The whole-stage-codegen stages of `df`'s executed plan; once `df`
    * has run, read through AQE's final plan and its query stages. */
  def codegenStages(df: DataFrame): Seq[WholeStageCodegenExec] = {
    def walk(p: SparkPlan): Seq[WholeStageCodegenExec] = p match {
      case w: WholeStageCodegenExec => w +: walk(w.child)
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Run `body` with one session conf set, restoring the previous value. */
  def withSessionConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
