package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `rid` groups the spans of
  * one operation (an HTTP request replay or a query execution).
  */
final case class Span(id: Long, parent: Long, rid: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, it runs the body and records nothing,
  * so the untraced run carries no tracing cost beyond one branch.
  */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, Long)] { // (rid, span id)
    override def initialValue(): (Long, Long) = (0L, 0L)
  }

  /** Run `f` as operation `rid`: its Spark jobs carry the id, so listener
    * events can be attributed to the operation.
    */
  def op[T](name: String, rid: Long)(f: => T): T =
    if (!enabled) f
    else {
      val sc = spark.sparkContext
      sc.setLocalProperty(Trace.RidKey, rid.toString)
      current.set((rid, 0L))
      try span(name)(f)
      finally {
        sc.setLocalProperty(Trace.RidKey, null)
        current.set((0L, 0L))
      }
    }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val (rid, parent) = current.get()
      val id = ids.incrementAndGet()
      current.set((rid, id))
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, rid, name, t0, System.nanoTime()))
        current.set((rid, parent))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span: its duration minus the part its children cover. */
  def selfMs: Map[Long, Double] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.id -> (s.endNs - s.startNs - Stats.unionLength(kids)) / 1e6
    }.toMap
  }
}

object Trace {
  val RidKey = "perfbench.rid"
}

/** Spark scheduler listener: jobs, stages and task metrics, attributed to
  * the operation id carried in the job's local properties.
  */
final class JobListener extends SparkListener {
  final case class Job(id: Int, rid: Long, qeId: Long, submitMs: Long,
      var firstTaskMs: Long = Long.MaxValue, var stages: Seq[Int] = Nil)
  final case class Stage(var submitMs: Long = 0L, var endMs: Long = 0L,
      var runMs: Long = 0L, var cpuNs: Long = 0L, var gcMs: Long = 0L,
      var shuffleWriteB: Long = 0L, var spillB: Long = 0L)

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()
  @volatile var recording = false

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
    val rid = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Trace.RidKey))).map(_.toLong).getOrElse(0L)
    // the running SQL execution's QueryExecution, whose id the
    // QueryExecutionListener reports planning time under
    val qe = Option(e.properties).flatMap(p =>
      Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      .flatMap(x => Option(SQLExecution.getQueryExecution(x.toLong))).map(_.id).getOrElse(-1L)
    jobs.put(e.jobId, Job(e.jobId, rid, qe, e.time, stages = e.stageIds))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  private def stage(id: Int): Option[Stage] =
    if (!stageJob.containsKey(id)) None
    else Some(stages.computeIfAbsent(id, _ => Stage()))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stage(e.stageInfo.stageId).foreach(s =>
      s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stage(e.stageInfo.stageId).foreach { s =>
      s.submitMs = e.stageInfo.submissionTime.getOrElse(s.submitMs)
      s.endMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.synchronized { j.firstTaskMs = math.min(j.firstTaskMs, e.taskInfo.launchTime) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stage(e.stageId).foreach { s =>
      val m = e.taskMetrics
      if (m != null) s.synchronized {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        s.spillB += m.diskBytesSpilled
      }
    }

  def allStages: Seq[Stage] = stages.values.asScala.toSeq
  def stagesOf(js: Seq[Job]): Seq[Stage] =
    js.flatMap(_.stages).flatMap(s => Option(stages.get(s)))
}

/** Planning-phase times (analysis + optimization + planning) of every query
  * execution that ran an action, by `QueryExecution.id`.
  */
final class PlanListener extends QueryExecutionListener {
  val planMs = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
  @volatile var recording = false

  private def record(qe: QueryExecution): Unit = if (recording) {
    val ph = qe.tracker.phases
    planMs.put(qe.id, Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(_.durationMs.toDouble).sum)
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)
}
