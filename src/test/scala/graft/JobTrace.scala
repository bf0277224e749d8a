package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What Spark ran while a block ran: jobs started, SQL executions started
  * (every `collect`, local frames included, is one), input bytes read by
  * the jobs' tasks, and the jobs per `spark.job.description`.
  */
final case class JobTrace(jobs: Int, sqlExecutions: Int, bytesRead: Long,
    jobsByDescription: Map[String, Int]) {
  def jobsDescribed(description: String): Int = jobsByDescription.getOrElse(description, 0)
}

object JobTrace {

  /** Runs `f` with a listener on the bus, draining the bus before and after
    * so that only the events `f` caused are counted.
    */
  def of[T](spark: SparkSession)(f: => T): (T, JobTrace) = {
    val (jobs, sql, bytes) = (new AtomicInteger, new AtomicInteger, new AtomicLong)
    val described = new ConcurrentHashMap[String, Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(d => described.merge(d, 1, _ + _))
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m => bytes.addAndGet(m.inputMetrics.bytesRead))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => sql.incrementAndGet(): Unit
        case _ =>
      }
    }
    val sc = spark.sparkContext
    ListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = f
      ListenerDrain.drain(sc)
      (r, JobTrace(jobs.get, sql.get, bytes.get, described.asScala.toMap))
    } finally sc.removeSparkListener(listener)
  }
}
