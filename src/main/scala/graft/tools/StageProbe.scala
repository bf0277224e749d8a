package graft.tools

import org.apache.spark.scheduler._

/** r15 stage-attribution probe: runs one SparkEntry query (warm, after
  * one untimed pass) and prints per-stage wall, task count, and summed
  * task metrics — localizes whether a slow query is scan-bound,
  * exchange-bound, or scheduler-latency-bound. Dev tool.
  *
  * Usage: sbt "runMain graft.tools.StageProbe <query> [sfDir]"
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.getOrCreate("graft-stageprobe",
      corpus = Some(sfDir), logLevel = "ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val fn = graft.SparkEntry.queries(name)
    // warm pass (codegen, footers)
    fn(spark, sfDir).write.mode("overwrite").format("noop").save()

    case class St(id: Int, nameLine: String, submitted: Long,
      completed: Long, tasks: Int, runTimeMs: Long, cpuMs: Long,
      inRows: Long, outRows: Long, shRead: Long, shWrite: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(): Unit
      }
      override def onStageCompleted(
          e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        stages.add(St(si.stageId, si.name.take(60),
          si.submissionTime.getOrElse(0L),
          si.completionTime.getOrElse(0L), si.numTasks,
          m.executorRunTime, m.executorCpuTime / 1000000,
          m.inputMetrics.recordsRead, m.outputMetrics.recordsWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // r16: in-process stack sampler over the executor threads (local
    // mode shares the JVM) — attach tooling is unavailable in the
    // sandbox, and run ≫ cpu task metrics need frame-level attribution.
    val sampling = new java.util.concurrent.atomic.AtomicBoolean(true)
    val frameCounts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val sampler = new Thread(() => {
      while (sampling.get()) {
        import scala.jdk.CollectionConverters._
        Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
          if (t.getName.startsWith("Executor task launch") && st.nonEmpty) {
            val top = st.take(6).map(_.toString).mkString(" <- ")
            frameCounts.merge(top, 1, (a, b) => a + b): Unit
          }
        }
        Thread.sleep(10)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.mode("overwrite").format("noop").save()
    val wall = (System.nanoTime() - t0) / 1e9
    sampling.set(false)
    Thread.sleep(1500) // drain the async listener bus (dev tool)
    locally {
      import scala.jdk.CollectionConverters._
      println("[stageprobe] top sampled executor frames:")
      frameCounts.asScala.toSeq.sortBy(_._2.intValue()).reverse.take(15)
        .foreach { case (f, c) => println(f"[stageprobe]   $c%5d  $f") }
    }
    println(f"[stageprobe] $name wall=$wall%.2f s jobs=${jobs.get()}")
    import scala.jdk.CollectionConverters._
    val ss = stages.asScala.toSeq.sortBy(_.submitted)
    val minT = ss.headOption.map(_.submitted).getOrElse(0L)
    ss.foreach { s =>
      println(f"[stageprobe] stage=${s.id}%4d " +
        f"t+${(s.submitted - minT) / 1000.0}%6.2f..+${(s.completed - minT) / 1000.0}%6.2f " +
        f"wall=${(s.completed - s.submitted) / 1000.0}%5.2f tasks=${s.tasks}%3d " +
        f"run=${s.runTimeMs / 1000.0}%6.2f cpu=${s.cpuMs / 1000.0}%6.2f " +
        f"inRows=${s.inRows}%8d shR=${s.shRead}%9d shW=${s.shWrite}%9d " +
        s"${s.nameLine}")
    }
    spark.stop()
  }
}
