package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Everything one run shares: the session, its arguments, and (traced runs
  * only) the spans and bench-registered listeners.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val trace: Boolean, val corrupt: Boolean, val work: Path, val cores: Int) {
  val tracer = new Tracer(trace, spark)
  val jobs = new JobListener
  val plans = new PlanListener
  if (trace) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
  }

  /** Seconds from JVM start to now: the run's set-up time when called just
    * before the first timed operation.
    */
  def sinceStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def record(on: Boolean): Unit = {
    drain()
    jobs.recording = on; plans.recording = on
  }

  def drain(): Unit = org.apache.spark.graftbridge.ListenerDrain.drain(spark.sparkContext)
}

/** A workload's result: operation counts, end-to-end metrics (the timed
  * part of the run, traced or not), per-layer metrics (traced runs) and
  * free-form detail for the artifact.
  */
final case class Outcome(attempted: Long, failed: Long,
    e2e: Map[String, Double], layers: Map[String, Double],
    detail: com.fasterxml.jackson.databind.JsonNode, errors: Seq[String])

object Main {

  /** Progress to standard error, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${(System.currentTimeMillis() -
    ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%7.2f s  $msg")

  val E2E: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "primary_ms" -> "ms", "secondary_ms" -> "ms")

  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    // HttpApi's request pool threads are not daemons: exit explicitly
    sys.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val corrupt = opts.getOrElse("corrupt", "0") == "1"
    val cores = opts.getOrElse("cores", "4").toInt
    val work = Files.createDirectories(Path.of(opts.getOrElse("work", "work")).toAbsolutePath)
    val artifact = opts.get("artifact")
    val workloadRun: Ctx => Outcome = workload match {
      case "dashboard" => Dashboard.run
      case "lambda_live" => LambdaLive.run
      case "query_sweep" => QuerySweep.run(Path.of(opts("data")), opts("prep-s").toDouble)
      case other => sys.error(s"unknown workload $other")
    }
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, seed, seconds, trace, corrupt, work, cores)
    val out = try workloadRun(ctx) finally { log("stopping"); spark.stop() }
    val metrics =
      if (trace) Layers.Names.map(n => n -> (out.layers.getOrElse(n, 0.0), Layers.unit(n)))
      else E2E.map { case (n, u) => n -> (out.e2e(n), u) }
    val json = Json.obj(
      "correct" -> (out.failed == 0), "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> Json.obj(metrics.map { case (n, (v, u)) =>
        n -> Json.obj("value" -> v, "unit" -> u) }: _*))
    artifact.foreach { p =>
      val a = Json.obj(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "cores" -> cores, "attempted" -> out.attempted, "failed" -> out.failed,
        "errors" -> out.errors.take(20), "e2e" -> out.e2e, "layers" -> out.layers,
        "detail" -> out.detail)
      Files.createDirectories(Path.of(p).toAbsolutePath.getParent)
      Files.writeString(Path.of(p), Json.mapper.writeValueAsString(a) + "\n")
    }
    out.errors.take(10).foreach(e => System.err.println(s"[perfbench] FAILED: $e"))
    println(Json.mapper.writeValueAsString(json))
    System.out.flush()
  }
}
