package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one SparkSession builder: every main and the test suites get their
  * session here, so what is verified, benchmarked and run in production is
  * one configuration.
  *
  * It decides, in this one place:
  *
  *   - master: the `spark.master` sysprop (spark-submit's `--master`), else
  *     `SPARK_MASTER`, else `local[cores]`;
  *   - cores: the caller's explicit count, else `SPARK_GRAFT_CPUS`, else
  *     the JVM's available processors (so an unset box runs `local[*]`);
  *   - shuffle partitions: `SPARK_GRAFT_SHUFFLE`, else the core count. A
  *     new streaming checkpoint fixes this as its state-partition count;
  *   - fixed settings: UTC session time zone, AQE on, parquet
  *     timestamp[ns] read as INT64 (`nanosAsLong`, the corpus ships both
  *     ns and us forms), UI off;
  *   - shuffle codec, for mains that read a corpus: [[autoCodec]], or
  *     `SPARK_GRAFT_SHUFFLE_CODEC`.
  *
  * A key the launch already set (`--conf`, spark-defaults, a `-Dspark.*`
  * sysprop — all visible to `new SparkConf()`) is left alone, so a
  * deployment's explicit choice wins over every default here.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def defaultCores(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Shuffle codec sized from the corpus ON DISK, not guessed: zstd
    * halves shuffle write/spill where the volume is disk-scale (d7 at
    * sf10: 30.8 → 14.7 GB write, SCALING.md r15) but costs CPU where
    * it is not — the span-miner family (d7/d11–d13/x3) pays +10 s at
    * sf1 under zstd (measured min-of-2 both codecs). 1 GB of parquet
    * under sfDir is the measured crossover proxy (sf1 = 188 MB loses,
    * sf10 = 2.0 GB wins).
    */
  private[graft] def autoCodec(sfDir: String): String = {
    def bytes(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
    val b = bytes(new java.io.File(sfDir))
    val codec = if (b >= (1L << 30)) "zstd" else "lz4"
    graft.ext.Dedup.logRoute("benchCodec", codec, s"corpusBytes=$b")
    codec
  }

  /** The keys this builder sets for `app` on `cores` cores, minus those
    * `launch` already holds. `corpus` names the sf directory a main reads,
    * if any (it picks the shuffle codec). Pure apart from sizing the
    * corpus: starts no SparkContext.
    */
  def conf(app: String, cores: Int, corpus: Option[String] = None,
      env: Map[String, String] = sys.env,
      launch: SparkConf = new SparkConf()): Map[String, String] = {
    val codec = corpus.map(dir =>
      "spark.io.compression.codec" ->
        env.getOrElse("SPARK_GRAFT_SHUFFLE_CODEC", autoCodec(dir)))
    (Seq(
      "spark.master" -> env.getOrElse("SPARK_MASTER", s"local[$cores]"),
      "spark.app.name" -> app,
      "spark.sql.shuffle.partitions" ->
        env.getOrElse("SPARK_GRAFT_SHUFFLE", cores.toString),
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false") ++ codec)
      .filterNot { case (k, _) => launch.contains(k) }.toMap
  }

  /** The session for `app`: [[conf]] applied over whatever the launch set. */
  def getOrCreate(app: String, cores: Int = defaultCores(),
      corpus: Option[String] = None,
      logLevel: String = "WARN"): SparkSession = {
    val b = SparkSession.builder()
    conf(app, cores, corpus).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
