package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Pins the one session builder's conf map. Pure: no SparkContext starts —
  * the launch conf is passed in explicitly (`new SparkConf(false)` ignores
  * the test JVM's own `-Dspark.*` properties).
  */
class SessionsSpec extends AnyFunSuite {

  private val noLaunch = new SparkConf(false)
  private val mains = Seq("graft-pipeline", "graft-bench", "graft-verify",
    "graft-curate", "graft-serving", "graft-timeone", "graft-streambench",
    "graft-janitor", "graft-scalegen", "graft-showq", "graft-speed-layer",
    "graft-explain", "graft-stageprobe")

  test("every main gets partitions = cores, UTC, AQE and nanosAsLong") {
    for (app <- mains; cores <- Seq(1, 4, 32)) {
      val c = Sessions.conf(app, cores, env = Map.empty, launch = noLaunch)
      assert(c("spark.master") == s"local[$cores]", app)
      assert(c("spark.app.name") == app)
      assert(c("spark.sql.shuffle.partitions") == cores.toString, app)
      assert(c("spark.sql.session.timeZone") == "UTC", app)
      assert(c("spark.sql.adaptive.enabled") == "true", app)
      assert(c("spark.sql.legacy.parquet.nanosAsLong") == "true", app)
      assert(c("spark.ui.enabled") == "false", app)
      assert(!c.contains("spark.io.compression.codec"), app)
    }
  }

  test("StreamMain's map gives q1/q2 state partitions = cores, not 200") {
    // a new checkpoint fixes spark.sql.shuffle.partitions as the state
    // partition count of the stateful queries; unset, Spark bakes in 200
    assert(SQLConf.SHUFFLE_PARTITIONS.defaultValue.contains(200))
    val cores = Sessions.defaultCores(Map.empty)
    val c = Sessions.conf("graft-speed-layer", cores, env = Map.empty,
      launch = noLaunch)
    assert(c("spark.sql.shuffle.partitions") ==
      Runtime.getRuntime.availableProcessors.toString)
    assert(Sessions.conf("graft-speed-layer", 6,
      env = Map.empty, launch = noLaunch)("spark.sql.shuffle.partitions") == "6")
  }

  test("master and partitions follow the documented variables") {
    val env = Map("SPARK_MASTER" -> "spark://h:7077",
      "SPARK_GRAFT_SHUFFLE" -> "64")
    val c = Sessions.conf("graft-bench", 4, env = env, launch = noLaunch)
    assert(c("spark.master") == "spark://h:7077")
    assert(c("spark.sql.shuffle.partitions") == "64")
    assert(Sessions.defaultCores(Map("SPARK_GRAFT_CPUS" -> "12")) == 12)
    assert(Sessions.defaultCores(Map.empty) ==
      Runtime.getRuntime.availableProcessors)
  }

  test("a corpus main gets a shuffle codec; the variable overrides it") {
    val dir = java.nio.file.Files.createTempDirectory("sessions-corpus")
    val c = Sessions.conf("graft-verify", 4, corpus = Some(dir.toString),
      env = Map.empty, launch = noLaunch)
    assert(c("spark.io.compression.codec") == "lz4") // < 1 GB on disk
    val z = Sessions.conf("graft-verify", 4, corpus = Some(dir.toString),
      env = Map("SPARK_GRAFT_SHUFFLE_CODEC" -> "zstd"), launch = noLaunch)
    assert(z("spark.io.compression.codec") == "zstd")
  }

  test("a key the launch already set is not overridden") {
    val launch = new SparkConf(false)
      .set("spark.master", "yarn")
      .set("spark.sql.shuffle.partitions", "200")
      .set("spark.sql.session.timeZone", "Europe/Paris")
    val c = Sessions.conf("graft-speed-layer", 4, env = Map.empty,
      launch = launch)
    assert(!c.contains("spark.master"))
    assert(!c.contains("spark.sql.shuffle.partitions"))
    assert(!c.contains("spark.sql.session.timeZone"))
    assert(c("spark.sql.adaptive.enabled") == "true")
  }
}
