package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * reuses the active session via getOrCreate).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"
}

object SparkSpec {
  // cores = 4 pinned, not SPARK_GRAFT_CPUS: suites behave the same on any box
  lazy val session: SparkSession = Sessions.getOrCreate("graft-test", cores = 4)
}
