package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Fnv

/** SQL-surface registration: the native expressions must be reachable from
  * pure SQL via SparkSessionExtensions.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    // Extensions bind at session creation; getOrCreate would return the
    // shared extension-less test session, so force a fresh one (same
    // SparkContext) and leave the shared session as default for others.
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    prior.foreach { p => SparkSession.setDefaultSession(p) }
    s
  }

  test("native functions callable from SQL") {
    val r = spark.sql(
      """SELECT fnv1a64('a') AS f, simhash64('hello world') AS sh,
               dot_f(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
                     array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
               size(shingle_hashes('abcdef', 3)) AS n_shingles,
               size(minhash_sig(shingle_hashes('abcdef', 3), 16)) AS n_sig,
               sorted_intersect_size(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS c,
               zorder_key(3, 5) AS z
      """).collect()(0)
    assert(r.getLong(0) == Fnv.compute(UTF8String.fromString("a")))
    assert(r.getDouble(2) == 11.0)
    assert(r.getInt(3) == 4) // 'abc','bcd','cde','def'
    assert(r.getInt(4) == 16)
    assert(r.getLong(5) == 2L)
    assert(r.getLong(6) == 27L) // x=011 odd bits, y=101 even -> 0b011011
    val e = intercept[Exception] {
      spark.sql("SELECT zorder_key(1, 2, 3)").collect()
    }
    assert(e.getMessage.contains("takes 2 arguments"), e.getMessage)
  }

  test("winnow_fingerprints and kll_quantile callable from SQL") {
    val r = spark.sql(
      """SELECT size(winnow_fingerprints('abcdefghijklmnop', 3, 4)) AS n_fp
      """).collect()(0)
    assert(r.getInt(0) >= 1 && r.getInt(0) <= 11)
    val agg = spark.sql(
      """SELECT kll_quantile(v, CAST(0.5 AS DOUBLE), 100) AS med
         FROM (SELECT explode(sequence(1, 1000)) AS v)""").collect()(0)
    assert(math.abs(agg.getDouble(0) - 500.0) <= 50, s"SQL median: $agg")
  }

  test("kll_quantile rejects a NULL quantile literal with a clear error") {
    val e = intercept[Exception] {
      spark.sql("SELECT kll_quantile(v, CAST(NULL AS DOUBLE)) " +
        "FROM (SELECT explode(sequence(1, 10)) AS v)").collect()
    }
    assert(e.getMessage.contains("non-null quantile"),
      s"expected the null-literal guard, got: ${e.getMessage}")
  }

  test("kll_quantile over a non-numeric column fails at analysis, not mid-job") {
    // strings implicit-cast (ANSI, like avg); a truly non-numeric type must
    // fail analysis with a type error instead of NumberFormatException on
    // executors
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT kll_quantile(m, 0.5) " +
        "FROM (SELECT map('a', 1) AS m)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("type"),
      s"expected a data-type mismatch, got: ${e.getMessage}")
  }

  test("non-literal k is rejected with a clear error") {
    val e = intercept[Throwable] {
      spark.sql("SELECT shingle_hashes('abc', length('xx'))").collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("literal int")), chain(e).mkString(" | "))
  }
}
