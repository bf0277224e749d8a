package graft.store

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{JobTrace, SparkSpec}
import graft.api.Api
import graft.batch.{HistoryTail, OhlcvBatchJob}
import graft.ingest.FixtureGen
import graft.schema.Schemas.Tables
import graft.stream.OhlcvStreamJob

/** The janitor over the store the stream and batch jobs actually write:
  * compaction changes files, never what the routes serve, and leaves the
  * overwrite-fed latest table alone.
  */
class JanitorTopologySpec extends SparkSpec {

  private val t0 = 1717200000000L // 2024-06-01T00:00:00Z

  private def js(sym: String, minute: Int, close: Double): String =
    FixtureGen.streamJson(sym, "1m", FixtureGen.Candle(t0 + minute * 60000L,
      close - 1, close + 1, close - 2, close, 5.0))

  test("janitor after OhlcvStreamJob.start: served rows unchanged, latest untouched") {
    implicit val s = spark
    import spark.implicits._
    val store = new ServingStore(Files.createTempDirectory("janitor-topo").toString)
    val mem = MemoryStream[String](41)(implicitly, spark.sqlContext)
    val qs = OhlcvStreamJob.start(OhlcvStreamJob.parse(mem.toDF()), store,
      Files.createTempDirectory("janitor-topo-ckpt").toString)
    val first = Seq(js("BTC/USDT", 1, 100.0), js("BTC/USDT", 2, 101.0),
      js("ETH/USDT", 1, 50.0))
    try {
      // batch 2 replays batch 1 (at-least-once delivery); batch 3 lands in
      // windows batch 1 already emitted, so q2 re-emits them (a correction)
      Seq(first, first, Seq(js("BTC/USDT", 3, 104.0), js("ETH/USDT", 2, 49.0)))
        .foreach { b =>
          mem.addData(b: _*)
          qs.foreach(_.processAllAvailable())
        }
    } finally qs.foreach(_.stop())

    val api = new Api(store)
    val now = Instant.ofEpochMilli(t0 + 10 * 60000L)
    def served(): Seq[Seq[Row]] = Seq("BTC/USDT", "ETH/USDT").flatMap { sym =>
      Seq(api.latestCandle(sym), api.latestStats(sym), api.chartData1m(sym, now))
        .map(_.collect().toSeq)
    }
    val before = served()
    assert(before.forall(_.nonEmpty), s"a route served nothing: $before")
    val latestVersion = store.version(Tables.Latest)
    assert(latestVersion.exists(_.pointer.isDefined), "latest has no _current pointer")
    val (chartRaw, statsRaw) =
      (store.table(Tables.ChartData).count(), store.table(Tables.Stats).count())

    JanitorMain.run(store, now)

    assert(store.table(Tables.ChartData).count() < chartRaw,
      "chart compaction removed no replayed row")
    assert(store.table(Tables.Stats).count() < statsRaw,
      "stats compaction removed no superseded window")
    assert(store.version(Tables.Latest) == latestVersion,
      "the janitor rewrote the overwrite-fed latest table")
    assert(served() == before)
  }

  test("janitor compacts history: same served rows, fewer files, one index rebuild") {
    implicit val s = spark
    val hour = 3600000L
    val syms = Seq("BTC_USDT", "ETH_USDT")
    val series = syms.map(sym => sym -> FixtureGen.candles(sym, t0, hour, 60)).toMap
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val store = new ServingStore(tmp("janitor-hist"))
    val base = tmp("janitor-hist-raw")
    syms.foreach(sym => FixtureGen.writeCsv(base, s"${sym}_1h.csv", series(sym).take(50)))
    OhlcvBatchJob.run(spark, Seq(base), store)
    def hourly(k: Int): JobTrace = {
      val dir = tmp(s"janitor-hist-upd-$k")
      syms.foreach(sym => FixtureGen.writeCsv(dir,
        FixtureGen.updateFileName(sym, "1h", series(sym)(k).timestamp), Seq(series(sym)(k))))
      val (n, trace) = JobTrace.of(spark)(
        OhlcvBatchJob.runIncremental(spark, Seq(dir), store))
      assert(n == syms.size)
      trace
    }
    (50 until 54).foreach(hourly)

    val api = new Api(store)
    val now = Instant.ofEpochMilli(t0 + 60 * hour)
    def served() = syms.map(sym => (api.historicalData(sym, "1h", "all", now).collect().toSeq,
      api.lastCloses(sym, "1h", 30).toSeq))
    def files() = store.version(Tables.Historical).get.files.size
    val (before, filesBefore) = (served(), files())

    JanitorMain.run(store, now)

    assert(files() < filesBefore, s"history still holds ${files()} files")
    assert(served() == before)
    val compacted = store.version(Tables.Historical)
    JanitorMain.run(store, now)
    assert(store.version(Tables.Historical) == compacted,
      "the janitor rewrote history no batch appended to")
    assert(hourly(54).jobsDescribed(HistoryTail.RebuildJobs) > 0, "the index survived the compaction")
    assert(hourly(55).jobsDescribed(HistoryTail.RebuildJobs) == 0, "the index was rebuilt twice")
    val truthDir = tmp("janitor-hist-truth")
    syms.foreach(sym => FixtureGen.writeCsv(truthDir, s"${sym}_1h.csv", series(sym).take(56)))
    val truth = new ServingStore(tmp("janitor-hist-truth-store"))
    OhlcvBatchJob.run(spark, Seq(truthDir), truth)
    def rows(st: ServingStore) = st.table(Tables.Historical).collect()
      .map(r => (r.getAs[String]("doc_id"), r.getAs[Double]("sma_7"),
        r.getAs[Double]("sma_30"))).sortBy(_._1).toSeq
    assert(rows(store) == rows(truth), "incremental diverged from full recompute")
  }
}
