package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.{DataFrame, Row}

import graft.{JobTrace, SparkSpec}
import graft.batch.OhlcvBatchJob
import graft.ingest.FixtureGen
import graft.schema.Schemas.Tables
import graft.store.ServingStore
import graft.stream.OhlcvStreamJob

/** The row reads behind the HTTP routes: each answers as its `DataFrame`
  * adapter collects, and a warm request on any route runs no Spark job and
  * no SQL execution (a local frame's `collect` is one).
  */
class ApiRowsSpec extends SparkSpec {

  private val t0 = 1717200000000L // 2024-06-01T00:00:00Z
  private val Min = 60000L
  private val Hour = 3600000L
  private val midnight = t0 + 86400000L // 2024-06-02T00:00:00Z
  /** A chart window that spans midnight. */
  private val chartNow = Instant.ofEpochMilli(midnight + 15 * Min)
  /** A history `now` with a candle exactly 30 days before it and rows after it. */
  private val historyNow = Instant.ofEpochMilli(t0 + 9100 * Hour)
  private val Syms = Seq("BTC_USDT", "ETH_USDT")

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** All four tables: the three stream tables from candles around midnight,
    * and 420 days of 1h history per symbol (past the 10 000-row cap).
    */
  private lazy val store: ServingStore = {
    implicit val s = spark
    import spark.implicits._
    val st = new ServingStore(tmp("api-rows"))
    val from = chartNow.toEpochMilli - 35 * Min
    val candles = for {
      (sym, base) <- Seq("BTC/USDT" -> 100.0, "ETH/USDT" -> 50.0)
      ts <- Seq(from - Min, from, midnight - Min, midnight, chartNow.toEpochMilli,
        chartNow.toEpochMilli + Min)
    } yield FixtureGen.streamJson(sym, "1m",
      FixtureGen.Candle(ts, base - 1, base + 1, base - 2, base + ts % 7, 5.0))
    val parsed = OhlcvStreamJob.parse(candles.toDF("value"))
    st.overwrite(Tables.Latest, OhlcvStreamJob.latestAgg(parsed))
    st.appendLogVersioned(Tables.Stats, OhlcvStreamJob.statsAgg(parsed), 0L)
    st.appendLogPartitioned(Tables.ChartData, OhlcvStreamJob.chartRows(parsed), "dt")
    val raw = tmp("api-rows-raw")
    Syms.foreach(sym => FixtureGen.writeCsv(raw, FixtureGen.historicalFileName(sym, "1h"),
      FixtureGen.candles(sym, t0, Hour, 420 * 24)))
    OhlcvBatchJob.run(spark, Seq(raw), st)
    st
  }

  /** A value, or the class of what computing it threw. */
  private def outcome[T](f: => T): Either[Class[_], T] =
    try Right(f) catch { case e: Exception => Left(e.getClass) }

  /** Every row read beside its adapter, over `api`. */
  private def reads(api: Api): Seq[(String, () => Seq[Row], () => DataFrame)] = {
    val ranges = Seq("1m", "3m", "6m", "1y", "all", "5y")
    val pairs = Syms.map(_ -> "1h") ++ Seq("NOPE" -> "1h", "BTC_USDT" -> "4h")
    val symbols = Seq("BTC/USDT", "ETH/USDT", "NOPE/USDT")
    symbols.flatMap(sym => Seq(
      (s"latest $sym", () => api.latestCandleRow(sym).toSeq, () => api.latestCandle(sym)),
      (s"stats $sym", () => api.latestStatsRow(sym).toSeq, () => api.latestStats(sym)))) ++
    (for (sym <- symbols; (now, size) <- Seq(chartNow -> 200, chartNow -> 2,
        Instant.ofEpochMilli(t0) -> 200)) yield
      (s"chart $sym $now size=$size", () => api.chartRows(sym, now, size = size),
        () => api.chartData1m(sym, now, size = size))) ++
    (for ((sym, tf) <- pairs; range <- ranges; size <- Seq(10000, 100, 5)) yield
      (s"history $sym $tf range=$range size=$size",
        () => api.historicalRows(sym, tf, range, historyNow, size),
        () => api.historicalData(sym, tf, range, historyNow, size))) ++
    Seq(500, 1).flatMap(limit => Seq(
      (s"symbols limit=$limit", () => api.symbolList(limit).map(Row(_)),
        () => api.realtimeSymbols(limit)),
      (s"pairs limit=$limit", () => api.pairList(limit).map(Row(_)),
        () => api.historicalPairs(limit))))
  }

  test("every row read returns what its DataFrame adapter collects") {
    val api = new Api(store)
    for ((what, rows, df) <- reads(api))
      assert(outcome(rows()) == outcome(df().collect().toSeq), what)
    // the cases are not vacuous: the window spans midnight and the caps bind
    assert(api.chartRows("BTC/USDT", chartNow).map(_.getAs[Long]("timestamp_ms")) ==
      Seq(-35, -16, -15, 0).map(m => chartNow.toEpochMilli + m * Min))
    assert(api.historicalRows("BTC_USDT", "1h", "all", historyNow).length == 10000)
    assert(api.historicalRows("BTC_USDT", "1h", "1m", historyNow, 5).length == 5)
    assert(api.symbolList() == Seq("BTC/USDT", "ETH/USDT"))
    assert(api.pairList() == Seq("BTC_USDT_1h", "ETH_USDT_1h"))

    // absent tables: every read and its adapter throw the same exception
    val empty = new Api(new ServingStore(tmp("api-rows-empty"))(spark))
    for ((what, rows, df) <- reads(empty)) {
      val got = outcome(rows())
      assert(got == Left(classOf[IllegalArgumentException]), what)
      assert(outcome(df().collect().toSeq) == got, what)
    }
  }

  test("warm requests on all eight routes start no Spark job and no SQL execution") {
    val models = tmp("api-rows-models")
    val api = new Api(store)
    graft.ml.GbtLagModel.save(graft.ml.GbtLagModel.trainBundle(spark,
      api.lastCloses("BTC_USDT", "1h", 300), windowSize = 5, maxIter = 2),
      s"$models/BTC_USDT_1h")
    val http = new HttpApi(api, Some(models), () => chartNow)
    val port = http.start()
    try {
      val client = HttpClient.newHttpClient()
      val routes = Seq("/api/realtime_stats/BTC-USDT", "/api/chart_data_1m/BTC-USDT",
        "/api/historical_data/BTC_USDT_1h?range=all", "/api/predict_xgboost/BTC_USDT_1h",
        "/api/symbols", "/api/historical_pairs", "/", "/historical")
      def round(): Unit = routes.foreach { path =>
        val res = client.send(
          HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(res.statusCode() == 200, s"$path: ${res.body()}")
      }
      round() // builds the views and loads the model
      val (_, warm) = JobTrace.of(spark)((1 to 20).foreach(_ => round()))
      assert(warm.jobs == 0, s"20 warm rounds started ${warm.jobs} Spark job(s)")
      assert(warm.sqlExecutions == 0,
        s"20 warm rounds started ${warm.sqlExecutions} SQL execution(s)")
    } finally http.stop()
  }
}
