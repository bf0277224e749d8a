package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.time.Instant

import graft.SparkSpec
import graft.batch.OhlcvBatchJob
import graft.ingest.FixtureGen
import graft.schema.Schemas.Tables
import graft.store.ServingStore
import graft.stream.OhlcvStreamJob

/** The six HTTP routes served end-to-end over a fixture store: responses
  * must be byte-identical to the Responses goldens and status codes must
  * mirror the reference's error handling (app.py).
  */
class HttpApiSpec extends SparkSpec {

  private val t0 = 1717200000000L // 2024-06-01T00:00:00Z
  private val now = Instant.ofEpochMilli(t0 + 60L * 24 * 3600000L)

  private lazy val (api, port, modelsDir) = {
    implicit val s = spark
    val raw = Files.createTempDirectory("http-raw").toString
    FixtureGen.writeCsv(raw, FixtureGen.historicalFileName("BTC_USDT", "1h"),
      FixtureGen.candles("BTC_USDT", t0, 3600000L, 24 * 60))
    val st = new ServingStore(Files.createTempDirectory("http-store").toString)
    OhlcvBatchJob.run(spark, Seq(raw), st)
    val a = new Api(st)
    // persist a real bundle so the predict route exercises the load path
    val modelsDir = Files.createTempDirectory("http-models").toString
    val closes = a.lastCloses("BTC_USDT", "1h", 300)
    graft.ml.GbtLagModel.save(
      graft.ml.GbtLagModel.trainBundle(spark, closes, windowSize = 5,
        maxIter = 3),
      s"$modelsDir/BTC_USDT_1h")
    val h = new HttpApi(a, Some(modelsDir), () => now)
    val p = h.start()
    (a, p, modelsDir)
  }

  private def get(path: String): (Int, String) = {
    val client = HttpClient.newHttpClient()
    val res = client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).build(),
      HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }

  test("historical_data route serves the Chart.js golden JSON") {
    val (code, body) = get("/api/historical_data/BTC_USDT_1h?range=1m")
    assert(code == 200)
    val expected = Responses.historicalData("BTC_USDT", "1h",
      api.historicalData("BTC_USDT", "1h", "1m", now)
        .orderBy("timestamp").collect().toSeq)
    assert(body == expected, "HTTP body must be byte-identical to the golden")
    assert(body.contains("\"borderColor\":\"rgb(75, 192, 192)\""))
  }

  test("dropdown JSON routes serve the symbols the pages embed") {
    val (code, body) = get("/api/historical_pairs")
    assert(code == 200 && body == "[\"BTC_USDT_1h\"]")
    assert(get("/api/symbols")._1 == 200)
  }

  test("page routes serve the HTML dashboards with injected dropdowns") {
    val client = HttpClient.newHttpClient()
    for ((path, mustEmbed) <- Seq("/" -> "SYMBOLS = [",
        "/historical" -> "\"BTC_USDT_1h\"")) {
      val res = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(res.statusCode() == 200)
      assert(res.headers().firstValue("Content-Type").orElse("")
        .startsWith("text/html"), s"$path content type")
      assert(res.body().startsWith("<!DOCTYPE html>"), s"$path body")
      assert(res.body().contains(mustEmbed),
        s"$path must embed the server-side dropdown data $mustEmbed")
      assert(res.body().contains("chart.js"), s"$path must load Chart.js")
    }
  }

  test("predict route: persisted bundle end-to-end, reference error codes") {
    val (code, body) = get("/api/predict_xgboost/BTC_USDT_1h")
    assert(code == 200, body)
    assert(body.startsWith("""[{"timestamp":"""))
    // reference semantics: non-1h → 400 (app.py:202)
    assert(get("/api/predict_xgboost/BTC_USDT_4h")._1 == 400)
    // unconfigured symbol → 400 (app.py:206)
    assert(get("/api/predict_xgboost/DOGE_USDT_1h")._1 == 400)
    // configured symbol, missing artifact → 404 (app.py:211)
    assert(get("/api/predict_xgboost/ETH_USDT_1h")._1 == 404)
    // malformed → 400 (app.py:199)
    assert(get("/api/predict_xgboost/nounderscore")._1 == 400)
  }

  test("unknown paths 404 instead of falling through to the root handler") {
    assert(get("/favicon.ico")._1 == 404)
    assert(get("/api/unknown")._1 == 404)
    assert(get("/historical/extra")._1 == 404)
    assert(get("/")._1 == 200)
    assert(get("/historical")._1 == 200)
  }

  test("a model deployed AFTER a failed lookup becomes servable immediately") {
    // ETH is a configured symbol with no artifact → 404 "model not found"
    // (and, per the reference's per-request resolution, the failure must
    // NOT be cached)
    val (c1, b1) = get("/api/predict_xgboost/ETH_USDT_1h")
    assert(c1 == 404 && b1.contains("Model for ETH_USDT not found"), b1)
    val closes = api.lastCloses("BTC_USDT", "1h", 300)
    graft.ml.GbtLagModel.save(
      graft.ml.GbtLagModel.trainBundle(spark, closes, windowSize = 24,
        maxIter = 3),
      s"$modelsDir/ETH_USDT_1h")
    // the artifact now loads (no stale cached failure); the request advances
    // to the data stage, where this fixture has no ETH history → a DIFFERENT
    // 404 proves the late-deployed model was picked up
    val (c2, b2) = get("/api/predict_xgboost/ETH_USDT_1h")
    assert(c2 == 404 && b2.contains("no history"),
      s"late-deployed model not picked up: $c2 $b2")
  }

  test("error bodies stay valid JSON when the message contains quotes") {
    // unknown-path message embeds the path — send one with a double quote
    val (code, body) = get("/api/predict_xgboost/A%22B_1h")
    assert(code == 400, body)
    // javax-style sanity parse: quotes inside the message must be escaped
    assert(body.startsWith("{\"error\":"))
    val inner = body.stripPrefix("{\"error\":").stripSuffix("}")
    assert(inner.startsWith("\"") && inner.endsWith("\""))
    assert(!inner.substring(1, inner.length - 1)
      .replace("\\\\", "").replace("\\\"", "").contains("\""),
      s"unescaped quote in error body: $body")
  }

  test("realtime route answers with empty objects when tables are absent") {
    // latest/stats tables don't exist in this fixture (batch-only store):
    // the reference returns {} for both (app.py:96-106)
    val (code, body) = get("/api/realtime_stats/BTC-USDT")
    assert(code == 200)
    assert(body == """{"latest":{},"stats":{}}""")
  }

  test("realtime route: an unreadable table is a 500, only absent tables read empty") {
    implicit val s = spark
    import spark.implicits._
    val st = new ServingStore(Files.createTempDirectory("http-corrupt").toString)
    val h = new HttpApi(new Api(st), None, () => now)
    val p = h.start()
    try {
      def realtime(): (Int, String) = {
        val res = HttpClient.newHttpClient().send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:$p/api/realtime_stats/BTC-USDT")).build(),
          HttpResponse.BodyHandlers.ofString())
        (res.statusCode(), res.body())
      }
      assert(realtime() == (200, """{"latest":{},"stats":{}}"""))

      st.overwrite(Tables.Latest, OhlcvStreamJob.latestAgg(
        OhlcvStreamJob.parse(Seq(FixtureGen.streamJson("BTC/USDT", "1m",
          FixtureGen.Candle(t0, 99.0, 101.0, 98.0, 100.0, 5.0))).toDF("value"))))
      val (ok, body) = realtime()
      assert(ok == 200 && body.contains("\"timestamp_ms\":" + t0), body)

      val v = st.version(Tables.Latest).get
      assert(v.files.nonEmpty)
      v.files.foreach { case (f, _) => Files.write(
        Paths.get(st.root, Tables.Latest, v.pointer.getOrElse(""), f), "not parquet".getBytes) }
      val (code, err) = realtime()
      assert(code == 500, err)
      assert(err.startsWith("{\"error\":"), err)
    } finally h.stop()
  }
}
