package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.api.{Api, HttpApi, Pages, Responses}
import graft.ingest.FixtureGen.Candle
import graft.ml.Forecaster
import graft.schema.Schemas
import graft.store.ServingStore
import graft.stream.OhlcvStreamJob

/** The serving stack both HTTP workloads run against: a ServingStore filled
  * by the batch job (history), the stream job (speed tables) and saved GBT
  * bundles, served by HttpApi on an ephemeral port with an injected clock.
  */
final class Serving(spark: SparkSession, root: Path, val market: Market,
    triggers: Option[OhlcvStreamJob.Triggers], models: Boolean = true) {
  import Market._
  import Serving._

  implicit private val session: SparkSession = spark
  val store = new ServingStore(newDir(root, "store").toString)
  val api = new Api(store)
  private val modelDir = newDir(root, "models")
  /** The clock HttpApi reads as `now`, in epoch ms. */
  val clock = new AtomicLong(market.nowMs)
  val incoming: Path = newDir(root, "incoming")
  var queries: Seq[StreamingQuery] = Nil
  private var http: HttpApi = _
  var port: Int = 0
  lazy val bundles: Map[String, Forecaster.Bundle] =
    ModelSymbols.map { case (s, _) => s -> market.loadModel(spark, modelDir, s) }.toMap

  /** Build every table and start serving. History (batch job), the GBT
    * bundles (unless `models` is off) and the speed tables (stream job over the 24 h backlog in
    * `SetupBatches` as-fast-as-possible micro-batches) are built
    * concurrently. With `triggers`, the stream job is then restarted from
    * its checkpoint on those processing-time triggers and keeps running.
    */
  def start(): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val ckpt = newDir(root, "ckpt")
    val parts = Seq(
      Future { market.loadHistory(spark, store, newDir(root, "csv")); Main.log("history loaded") },
      Future { if (models) { market.saveModels(spark, modelDir); Main.log("models saved") } },
      Future {
        val backlog = Symbols.flatMap(s => market.minutes(s).map(c => (c.timestamp, json(s, c))))
          .sortBy(_._1).map(_._2)
        queries = startStream(spark, incoming, store, ckpt,
          OhlcvStreamJob.Triggers.AsFastAsPossible)
        backlog.grouped((backlog.size + SetupBatches - 1) / SetupBatches)
          .zipWithIndex.foreach { case (b, i) =>
            feed(incoming, s"backlog-$i", b)
            queries.foreach(_.processAllAvailable())
          }
        stopStream()
        Main.log("speed tables built")
      })
    parts.foreach(f => Await.result(f, scala.concurrent.duration.Duration.Inf))
    triggers.foreach(t => queries = startStream(spark, incoming, store, ckpt, t))
    http = new HttpApi(api, if (models) Some(modelDir.toString) else None,
      now = () => Instant.ofEpochMilli(clock.get()), poolSize = 4)
    port = http.start(0)
    Main.log(s"serving on port $port")
  }

  def stopStream(): Unit = { queries.foreach(_.stop()); queries = Nil }

  def stop(): Unit = {
    stopStream()
    if (http != null) http.stop()
  }

  /** Files and bytes of each table's current data (the `_current`
    * snapshot when the table has one, else the table directory).
    */
  def storeFiles(): Map[String, (Long, Long)] = Tables.map { t =>
    val dir = Path.of(store.root, t)
    val ptr = dir.resolve("_current")
    val data = if (Files.isRegularFile(ptr)) dir.resolve(Files.readString(ptr).trim) else dir
    val files = if (!Files.isDirectory(data)) Nil else {
      val s = Files.walk(data)
      try s.iterator().asScala.filter { p =>
        val rel = data.relativize(p).toString
        Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet") &&
          !rel.split('/').exists(x => x.startsWith(".") || x.startsWith("_"))
      }.toList finally s.close()
    }
    t -> (files.size.toLong, files.map(Files.size).sum)
  }.toMap

  // ---- direct replay of the route handlers, for the traced run ------------

  /** The public calls HttpApi makes for a route, each in its own span. */
  def replay(tracer: Tracer, route: String, symbol: String,
      range: String): Unit = {
    val at = Instant.ofEpochMilli(clock.get())
    val stream = streamSymbol(symbol)
    def resolve[T](f: => T): T = tracer.span("store.resolve")(f)
    def collect[T](f: => T): T = tracer.span("driver.collect")(f)
    def render[T](f: => T): T = tracer.span("api.render")(f)
    route match {
      case "realtime_stats" =>
        val l = resolve(api.latestCandle(stream))
        val s = resolve(api.latestStats(stream))
        val lr = collect(l.collect()).headOption
        val sr = collect(s.collect()).headOption
        render(Responses.realtimeStats(lr, sr))
      case "chart_data_1m" =>
        val df = resolve(api.chartData1m(stream, at))
        val rows = collect(df.collect()).toSeq
        render(Responses.chartData1m(rows))
      case "historical_page" =>
        val df = resolve(api.historicalPairs())
        val pairs = collect(df.collect()).toIndexedSeq.map(_.getString(0))
        render(Pages.historical(pairs))
      case "historical_data" =>
        val df = resolve(api.historicalData(symbol, "1h", range, at).orderBy("timestamp"))
        val rows = collect(df.collect()).toSeq
        render(Responses.historicalData(symbol, "1h", rows))
      case "predict_xgboost" =>
        val b = bundles(symbol)
        val closes = tracer.span("ml.closes")(
          api.lastCloses(symbol, "1h", math.max(b.model.windowSize, 48)))
        val last = collect(api.latestStoredTimestamp(symbol, "1h")).get
        val fc = tracer.span("ml.forecast")(Forecaster.recursiveForecast(
          b.model, b.scaler, closes, last * 1000L, HourMs, 24))
        render(Responses.predictions(fc))
    }
  }
}

object Serving {
  val Tables: Seq[String] = Seq(Schemas.Tables.Historical, Schemas.Tables.Latest,
    Schemas.Tables.Stats, Schemas.Tables.ChartData)
  val TableShort: Map[String, String] = Map(
    Schemas.Tables.Historical -> "historical", Schemas.Tables.Latest -> "latest",
    Schemas.Tables.Stats -> "stats", Schemas.Tables.ChartData -> "chart")
  val SetupBatches = 2
  val Routes: Seq[String] = Seq("realtime_stats", "chart_data_1m",
    "historical_page", "historical_data", "predict_xgboost")

  def path(route: String, symbol: String, range: String): String = route match {
    case "realtime_stats" => s"/api/realtime_stats/${Market.urlSymbol(symbol)}"
    case "chart_data_1m" => s"/api/chart_data_1m/${Market.urlSymbol(symbol)}"
    case "historical_page" => "/historical"
    case "historical_data" => s"/api/historical_data/${symbol}_1h?range=$range"
    case "predict_xgboost" => s"/api/predict_xgboost/${symbol}_1h"
  }
}

/** A keep-alive HTTP/1.1 client: one per load-generating thread. */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  def get(path: String): (Int, String) = {
    val r = http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .GET().build(), HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }
}

/** Response checks against values computed from the generated candles —
  * never from the code under test. Each returns an error message, or None.
  */
object Check {
  private val iso = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
  def isoSec(sec: Long): String = iso.format(Instant.ofEpochSecond(sec))

  def parse(body: String): JsonNode = Json.mapper.readTree(body)

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  private def expect(ok: Boolean, what: => String): Option[String] =
    if (ok) None else Some(what)

  /** realtime_stats: the latest candle and the newest stats window. */
  def realtimeStats(body: String, symbol: String, latest: Candle,
      window: (Long, Double, Double, Double, Long)): Option[String] = {
    val j = parse(body)
    val l = j.get("latest"); val s = j.get("stats")
    if (l == null || s == null || l.size == 0 || s.size == 0)
      return Some(s"realtime_stats $symbol: missing latest/stats")
    val (end, avg, mn, mx, n) = window
    expect(l.get("symbol").asText == Market.streamSymbol(symbol) &&
      l.get("timestamp_ms").asLong == latest.timestamp &&
      l.get("current_price").asDouble == latest.close &&
      l.get("open").asDouble == latest.open &&
      l.get("high").asDouble == latest.high &&
      l.get("low").asDouble == latest.low &&
      l.get("current_volume").asDouble == latest.volume,
      s"realtime_stats $symbol: latest ${l} != ${latest}").orElse(
    expect(s.get("window_end").asText == isoSec(end / 1000) &&
      s.get("event_count_in_window").asLong == n &&
      s.get("min_price").asDouble == mn && s.get("max_price").asDouble == mx &&
      close(s.get("avg_price").asDouble, avg),
      s"realtime_stats $symbol: stats ${s} != $window"))
  }

  /** chart_data_1m: [[ts_ms, close], ...] of the 35-minute window. */
  def chart(body: String, expected: Seq[Candle]): Option[String] = {
    val got = parse(body).elements().asScala.map(e =>
      (e.get(0).asLong, e.get(1).asDouble)).toSeq
    expect(got == expected.map(c => (c.timestamp, c.close)),
      s"chart_data_1m: ${got.size} points, expected ${expected.size} " +
        s"(first ${got.headOption} vs ${expected.headOption.map(c => (c.timestamp, c.close))})")
  }

  /** /historical page: the dropdown carries every generated pair. */
  def historicalPage(body: String, pairs: Seq[String]): Option[String] = {
    val list = pairs.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    expect(body.contains(list), s"/historical: dropdown lacks $list")
  }

  /** historical_data: labels, closes, SMA-7 and SMA-30 of the range. */
  def historical(body: String,
      rows: IndexedSeq[(Long, Double, Double, Double)]): Option[String] = {
    val j = parse(body)
    val labels = j.get("labels").elements().asScala.map(_.asText).toIndexedSeq
    val ds = j.get("datasets")
    def series(i: Int) = ds.get(i).get("data").elements().asScala.map(_.asDouble).toIndexedSeq
    val (c, s7, s30) = (series(0), series(1), series(2))
    expect(labels.size == rows.size && c.size == rows.size, s"historical_data: " +
      s"${labels.size} rows, expected ${rows.size}").orElse(
    expect(rows.indices.forall { i =>
      val (ts, cl, a7, a30) = rows(i)
      labels(i) == isoSec(ts) && c(i) == cl && close(s7(i), a7) && close(s30(i), a30)
    }, "historical_data: values differ from the generated series"))
  }

  /** predict_xgboost: 24 hourly forecasts after the last stored candle. */
  def predict(body: String, lastTsSec: Long): Option[String] = {
    val fc = parse(body).elements().asScala.toIndexedSeq
    expect(fc.size == 24 && fc.indices.forall { i =>
      fc(i).get("timestamp").asLong == lastTsSec * 1000L + (i + 1) * Market.HourMs &&
        fc(i).get("predicted_price").isNumber &&
        !fc(i).get("predicted_price").asDouble.isNaN
    }, s"predict_xgboost: ${fc.size} forecasts or wrong timestamps")
  }
}
