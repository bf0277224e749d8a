package graft.api

import java.time.{Instant, LocalDate}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.schema.Schemas
import graft.store.ServingStore

/** Serving layer: the reference's six Flask endpoints (app.py / SURVEY.md
  * §2.5) reproduced as pure DataFrame query functions over the
  * ServingStore. ES-DSL semantics → Spark SQL:
  *
  *   term query        → equality filter
  *   bool/must         → conjunctive filter
  *   range             → between filter
  *   sort + size       → orderBy + limit (TakeOrderedAndProject — top-k
  *                        without a global sort, safe at any scale)
  *   terms agg         → distinct/groupBy + limit
  *   get by _id        → key-equality filter
  *
  * The dashboard routes (latest candle, stats window, 1m chart and the two
  * dropdowns) read small tables that the stream rewrites every 15–60 s
  * while dashboards poll every 5 s. They are served from driver-side
  * views: one immutable view per table, rebuilt with a single Spark read
  * only when the table's [[ServingStore.version]] token (the `_current`
  * pointer plus the names and sizes of its visible data files) changes.
  * A request lists the table directory and cuts a local frame from the
  * view; collecting it runs no Spark job. Memory is bounded by what the
  * routes can return: one latest row and one stats window per symbol, the
  * chart rows of the day partitions the chart window touches, and the
  * distinct dropdown entries. The range scans (`historicalData`,
  * `lastCloses`) stay on Spark.
  *
  * Time-dependent queries take `now` explicitly (injected Clock —
  * SURVEY.md §7.5.4) so golden tests are deterministic.
  */
final class Api(val store: ServingStore) {
  import Api._

  private def spark = store.spark

  private def local(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)
  private def local(v: Keyed, key: String): DataFrame = local(v.schema, v.rows(key))
  private def local(v: Listing, limit: Int): DataFrame = local(v.schema, v.rows.take(limit))

  private val latest = new View[Option[ServingStore.Version], LatestView](_ => {
    val t = store.table(Schemas.Tables.Latest)
    val rows = t.collect().toVector
    val (id, sym) = (t.schema.fieldIndex("doc_id"), t.schema.fieldIndex("symbol"))
    val symbols = rows.map(r => Option(r.getString(sym))).distinct
      .sorted(Ordering.Option(BinaryString)).map(s => Row(s.orNull))
    LatestView(
      Keyed(t.schema, rows.groupBy(_.getString(id))),
      Listing(StructType(Seq(t.schema("symbol"))), symbols))
  })

  private val stats = new View[Option[ServingStore.Version], Keyed](_ => {
    val cur = store.tableCurrent(Schemas.Tables.Stats, "doc_id") // log or merged sink
    val newest = cur
      .withColumn("_rn", row_number().over(
        Window.partitionBy("symbol").orderBy(desc("window_end"))))
      .filter(col("_rn") === 1).drop("_rn")
      .collect()
    Keyed(cur.schema, newest.toVector.groupBy(_.getAs[String]("symbol")))
  })

  private val chart = new View[(Option[ServingStore.Version], Seq[String]), Keyed]({
    case (_, days) =>
      val t = store.table(Schemas.Tables.ChartData)
      val rows = store.current(t.filter(col("dt").isin(days: _*)), "doc_id")
        .filter(col("@timestamp").isNotNull)
        .collect()
      val ts = t.schema.fieldIndex("@timestamp")
      Keyed(t.schema, rows.toVector.groupBy(_.getAs[String]("symbol"))
        .map { case (s, rs) => s -> rs.sortBy(r => DateTimeUtils.anyToMicros(r.get(ts))) })
  })

  private val pairs = new View[Option[ServingStore.Version], Listing](_ => {
    val df = store.table(Schemas.Tables.Historical)
      .groupBy("symbol", "timeframe").count()
      .select(concat(col("symbol"), lit("_"), col("timeframe")).as("pair"))
      .orderBy("pair")
    Listing(df.schema, df.collect().toVector)
  })

  /** `/api/realtime_stats/<sym>` part 1: get-by-id on the latest table
    * (app.py:97 / W8). Key = symbol with '/' (e.g. "BTC/USDT").
    */
  def latestCandle(symbol: String): DataFrame =
    local(latest.get(store.version(Schemas.Tables.Latest)).byId, symbol)

  /** `/api/realtime_stats/<sym>` part 2: most recent stats window —
    * term symbol + sort window_end desc + size 1 (app.py:102-104 / W5).
    */
  def latestStats(symbol: String): DataFrame =
    local(stats.get(store.version(Schemas.Tables.Stats)), symbol)

  /** `/api/chart_data_1m/<sym>`: term symbol AND range @timestamp within
    * [now-35min, now], sort asc, size 200 (app.py:109-131 / Q2, W7). The
    * reference unions daily indexes `chartdata-*`; here the view holds the
    * `dt` day partitions the window touches, by the session-time-zone
    * dates the sink partitions by.
    */
  def chartData1m(symbol: String, now: Instant, windowMinutes: Long = 35,
      size: Int = 200): DataFrame = {
    val from = now.minusSeconds(windowMinutes * 60)
    val zone = DateTimeUtils.getZoneId(spark.conf.get("spark.sql.session.timeZone"))
    val days = Iterator.iterate(LocalDate.ofInstant(from, zone))(_.plusDays(1))
      .takeWhile(!_.isAfter(LocalDate.ofInstant(now, zone))).map(_.toString).toSeq
    val v = chart.get((store.version(Schemas.Tables.ChartData), days))
    val (lo, hi) = (micros(from), micros(now))
    val ts = v.schema.fieldIndex("@timestamp")
    local(v.schema, v.rows(symbol).filter { r =>
      val t = DateTimeUtils.anyToMicros(r.get(ts))
      t >= lo && t <= hi
    }.take(size))
  }

  /** `/api/historical_data/<sym_tf>?range=`: term symbol AND term timeframe
    * AND optional lower time bound, sort asc, size 10000
    * (app.py:153-189 / Q3). Range map per app.py:161-165.
    */
  def historicalData(symbol: String, timeframe: String, range: String,
      now: Instant, size: Int = 10000): DataFrame = {
    val days: Option[Int] = range match {
      case "1m" => Some(30)
      case "3m" => Some(90)
      case "6m" => Some(180)
      case "1y" => Some(365)
      case _ => None // "all"
    }
    val base = store.table(Schemas.Tables.Historical)
      .filter(col("symbol") === symbol && col("timeframe") === timeframe)
    val bounded = days.fold(base) { d =>
      base.filter(col("timestamp") >= lit(now.minusSeconds(d.toLong * 86400).getEpochSecond))
    }
    bounded.orderBy(asc("timestamp")).limit(size)
  }

  /** Historical endpoint result shaping (app.py:171-188): UTC label +
    * close/sma_7/sma_30 series for Chart.js.
    */
  def historicalSeries(df: DataFrame): DataFrame =
    df.select(
      date_format((col("timestamp")).cast("timestamp"), "yyyy-MM-dd HH:mm:ss").as("label"),
      col("close"), col("sma_7"), col("sma_30"))

  /** `/` dropdown: distinct symbols, sorted, cap 500 (app.py:57 / A4). */
  def realtimeSymbols(limit: Int = 500): DataFrame =
    local(latest.get(store.version(Schemas.Tables.Latest)).symbols, limit)

  /** `/historical` dropdown: distinct (symbol, timeframe) pairs formatted
    * `{symbol}_{timeframe}`, cap 1000 (app.py:72 / A5).
    */
  def historicalPairs(limit: Int = 1000): DataFrame =
    local(pairs.get(store.version(Schemas.Tables.Historical)), limit)

  /** Model input for `/api/predict_xgboost/<sym_tf>`: last `n` closes,
    * newest-first then reversed to chronological on the driver
    * (app.py:219-228 / W6).
    */
  def lastCloses(symbol: String, timeframe: String, n: Int): Array[Double] =
    newestCandles(symbol, timeframe, n).map(_.getDouble(1)).reverse

  /** The newest `n` (timestamp, close) rows, newest first. */
  private def newestCandles(symbol: String, timeframe: String, n: Int): Array[Row] =
    store.table(Schemas.Tables.Historical)
      .filter(col("symbol") === symbol && col("timeframe") === timeframe)
      .orderBy(desc("timestamp"))
      .limit(n)
      .select("timestamp", "close")
      .collect()

  /** `/api/predict_xgboost/<sym_tf>` (Q4, app.py:195-244): last-w closes →
    * MinMax scale with the TRAINING-time scaler → recursive multi-step
    * forecast → (timestamp, price) series. The model+scaler arrive as the
    * persisted pair ([[graft.ml.Forecaster.Bundle]], app.py:211-218) —
    * refitting a scaler on the serve tail would skew features vs training.
    * Window size per symbol mirrors app.py:203-206. One history query
    * yields both the closes and the last stored timestamp.
    */
  def predict(symbol: String, timeframe: String,
      bundle: graft.ml.Forecaster.Bundle, stepMs: Long,
      steps: Int = 24): Seq[graft.ml.Forecaster.Forecast] = {
    val newest = newestCandles(symbol, timeframe,
      math.max(bundle.model.windowSize, 48))
    if (newest.isEmpty)
      throw new NoSuchElementException(s"no history for $symbol/$timeframe")
    if (newest(0).isNullAt(0))
      throw new NoSuchElementException(s"$symbol/$timeframe")
    graft.ml.Forecaster.recursiveForecast(bundle.model, bundle.scaler,
      newest.map(_.getDouble(1)).reverse,
      lastKnownMs = newest(0).getLong(0) * 1000L, stepMs = stepMs, steps = steps)
  }

  /** Latest stored timestamp for a (symbol, timeframe) — drives incremental
    * crawling (hourly_updater.py:70-97 / A6).
    */
  def latestStoredTimestamp(symbol: String, timeframe: String): Option[Long] = {
    val r = store.table(Schemas.Tables.Historical)
      .filter(col("symbol") === symbol && col("timeframe") === timeframe)
      .agg(max("timestamp").as("max_ts"))
      .collect()(0)
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }
}

object Api {

  /** The latest view built from a table and the key it was built at; [[get]]
    * rebuilds only when the key changes. Builds are serialised, so requests
    * that miss on the same key build once; a build that throws (absent
    * table, vanished file) is not kept.
    */
  private final class View[K, V](build: K => V) {
    @volatile private var last: Option[(K, V)] = None

    def get(key: K): V = last match {
      case Some((k, v)) if k == key => v
      case _ => synchronized {
        last match {
          case Some((k, v)) if k == key => v
          case _ =>
            val v = build(key)
            last = Some(key -> v)
            v
        }
      }
    }
  }

  /** A table's rows grouped by a key column. */
  private final case class Keyed(schema: StructType, byKey: Map[String, Vector[Row]]) {
    def rows(key: String): Vector[Row] = byKey.getOrElse(key, Vector.empty)
  }
  /** A sorted list, cut to the caller's limit per read. */
  private final case class Listing(schema: StructType, rows: Vector[Row])
  private final case class LatestView(byId: Keyed, symbols: Listing)

  /** Spark's string order: binary UTF-8. */
  private val BinaryString: Ordering[String] =
    Ordering.by[String, UTF8String](UTF8String.fromString)(
      (a: UTF8String, b: UTF8String) => a.compareTo(b))

  /** A bound as Spark compares it: the micros of the Timestamp literal. */
  private def micros(i: Instant): Long =
    DateTimeUtils.fromJavaTimestamp(java.sql.Timestamp.from(i))
}
