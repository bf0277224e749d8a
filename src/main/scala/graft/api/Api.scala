package graft.api

import java.time.{Instant, LocalDate}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.schema.Schemas
import graft.store.ServingStore

/** Serving layer: the reference's six Flask endpoints (app.py / SURVEY.md
  * §2.5) reproduced as reads over the ServingStore. ES-DSL semantics:
  *
  *   term query        → equality filter
  *   bool/must         → conjunctive filter
  *   range             → between filter
  *   sort + size       → ascending slice + limit
  *   terms agg         → distinct list + limit
  *   get by _id        → key lookup
  *
  * Every read returns rows straight from a driver-side view: `Option[Row]`
  * (latest candle, latest stats), `Seq[Row]` (chart window, history range)
  * or `Seq[String]` (the dropdowns). [[HttpApi]] renders from these, so a
  * warm request builds, plans and collects no Spark query. Each `DataFrame`
  * method (`latestCandle`, `chartData1m`, `historicalPairs`, ...) is a
  * one-line adapter that wraps its row read's rows in a local frame, for
  * callers that want a frame (`Pipeline`, the specs).
  *
  * The dashboard routes (latest candle, stats window, 1m chart and the two
  * dropdowns) read small tables that the stream rewrites every 15–60 s
  * while dashboards poll every 5 s. Each table has one immutable view,
  * rebuilt with a single Spark read only when the table's
  * [[ServingStore.version]] token (the `_current` pointer plus the names and
  * sizes of its visible data files) changes; a request lists the table
  * directory and cuts its rows from the view. Memory is bounded by what the
  * routes can return: one latest row and one stats window per symbol, the
  * chart rows of the day partitions the chart window touches, and the
  * distinct dropdown entries.
  *
  * The history routes (`historicalRows`, `lastCloses`/`predict`,
  * `latestStoredTimestamp`) read a per-pair view of the history table,
  * which only the batch job writes. Per version the table is resolved and
  * its (symbol, timeframe) pairs listed once (the listing is also the
  * historical dropdown); a pair's rows are read by one filtered Spark read
  * on its first request and kept sorted by `timestamp` (nulls first), so a
  * range is a binary search plus a slice. Memory is the rows of the pairs
  * actually requested, for the current version only: a version change
  * drops them all, and a pair the table does not hold reads empty without
  * a Spark read and is not kept.
  *
  * A read of an absent table throws ServingStore's `IllegalArgumentException`.
  * Time-dependent queries take `now` explicitly (injected Clock —
  * SURVEY.md §7.5.4) so golden tests are deterministic.
  */
final class Api(val store: ServingStore) {
  import Api._

  private def spark = store.spark

  private def local(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)
  private def local(c: Cut): DataFrame = local(c.schema, c.rows)

  private val latest = new View[Option[ServingStore.Version], LatestView](_ => {
    val t = store.table(Schemas.Tables.Latest)
    val rows = t.collect().toVector
    val (id, sym) = (t.schema.fieldIndex("doc_id"), t.schema.fieldIndex("symbol"))
    val symbols = rows.map(r => Option(r.getString(sym))).distinct
      .sorted(Ordering.Option(BinaryString)).map(_.orNull)
    LatestView(ByKey(t.schema, rows.groupMapReduce(_.getString(id))(identity)((a, _) => a)),
      symbols)
  })

  private val stats = new View[Option[ServingStore.Version], ByKey](_ => {
    val cur = store.tableCurrent(Schemas.Tables.Stats, "doc_id") // log or merged sink
    val newest = cur
      .withColumn("_rn", row_number().over(
        Window.partitionBy("symbol").orderBy(desc("window_end"))))
      .filter(col("_rn") === 1).drop("_rn")
      .collect()
    ByKey(cur.schema, newest.map(r => r.getAs[String]("symbol") -> r).toMap)
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

  private val history = new View[Option[ServingStore.Version], History](_ =>
    new History(store.table(Schemas.Tables.Historical)))

  private def latestView: LatestView = latest.get(store.version(Schemas.Tables.Latest))
  private def statsView: ByKey = stats.get(store.version(Schemas.Tables.Stats))
  private def historyView: History =
    history.get(store.version(Schemas.Tables.Historical))

  /** How many pairs the current history view holds. */
  private[api] def historyPairsKept: Int = historyView.kept

  /** `/api/realtime_stats/<sym>` part 1: get-by-id on the latest table
    * (app.py:97 / W8). Key = symbol with '/' (e.g. "BTC/USDT").
    */
  def latestCandleRow(symbol: String): Option[Row] = latestView.byId.rows.get(symbol)
  def latestCandle(symbol: String): DataFrame = local(latestView.byId.cut(symbol))

  /** `/api/realtime_stats/<sym>` part 2: most recent stats window —
    * term symbol + sort window_end desc + size 1 (app.py:102-104 / W5).
    */
  def latestStatsRow(symbol: String): Option[Row] = statsView.rows.get(symbol)
  def latestStats(symbol: String): DataFrame = local(statsView.cut(symbol))

  /** `/api/chart_data_1m/<sym>`: term symbol AND range @timestamp within
    * [now-35min, now], sort asc, size 200 (app.py:109-131 / Q2, W7). The
    * reference unions daily indexes `chartdata-*`; here the view holds the
    * `dt` day partitions the window touches, by the session-time-zone
    * dates the sink partitions by.
    */
  def chartRows(symbol: String, now: Instant, windowMinutes: Long = 35,
      size: Int = 200): Seq[Row] = chartCut(symbol, now, windowMinutes, size).rows
  def chartData1m(symbol: String, now: Instant, windowMinutes: Long = 35,
      size: Int = 200): DataFrame = local(chartCut(symbol, now, windowMinutes, size))

  private def chartCut(symbol: String, now: Instant, windowMinutes: Long,
      size: Int): Cut = {
    val from = now.minusSeconds(windowMinutes * 60)
    val zone = DateTimeUtils.getZoneId(spark.conf.get("spark.sql.session.timeZone"))
    val days = Iterator.iterate(LocalDate.ofInstant(from, zone))(_.plusDays(1))
      .takeWhile(!_.isAfter(LocalDate.ofInstant(now, zone))).map(_.toString).toSeq
    val v = chart.get((store.version(Schemas.Tables.ChartData), days))
    val (lo, hi) = (micros(from), micros(now))
    val ts = v.schema.fieldIndex("@timestamp")
    Cut(v.schema, v.rows(symbol).filter { r =>
      val t = DateTimeUtils.anyToMicros(r.get(ts))
      t >= lo && t <= hi
    }.take(size))
  }

  /** `/api/historical_data/<sym_tf>?range=`: term symbol AND term timeframe
    * AND optional lower time bound, sort asc, size 10000
    * (app.py:153-189 / Q3). Range map per app.py:161-165; an unknown range
    * reads like "all".
    */
  def historicalRows(symbol: String, timeframe: String, range: String,
      now: Instant, size: Int = 10000): Seq[Row] =
    historyCut(symbol, timeframe, range, now, size).rows
  def historicalData(symbol: String, timeframe: String, range: String,
      now: Instant, size: Int = 10000): DataFrame =
    local(historyCut(symbol, timeframe, range, now, size))

  private def historyCut(symbol: String, timeframe: String, range: String,
      now: Instant, size: Int): Cut = {
    val days: Option[Int] = range match {
      case "1m" => Some(30)
      case "3m" => Some(90)
      case "6m" => Some(180)
      case "1y" => Some(365)
      case _ => None // "all"
    }
    val p = historyView.pair(symbol, timeframe)
    val from = days.fold(0)(d =>
      p.lowerBound(now.minusSeconds(d.toLong * 86400).getEpochSecond))
    val until = if (size >= p.rows.length - from) p.rows.length else from + size
    Cut(p.schema, p.rows.slice(from, until).toSeq)
  }

  /** Historical endpoint result shaping (app.py:171-188): UTC label +
    * close/sma_7/sma_30 series for Chart.js.
    */
  def historicalSeries(df: DataFrame): DataFrame =
    df.select(
      date_format((col("timestamp")).cast("timestamp"), "yyyy-MM-dd HH:mm:ss").as("label"),
      col("close"), col("sma_7"), col("sma_30"))

  /** `/` dropdown: distinct symbols, sorted, cap 500 (app.py:57 / A4). */
  def symbolList(limit: Int = 500): Seq[String] = latestView.symbols.take(limit)
  def realtimeSymbols(limit: Int = 500): DataFrame =
    local(SymbolSchema, symbolList(limit).map(Row(_)))

  /** `/historical` dropdown: distinct (symbol, timeframe) pairs formatted
    * `{symbol}_{timeframe}`, cap 1000 (app.py:72 / A5).
    */
  def pairList(limit: Int = 1000): Seq[String] = historyView.pairs.take(limit)
  def historicalPairs(limit: Int = 1000): DataFrame =
    local(PairSchema, pairList(limit).map(Row(_)))

  /** Model input for `/api/predict_xgboost/<sym_tf>`: last `n` closes,
    * newest-first then reversed to chronological on the driver
    * (app.py:219-228 / W6).
    */
  def lastCloses(symbol: String, timeframe: String, n: Int): Array[Double] =
    newestCandles(symbol, timeframe, n).map(_.getDouble(1)).reverse

  /** The newest `n` (timestamp, close) rows, newest first (nulls last). */
  private def newestCandles(symbol: String, timeframe: String, n: Int): Array[Row] = {
    val p = historyView.pair(symbol, timeframe)
    val (ts, close) = (p.schema.fieldIndex("timestamp"), p.schema.fieldIndex("close"))
    p.rows.takeRight(n).reverseIterator.map(r => Row(r.get(ts), r.get(close))).toArray
  }

  /** `/api/predict_xgboost/<sym_tf>` (Q4, app.py:195-244): last-w closes →
    * MinMax scale with the TRAINING-time scaler → recursive multi-step
    * forecast → (timestamp, price) series. The model+scaler arrive as the
    * persisted pair ([[graft.ml.Forecaster.Bundle]], app.py:211-218) —
    * refitting a scaler on the serve tail would skew features vs training.
    * Window size per symbol mirrors app.py:203-206. One read of the pair's
    * view yields both the closes and the last stored timestamp.
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
  def latestStoredTimestamp(symbol: String, timeframe: String): Option[Long] =
    newestCandles(symbol, timeframe, 1).headOption.filterNot(_.isNullAt(0))
      .map(_.getLong(0))
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

  /** One version of the history table: resolved once, with its sorted
    * `{symbol}_{timeframe}` dropdown and the rows of the pairs requested so
    * far. Pair builds are serialised, so requests that miss on the same
    * pair build once; a build that throws is not kept. A pair the table
    * does not hold reads empty without a Spark read and is not kept.
    */
  private final class History(t: DataFrame) {
    private val rows = t.select("symbol", "timeframe").distinct()
      .withColumn("pair", concat(col("symbol"), lit("_"), col("timeframe")))
      .orderBy("pair").collect()
    val pairs: Vector[String] = rows.toVector.map(_.getString(2))
    private val present = rows.map(r => (r.getString(0), r.getString(1))).toSet
    private val built = new java.util.concurrent.ConcurrentHashMap[(String, String), Pair]()

    def pair(symbol: String, timeframe: String): Pair = {
      val key = (symbol, timeframe)
      if (!present(key)) new Pair(t.schema, Array.empty)
      else Option(built.get(key)).getOrElse(synchronized {
        Option(built.get(key)).getOrElse {
          val p = new Pair(t.schema, t.filter(col("symbol") === symbol &&
            col("timeframe") === timeframe).collect())
          built.put(key, p)
          p
        }
      })
    }

    def kept: Int = built.size
  }

  /** A pair's rows ascending by `timestamp`, nulls first (Spark's `asc`),
    * with the non-null timestamps as a binary-searchable index.
    */
  private final class Pair(val schema: StructType, unsorted: Array[Row]) {
    private val at = schema.fieldIndex("timestamp")
    val rows: Array[Row] = unsorted.sortBy(r =>
      if (r.isNullAt(at)) None else Some(r.getLong(at)))
    private val nulls = rows.count(_.isNullAt(at))
    private val ts: Array[Long] = rows.drop(nulls).map(_.getLong(at))

    /** Index in [[rows]] of the first row with `timestamp >= bound`. */
    def lowerBound(bound: Long): Int = {
      var (lo, hi) = (0, ts.length)
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ts(mid) < bound) lo = mid + 1 else hi = mid
      }
      nulls + lo
    }
  }

  /** A read's rows with the schema of the view they were cut from. */
  private final case class Cut(schema: StructType, rows: Seq[Row])

  /** A table's rows by a column that is unique in it. */
  private final case class ByKey(schema: StructType, rows: Map[String, Row]) {
    def cut(key: String): Cut = Cut(schema, rows.get(key).toSeq)
  }
  /** A table's rows grouped by a key column. */
  private final case class Keyed(schema: StructType, byKey: Map[String, Vector[Row]]) {
    def rows(key: String): Vector[Row] = byKey.getOrElse(key, Vector.empty)
  }
  /** The latest table by `doc_id` (the first row of a repeated id), and its
    * sorted distinct symbols.
    */
  private final case class LatestView(byId: ByKey, symbols: Vector[String])

  /** The dropdown frames' schemas: one nullable string column. */
  private val SymbolSchema = StructType(Seq(StructField("symbol", StringType)))
  private val PairSchema = StructType(Seq(StructField("pair", StringType)))

  /** Spark's string order: binary UTF-8. */
  private val BinaryString: Ordering[String] =
    Ordering.by[String, UTF8String](UTF8String.fromString)(
      (a: UTF8String, b: UTF8String) => a.compareTo(b))

  /** A bound as Spark compares it: the micros of the Timestamp literal. */
  private def micros(i: Instant): Long =
    DateTimeUtils.fromJavaTimestamp(java.sql.Timestamp.from(i))
}
