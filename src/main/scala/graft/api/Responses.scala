package graft.api

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import com.fasterxml.jackson.core.io.NumberOutput
import org.apache.spark.sql.Row

import graft.ml.Forecaster

/** Endpoint response shaping — the exact JSON the reference serves, so
  * golden outputs diff byte-for-byte against a dashboard's expectations:
  *
  *   - realtime_stats  → {"latest": {...}, "stats": {...}} (app.py:107)
  *   - chart_data_1m   → [[ts_ms, close], ...] (app.py:131)
  *   - historical_data → Chart.js {labels, datasets} with the reference's
  *     verbatim dataset labels/colors/flags (app.py:184-189); labels are
  *     UTC '%Y-%m-%d %H:%M:%S'
  *   - predict         → [{"timestamp": ms, "predicted_price": p}, ...]
  *     (app.py:240)
  *
  * Each response is written in one pass into one StringBuilder by a minimal
  * deterministic JSON writer (fields in insertion order, doubles via
  * shortest repr), which keeps goldens stable. Only its double printer comes
  * from a library: jackson-core's, which ships with Spark.
  */
object Responses {

  // ---- one-pass deterministic JSON writer --------------------------------

  private val Iso = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(ZoneOffset.UTC)

  /** A quoted string with `"`, `\` and control characters escaped. */
  private def str(sb: StringBuilder, v: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < v.length) {
      v.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  /** A double: whole values below 1e15 without a fraction; everything else
    * (fractions, NaN, infinities) in Java's `Double.toString` format with
    * the shortest digits that read back as `v` (Schubfach, as JDK 19+
    * prints; JDK 17's printer is 2–3× slower and on rare values prints
    * a longer form of the same double).
    */
  private def num(sb: StringBuilder, v: Double): Unit =
    if (v.isWhole && math.abs(v) < 1e15) sb.append(v.toLong)
    else sb.append(NumberOutput.toString(v, true))

  /** A quoted UTC '%Y-%m-%d %H:%M:%S' label for epoch seconds. */
  private def iso(sb: StringBuilder, tsSeconds: Long): Unit = {
    sb.append('"')
    Iso.formatTo(Instant.ofEpochSecond(tsSeconds), sb.underlying)
    sb.append('"')
  }

  /** `[` the elements, comma-separated, `]`. */
  private def arr[T](sb: StringBuilder, xs: Iterable[T])(f: T => Unit): Unit = {
    sb.append('[')
    var first = true
    xs.foreach { x =>
      if (!first) sb.append(',')
      first = false
      f(x)
    }
    sb.append(']')
  }

  /** `"key":` — keys are literals that need no escaping. */
  private def key(sb: StringBuilder, k: String): StringBuilder =
    sb.append('"').append(k).append("\":")

  private def render(f: StringBuilder => Unit): String = {
    val sb = new StringBuilder
    f(sb)
    sb.toString
  }

  /** Each field's index in the rows' schema (all rows share one schema). */
  private def indices(rows: Seq[Row], fields: String*): Seq[Int] =
    rows.headOption.fold(fields.map(_ => -1))(r => fields.map(r.fieldIndex))

  // ---- endpoint shapes ----------------------------------------------------

  /** {"latest": {...}, "stats": {...}} — empty objects when absent, exactly
    * like the reference's NotFound handling (app.py:96-106).
    */
  def realtimeStats(latest: Option[Row], stats: Option[Row]): String = render { sb =>
    def obj(row: Option[Row], fields: Seq[String]): Unit = {
      sb.append('{')
      row.foreach { r =>
        fields.zipWithIndex.foreach { case (f, i) =>
          if (i > 0) sb.append(',')
          key(sb, f)
          r.get(r.fieldIndex(f)) match {
            case null => sb.append("null")
            case d: Double => num(sb, d)
            case l: Long => sb.append(l)
            case ts: java.sql.Timestamp => iso(sb, ts.getTime / 1000)
            case v => str(sb, v.toString)
          }
        }
      }
      sb.append('}')
    }
    key(sb.append('{'), "latest")
    obj(latest, Seq("symbol", "latest_event_timestamp", "current_price",
      "current_volume", "open", "high", "low", "timestamp_ms"))
    key(sb.append(','), "stats")
    obj(stats, Seq("symbol", "window_start", "window_end", "avg_price",
      "min_price", "max_price", "event_count_in_window"))
    sb.append('}')
  }

  /** [[ts_ms, close], ...] (app.py:124-131). */
  def chartData1m(rows: Seq[Row]): String = render { sb =>
    val Seq(ts, close) = indices(rows, "timestamp_ms", "close")
    arr(sb, rows) { r =>
      sb.append('[').append(r.getAs[Long](ts)).append(',')
      num(sb, r.getAs[Double](close))
      sb.append(']')
    }
  }

  /** Chart.js {labels, datasets} with the reference's verbatim dataset
    * attributes (app.py:184-188).
    */
  def historicalData(symbol: String, timeframe: String, rows: Seq[Row]): String =
    render { sb =>
      val Seq(ts, close, sma7, sma30) = indices(rows, "timestamp", "close", "sma_7", "sma_30")
      def dataset(label: String, col: Int, color: String, hidden: Boolean): Unit = {
        str(key(sb.append('{'), "label"), label)
        arr(key(sb.append(','), "data"), rows) { r =>
          if (r.isNullAt(col)) sb.append("null") else num(sb, r.getAs[Double](col))
        }
        str(key(sb.append(','), "borderColor"), color)
        sb.append(",\"tension\":0.1,\"fill\":false")
        if (hidden) sb.append(",\"hidden\":true")
        sb.append('}')
      }
      arr(key(sb.append('{'), "labels"), rows)(r => iso(sb, r.getAs[Long](ts)))
      key(sb.append(','), "datasets").append('[')
      dataset(s"$symbol Close ($timeframe)", close, "rgb(75, 192, 192)", hidden = false)
      sb.append(',')
      dataset(s"$symbol SMA 7 ($timeframe)", sma7, "rgb(255, 159, 64)", hidden = true)
      sb.append(',')
      dataset(s"$symbol SMA 30 ($timeframe)", sma30, "rgb(153, 102, 255)", hidden = true)
      sb.append("]}")
    }

  /** [{"timestamp": ms, "predicted_price": p}, ...] (app.py:238-240). */
  def predictions(fc: Seq[Forecaster.Forecast]): String = render { sb =>
    arr(sb, fc) { f =>
      key(sb.append('{'), "timestamp").append(f.timestampMs)
      num(key(sb.append(','), "predicted_price"), f.predictedPrice)
      sb.append('}')
    }
  }

  /** ["a", "b", ...]: the dropdown routes. */
  def strings(xs: Seq[String]): String = render(sb => arr(sb, xs)(str(sb, _)))

  /** {"error": message}, with the message escaped (exception text can hold
    * quotes, backslashes and newlines).
    */
  def error(message: String): String = render { sb =>
    str(key(sb.append('{'), "error"), message)
    sb.append('}')
  }
}
