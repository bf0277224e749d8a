package graft.api

import graft.ml.Forecaster

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Byte-golden endpoint responses against the reference's JSON shapes
  * (app.py:107,131,184-189,240).
  */
class ResponsesSpec extends AnyFunSuite {

  private def row(schema: Seq[(String, DataType)], values: Any*): Row =
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      values.toArray,
      StructType(schema.map { case (n, t) => StructField(n, t) }))

  test("realtime_stats golden") {
    val latest = row(
      Seq("symbol" -> StringType, "latest_event_timestamp" -> TimestampType,
        "current_price" -> DoubleType, "current_volume" -> DoubleType,
        "open" -> DoubleType, "high" -> DoubleType, "low" -> DoubleType,
        "timestamp_ms" -> LongType),
      "BTC/USDT", java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1717200060L)),
      104.5, 5.0, 103.5, 105.5, 102.5, 1717200060000L)
    val got = Responses.realtimeStats(Some(latest), None)
    assert(got ==
      """{"latest":{"symbol":"BTC/USDT","latest_event_timestamp":"2024-06-01 00:01:00","current_price":104.5,"current_volume":5,"open":103.5,"high":105.5,"low":102.5,"timestamp_ms":1717200060000},"stats":{}}""")
  }

  test("chart_data_1m golden: [ts_ms, close] pairs") {
    val rows = Seq(
      row(Seq("timestamp_ms" -> LongType, "close" -> DoubleType),
        1717200000000L, 100.25),
      row(Seq("timestamp_ms" -> LongType, "close" -> DoubleType),
        1717200060000L, 101.0))
    assert(Responses.chartData1m(rows) ==
      """[[1717200000000,100.25],[1717200060000,101]]""")
  }

  test("historical_data golden: Chart.js labels+datasets with verbatim attrs") {
    val sch = Seq("timestamp" -> LongType, "close" -> DoubleType,
      "sma_7" -> DoubleType, "sma_30" -> DoubleType)
    val rows = Seq(
      row(sch, 1717200000L, 100.5, 100.5, null),
      row(sch, 1717203600L, 101.5, 101.0, 100.75))
    val got = Responses.historicalData("BTC_USDT", "1h", rows)
    assert(got ==
      """{"labels":["2024-06-01 00:00:00","2024-06-01 01:00:00"],""" +
      """"datasets":[{"label":"BTC_USDT Close (1h)","data":[100.5,101.5],"borderColor":"rgb(75, 192, 192)","tension":0.1,"fill":false},""" +
      """{"label":"BTC_USDT SMA 7 (1h)","data":[100.5,101],"borderColor":"rgb(255, 159, 64)","tension":0.1,"fill":false,"hidden":true},""" +
      """{"label":"BTC_USDT SMA 30 (1h)","data":[null,100.75],"borderColor":"rgb(153, 102, 255)","tension":0.1,"fill":false,"hidden":true}]}""")
  }

  test("predict golden: [{timestamp, predicted_price}]") {
    val fc = Seq(Forecaster.Forecast(1717203600000L, 105.125),
      Forecaster.Forecast(1717207200000L, 106.0))
    assert(Responses.predictions(fc) ==
      """[{"timestamp":1717203600000,"predicted_price":105.125},""" +
      """{"timestamp":1717207200000,"predicted_price":106}]""")
  }

  test("number and string forms: whole numbers, NaN, infinities, escapes") {
    val vs = Seq(0.0, -0.0, -3.0, 0.1, 999999999999999.0, 1e15, -1e15, 1.5e300,
      4.9e-324, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1.0 / 3,
      123456789.125, 2e-7)
    assert(Responses.predictions(vs.zipWithIndex.map { case (v, i) =>
      Forecaster.Forecast(i.toLong, v) }) ==
      """[{"timestamp":0,"predicted_price":0},{"timestamp":1,"predicted_price":0},""" +
      """{"timestamp":2,"predicted_price":-3},{"timestamp":3,"predicted_price":0.1},""" +
      """{"timestamp":4,"predicted_price":999999999999999},""" +
      """{"timestamp":5,"predicted_price":1.0E15},{"timestamp":6,"predicted_price":-1.0E15},""" +
      """{"timestamp":7,"predicted_price":1.5E300},{"timestamp":8,"predicted_price":4.9E-324},""" +
      """{"timestamp":9,"predicted_price":NaN},{"timestamp":10,"predicted_price":Infinity},""" +
      """{"timestamp":11,"predicted_price":-Infinity},""" +
      """{"timestamp":12,"predicted_price":0.3333333333333333},""" +
      """{"timestamp":13,"predicted_price":1.23456789125E8},""" +
      """{"timestamp":14,"predicted_price":2.0E-7}]""")
    val u = "\\" + "u00" // the JSON escape prefix, spelled so the compiler does not read it
    assert(Responses.strings(Seq("A\"B\\C\n\r\t" + 1.toChar + 31.toChar + "\u00e9", "")) ==
      "[\"A\\\"B\\\\C\\n\\r\\t" + u + "01" + u + "1f\u00e9\",\"\"]")
  }
}
