package graft.stream

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ingest.FixtureGen
import graft.schema.Schemas
import graft.store.ServingStore

/** Speed-layer tests: producer-shaped JSON through MemoryStream (the test
  * stand-in for the Kafka source, SURVEY.md §5.4) into the three streaming
  * queries, verifying watermark drops, sliding-window contents,
  * latest-candle determinism, and doc_id idempotency on replay.
  */
class OhlcvStreamJobSpec extends SparkSpec {

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private val t0 = 1717200000000L // 2024-06-01T00:00:00Z

  private def candleJson(symbol: String, minute: Int, close: Double,
      volume: Double = 10.0): String = {
    val ts = t0 + minute * 60000L
    FixtureGen.streamJson(symbol, "1m",
      FixtureGen.Candle(ts, close - 1, close + 1, close - 2, close, volume))
  }

  /** Run one micro-batch of JSON lines through a streaming query built by
    * `build`, collecting each batch into the store.
    */
  private def runStream(lines: Seq[String]*)(
      build: (org.apache.spark.sql.DataFrame, ServingStore) => Unit): ServingStore = {
    implicit val s = spark
    import spark.implicits._
    val store = new ServingStore(tmp("stream-store"))
    val mem = MemoryStream[String](1)(implicitly, spark.sqlContext)
    val parsed = OhlcvStreamJob.parse(mem.toDF().withColumnRenamed("value", "value"))
    build(parsed, store)
    val queries = spark.streams.active
    lines.foreach { batch =>
      mem.addData(batch: _*)
      queries.foreach(_.processAllAvailable())
    }
    queries.foreach(_.stop())
    store
  }

  test("q1 latest: deterministic max_by over event time, complete mode") {
    val store = runStream(
      Seq(candleJson("BTC/USDT", 5, 100.0), candleJson("BTC/USDT", 3, 99.0),
        candleJson("ETH/USDT", 4, 50.0)),
      Seq(candleJson("BTC/USDT", 6, 101.0)))( (parsed, store) =>
      OhlcvStreamJob.latestAgg(parsed).writeStream
        .outputMode("complete")
        .option("checkpointLocation", tmp("ckpt-latest"))
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          store.upsert(Schemas.Tables.Latest, "doc_id", df)
        }.start()
    )
    val rows = store.table(Schemas.Tables.Latest).collect()
      .map(r => r.getAs[String]("symbol") ->
        (r.getAs[Double]("current_price"), r.getAs[Long]("timestamp_ms"))).toMap
    assert(rows("BTC/USDT") == (101.0, t0 + 6 * 60000L),
      "latest candle must be the max event-time row, not arrival order")
    assert(rows("ETH/USDT")._1 == 50.0)
  }

  test("q2 stats: sliding windows contain correct avg/min/max/count; " +
    "late rows beyond watermark are dropped") {
    val store = runStream(
      // batch 1: two candles in minute 10-11
      Seq(candleJson("BTC/USDT", 10, 100.0), candleJson("BTC/USDT", 11, 110.0)),
      // batch 2: advance watermark far ahead (minute 40), plus a LATE row
      // at minute 0 (older than watermark 40min - 2min) in batch 3
      Seq(candleJson("BTC/USDT", 40, 200.0)),
      Seq(candleJson("BTC/USDT", 0, 999.0)))( (parsed, store) =>
      OhlcvStreamJob.statsAgg(OhlcvStreamJob.withWatermarked(parsed))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", tmp("ckpt-stats"))
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          store.upsert(Schemas.Tables.Stats, "doc_id", df)
        }.start()
    )
    val rows = store.table(Schemas.Tables.Stats).collect()
    // the 10-min sliding window [min 2..12) etc: find a window containing
    // both minute-10 and minute-11 candles
    val both = rows.filter(r => r.getAs[Long]("event_count_in_window") == 2)
    assert(both.nonEmpty, "no window aggregated both candles")
    both.foreach { r =>
      assert(r.getAs[Double]("avg_price") == 105.0)
      assert(r.getAs[Double]("min_price") == 100.0)
      assert(r.getAs[Double]("max_price") == 110.0)
    }
    // the late 999 row (minute 0, watermark at ~minute 38) must NOT appear
    assert(!rows.exists(r => r.getAs[Double]("max_price") == 999.0),
      "late row past the watermark leaked into window state")
    // doc_id formula: symbol with '/'→'-'
    assert(rows.forall(_.getAs[String]("doc_id").startsWith("BTC-USDT_stats_")))
  }

  test("q3 chart: append rows partitioned by event date, idempotent replay") {
    implicit val s = spark
    val store = runStream(
      Seq(candleJson("BTC/USDT", 1, 100.0), candleJson("ETH/USDT", 2, 50.0)),
      // replay the same candle (same timestamp → same doc_id): the serving
      // read must not duplicate it (T9 exactly-once effect)
      Seq(candleJson("BTC/USDT", 1, 100.0)))( (parsed, store) =>
      OhlcvStreamJob.chartRows(OhlcvStreamJob.withWatermarked(parsed))
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", tmp("ckpt-chart"))
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          // q3's production sink (OhlcvStreamJob.start)
          store.appendLogPartitioned(Schemas.Tables.ChartData, df, "dt")
        }.start()
    )
    assert(store.table(Schemas.Tables.ChartData).count() == 3,
      "the append log keeps the replayed row; dedup happens at read")
    val rows = store.tableCurrent(Schemas.Tables.ChartData, "doc_id").collect()
    assert(rows.length == 2, s"replayed candle duplicated: ${rows.length} rows")
    // partition values read back type-inferred (string "2024-06-01" → Date)
    assert(rows.forall(r => String.valueOf(r.getAs[Any]("dt")) == "2024-06-01"))
    val btc = rows.find(_.getAs[String]("symbol") == "BTC/USDT").get
    assert(btc.getAs[String]("doc_id") == s"BTC-USDT_1m_${t0 + 60000L}")
  }

  test("streaming dedup drops re-delivered candles within the watermark") {
    implicit val s = spark
    val store = runStream(
      Seq(candleJson("BTC/USDT", 5, 100.0), candleJson("BTC/USDT", 5, 100.0),
        candleJson("BTC/USDT", 6, 101.0)),
      // batch 2 re-delivers minute-5 (same key) → must be dropped by state
      Seq(candleJson("BTC/USDT", 5, 100.0), candleJson("BTC/USDT", 7, 102.0)))(
      (parsed, store) =>
        OhlcvStreamJob.dedupedStream(OhlcvStreamJob.withWatermarked(parsed))
          .select("symbol", "timestamp_ms", "close_price")
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", tmp("ckpt-dedup"))
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            // plain append table keyed on nothing: dedup already happened
            if (!df.isEmpty) {
              val prev =
                if (store.exists("dedup_out")) store.table("dedup_out")
                else df.limit(0)
              store.overwrite("dedup_out", prev.unionByName(df))
            }
          }.start()
    )
    val rows = store.table("dedup_out").collect()
    assert(rows.length == 3, s"expected 3 unique candles, got ${rows.length}")
    assert(rows.map(_.getAs[Long]("timestamp_ms")).toSet ==
      Set(5, 6, 7).map(m => t0 + m * 60000L))
  }

  test("kafka source option plumbing matches the reference consumer (S3)") {
    val c = KafkaSource.Config(bootstrapServers = "broker-1:9092",
      maxOffsetsPerTrigger = Some(1000L))
    val o = KafkaSource.options(c)
    assert(o("kafka.bootstrap.servers") == "broker-1:9092")
    assert(o("subscribe") == "crypto_ohlcv_1m")      // stream_processor.py:58
    assert(o("startingOffsets") == "latest")         // stream_processor.py:59
    assert(o("failOnDataLoss") == "false")           // stream_processor.py:60
    assert(o("maxOffsetsPerTrigger") == "1000")
    assert(!KafkaSource.options(KafkaSource.Config())
      .contains("maxOffsetsPerTrigger"))
    // builder composes without resolving the source (that happens at load())
    KafkaSource.reader(spark, c)
  }

  test("per-query triggers: q1/q2/q3 run at the reference's distinct cadences (T5)") {
    import org.apache.spark.sql.execution.streaming.runtime.{StreamExecution, StreamingQueryWrapper}
    import org.apache.spark.sql.streaming.Trigger
    implicit val s = spark
    import spark.implicits._
    assert(OhlcvStreamJob.Triggers.Reference ==
      OhlcvStreamJob.Triggers(Some(15000L), Some(60000L), Some(15000L)))
    val store = new ServingStore(tmp("trig-store"))
    val mem = MemoryStream[String](3)(implicitly, spark.sqlContext)
    val parsed = OhlcvStreamJob.parse(mem.toDF())
    val qs = OhlcvStreamJob.start(parsed, store, tmp("trig-ckpt"),
      OhlcvStreamJob.Triggers.Reference)
    try {
      def triggerOf(q: org.apache.spark.sql.streaming.StreamingQuery): Trigger =
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery
          .asInstanceOf[StreamExecution].trigger
      assert(qs.map(triggerOf) == Seq(
        Trigger.ProcessingTime(15000L),
        Trigger.ProcessingTime(60000L),
        Trigger.ProcessingTime(15000L)))
    } finally qs.foreach(_.stop())
  }

  test("stream-stream interval join matches in-window alerts; state stays bounded") {
    implicit val s = spark
    import spark.implicits._
    val candleMem = MemoryStream[String](5)(implicitly, spark.sqlContext)
    val alertMem = MemoryStream[(String, Timestamp, String)](6)(implicitly, spark.sqlContext)
    val candles = OhlcvStreamJob.parse(candleMem.toDF())
    val alerts = alertMem.toDF().toDF("alert_symbol", "alert_time", "alert_kind")
    val out = new scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = StreamJoins.candlesWithRecentAlerts(candles, alerts)
      .select(col("timestamp_ms"), col("alert_kind"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", tmp("ckpt-ssj"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out ++= df.collect().map(r => (r.getLong(0), r.getString(1)))
        }: Unit
      }.start()
    try {
      def t(m: Int) = new Timestamp(t0 + m * 60000L)
      alertMem.addData(("BTC/USDT", t(5), "spike"), ("ETH/USDT", t(5), "dip"))
      // candle at minute 6: BTC alert 1 min earlier is in the 10-min window;
      // candle at minute 20: alert is 15 min stale → no match
      candleMem.addData(candleJson("BTC/USDT", 6, 100.0),
        candleJson("BTC/USDT", 20, 101.0))
      q.processAllAvailable()
      assert(out.synchronized(out.toSet) ==
        Set((t0 + 6 * 60000L, "spike")),
        s"got ${out.mkString(",")}")
      // advance both watermarks far ahead → old buffered rows evicted
      alertMem.addData(("BTC/USDT", t(500), "late-wm")) : Unit
      candleMem.addData(candleJson("BTC/USDT", 500, 102.0))
      q.processAllAvailable()
      candleMem.addData(candleJson("BTC/USDT", 501, 103.0))
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators(0).numRowsTotal
      assert(stateRows <= 8,
        s"join state must be bounded by watermark+interval, got $stateRows")
    } finally q.stop()
  }

  test("q2 update-mode window state is bounded by the watermark") {
    implicit val s = spark
    import spark.implicits._
    val mem = MemoryStream[String](4)(implicitly, spark.sqlContext)
    val parsed = OhlcvStreamJob.parse(mem.toDF())
    val q = OhlcvStreamJob.statsAgg(OhlcvStreamJob.withWatermarked(parsed))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", tmp("ckpt-state"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.count(): Unit
      }.start()
    try {
      // minutes 0..5 → ~15 open sliding windows in state
      mem.addData((0 to 5).map(m => candleJson("BTC/USDT", m, 100.0)): _*)
      q.processAllAvailable()
      val early = q.lastProgress.stateOperators(0).numRowsTotal
      assert(early >= 10, s"expected open windows in state, got $early")
      // jump event time far ahead; the next batches advance the watermark
      // past every early window's end → they must be EVICTED, not retained
      mem.addData(candleJson("BTC/USDT", 120, 101.0))
      q.processAllAvailable()
      mem.addData(candleJson("BTC/USDT", 121, 102.0))
      q.processAllAvailable()
      val late = q.lastProgress.stateOperators(0).numRowsTotal
      assert(late < early,
        s"watermark did not evict expired windows: $early -> $late")
      assert(late <= 12, s"state should hold only windows near the " +
        s"frontier (~11 for one symbol), got $late")
    } finally q.stop()
  }

  test("streaming dedup state is evicted by the watermark (not unbounded)") {
    implicit val s = spark
    import spark.implicits._
    val mem = MemoryStream[String](7)(implicitly, spark.sqlContext)
    val parsed = OhlcvStreamJob.parse(mem.toDF())
    val q = OhlcvStreamJob.dedupedStream(OhlcvStreamJob.withWatermarked(parsed))
      .select("symbol", "timestamp_ms")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", tmp("ckpt-dedup-state"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.count(): Unit
      }.start()
    try {
      // 40 distinct candles, then far-future ones: with plain
      // dropDuplicates on (symbol, timestamp_ms) state would hold one
      // entry per candle EVER SEEN (42 here, unbounded in production —
      // the watermark column is not in the key subset, so nothing
      // evicts); WithinWatermark keeps only entries inside the 2-minute
      // delay behind the frontier
      mem.addData((0 until 40).map(m => candleJson("BTC/USDT", m, 100.0)): _*)
      q.processAllAvailable()
      val early = q.lastProgress.stateOperators(0).numRowsTotal
      assert(early > 0 && early <= 10,
        s"dedup state not watermark-bounded after 40 candles: $early")
      mem.addData(candleJson("BTC/USDT", 500, 101.0))
      q.processAllAvailable()
      mem.addData(candleJson("BTC/USDT", 501, 102.0))
      q.processAllAvailable()
      val late = q.lastProgress.stateOperators(0).numRowsTotal
      assert(late <= 5,
        s"dedup state not evicted across batches: $early -> $late")
    } finally q.stop()
  }

  test("three concurrent queries from one parsed stream (T7 fan-out)") {
    implicit val s = spark
    import spark.implicits._
    val store = new ServingStore(tmp("fanout-store"))
    val mem = MemoryStream[String](2)(implicitly, spark.sqlContext)
    val parsed = OhlcvStreamJob.parse(mem.toDF())
    val qs = OhlcvStreamJob.start(parsed, store, tmp("fanout-ckpt"))
    try {
      mem.addData(candleJson("BTC/USDT", 1, 100.0),
        candleJson("BTC/USDT", 2, 101.0))
      qs.foreach(_.processAllAvailable())
      assert(store.table(Schemas.Tables.Latest).count() == 1)
      assert(store.table(Schemas.Tables.Stats).count() > 0)
      assert(store.table(Schemas.Tables.ChartData).count() == 2)
    } finally qs.foreach(_.stop())
  }
}
