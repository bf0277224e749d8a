package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.TimestampType

import graft.schema.Schemas
import graft.store.ServingStore

/** Speed layer: one parsed candle stream fanned out into three concurrent
  * streaming queries (stream_processor.py / SURVEY.md §3.2):
  *
  *   q1 `latest`  — latest candle per symbol, complete mode, 15 s trigger;
  *   q2 `stats`   — 10 min / 1 min sliding-window avg/min/max/count,
  *                  update mode, 60 s trigger, 2-minute watermark;
  *   q3 `chart`   — stateless append of raw candles, day-partitioned sink.
  *
  * Differences from the reference, by design (SURVEY.md §4.3):
  *   - q1 uses `max_by(struct(...), event_timestamp)` instead of the
  *     arrival-order-dependent `F.last` (stream_processor.py:80-90) —
  *     deterministic, same complete-mode state shape;
  *   - q3 partitions by EVENT date, not processing date
  *     (stream_processor.py:153-155 mislabels candles near midnight);
  *   - no `df.count()` recomputation inside foreachBatch
  *     (stream_processor.py:100,135,164) — the store write is the action.
  *
  * Sinks are ServingStore writes whose reads key on the reference's doc_id
  * formulas, so at-least-once foreachBatch delivery has exactly-once effect
  * (T9): q1 overwrites, q2's latest epoch wins per doc_id, q3's replays
  * dedup by doc_id at read and compaction.
  */
object OhlcvStreamJob {

  val DefaultWatermark = "2 minutes"   // stream_processor.py:77
  val DefaultWindow = "10 minutes"     // stream_processor.py:21
  val DefaultSlide = "1 minute"        // stream_processor.py:22

  /** Parse the raw Kafka-shaped stream: `value` bytes/string → JSON struct →
    * typed columns + event time (stream_processor.py:63-74 / P7, P8, P4).
    * Input must have a `value` column (binary or string).
    */
  def parse(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value").cast("string"), Schemas.streamMessage).as("data"))
      .select(col("data.*"))
      .withColumn("event_timestamp", (col("timestamp") / 1000).cast(TimestampType))
      .withColumnRenamed("timestamp", "timestamp_ms")
      .withColumn("close_price", col("close"))
      .withColumn("volume_val", col("volume"))

  def withWatermarked(parsed: DataFrame, delay: String = DefaultWatermark): DataFrame =
    parsed.withWatermark("event_timestamp", delay) // T1

  /** Streaming deduplication: drop re-delivered candles by (symbol,
    * timestamp_ms) with watermark-bounded state — the streaming form of
    * exact dedup (a training-data pipeline ingesting a feed needs this
    * before anything else).
    *
    * `dropDuplicatesWithinWatermark`, NOT `dropDuplicates`: plain
    * dropDuplicates only evicts state when the watermarked event-time
    * COLUMN is part of the key subset — with keys (symbol, timestamp_ms)
    * its state grows one entry per candle ever seen, unbounded. The
    * WithinWatermark variant evicts on the stream's watermark regardless
    * of key shape, guaranteeing dedup of any re-delivery arriving within
    * the watermark delay — exactly the at-least-once replay window.
    */
  def dedupedStream(watermarked: DataFrame): DataFrame =
    watermarked.dropDuplicatesWithinWatermark("symbol", "timestamp_ms")

  /** q1 aggregate: latest candle per symbol — deterministic `max_by` over
    * event time with timestamp_ms as tiebreaker (replaces nondeterministic
    * `F.last`, stream_processor.py:80-90 / A1). Output schema matches
    * stream_processor.py:95-99.
    */
  def latestAgg(parsed: DataFrame): DataFrame =
    parsed.groupBy(col("symbol")).agg(
      max(col("event_timestamp")).as("latest_event_timestamp"),
      max_by(
        struct(col("close_price"), col("volume_val"), col("timestamp_ms"),
          col("open"), col("high"), col("low")),
        struct(col("event_timestamp"), col("timestamp_ms"))).as("latest"))
      .select(
        col("symbol"),
        col("latest_event_timestamp"),
        col("latest.close_price").as("current_price"),
        col("latest.volume_val").as("current_volume"),
        col("latest.open").as("open"),
        col("latest.high").as("high"),
        col("latest.low").as("low"),
        col("latest.timestamp_ms").as("timestamp_ms"))
      .withColumn("doc_id", col("symbol")) // stream_processor.py:95

  /** q2 aggregate: sliding event-time window stats per symbol
    * (stream_processor.py:114-130 / A2, T2). Window struct flattened to
    * window_start/window_end; doc_id per stream_processor.py:134.
    */
  def statsAgg(watermarked: DataFrame,
      win: String = DefaultWindow, slide: String = DefaultSlide): DataFrame =
    watermarked
      .groupBy(col("symbol"), window(col("event_timestamp"), win, slide))
      .agg(
        avg(col("close_price")).as("avg_price"),
        min(col("close_price")).as("min_price"),
        max(col("close_price")).as("max_price"),
        count(col("close_price")).as("event_count_in_window"))
      .select(
        col("symbol"),
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("avg_price"), col("min_price"), col("max_price"),
        col("event_count_in_window"))
      .withColumn("doc_id",
        expr("concat(replace(symbol,'/','-'), '_stats_', cast(window_end as long))"))

  /** Session-window aggregate (T3 — the window kind the reference never
    * used): per-symbol activity sessions that close after `gap` of event-
    * time silence. Watermark required: session state is merged/evicted as
    * event time advances.
    */
  def sessionAgg(watermarked: DataFrame, gap: String = "5 minutes"): DataFrame =
    watermarked
      .groupBy(col("symbol"), session_window(col("event_timestamp"), gap))
      .agg(count(lit(1)).as("n_candles"),
        min(col("close_price")).as("min_price"),
        max(col("close_price")).as("max_price"))
      .select(col("symbol"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_candles"), col("min_price"), col("max_price"))

  /** q3 projection: raw chart rows, `event_timestamp` → `@timestamp`,
    * doc_id per stream_processor.py:156-163; plus the EVENT-date partition
    * column for the day-partitioned sink (S6).
    */
  def chartRows(parsed: DataFrame): DataFrame =
    parsed.select(
      expr("concat(replace(symbol,'/','-'), '_1m_', cast(timestamp_ms as string))").as("doc_id"),
      col("symbol"),
      col("event_timestamp").as("@timestamp"),
      col("timestamp_ms"),
      col("open"), col("high"), col("low"), col("close"), col("volume"))
      .withColumn("dt", date_format(col("@timestamp"), "yyyy-MM-dd"))

  /** Per-query trigger cadences (T5). The reference runs the three
    * queries at distinct rates — latest 15 s (stream_processor.py:111),
    * stats 60 s (:146), chart 15 s (:175); `None` = as-fast-as-possible
    * (what MemoryStream tests want).
    */
  final case class Triggers(latestMs: Option[Long], statsMs: Option[Long],
      chartMs: Option[Long])
  object Triggers {
    val AsFastAsPossible: Triggers = Triggers(None, None, None)
    /** The reference's production cadences: 15 s / 60 s / 15 s. */
    val Reference: Triggers = Triggers(Some(15000L), Some(60000L), Some(15000L))
  }

  /** Start all three queries against a store; returns the running queries.
    * Kafka in production ([[KafkaSource]] / S3); tests inject a
    * MemoryStream-backed frame.
    */
  def start(parsed: DataFrame, store: ServingStore, checkpointRoot: String,
      triggers: Triggers = Triggers.AsFastAsPossible): Seq[StreamingQuery] = {
    val wm = withWatermarked(parsed)
    def trig[T](ms: Option[Long])(b: org.apache.spark.sql.streaming.DataStreamWriter[T]) =
      ms.fold(b)(m => b.trigger(Trigger.ProcessingTime(m)))

    // Sink costs per micro-batch, by design (VERDICT r1 item 4):
    //   q1 complete-mode state IS the whole table (1 row/symbol) → plain
    //      overwrite, no merge-read;
    //   q2 update mode → epoch-versioned append, O(batch); latest epoch
    //      wins at read (window corrections supersede);
    //   q3 append mode → append-log, O(batch); doc_id dedup at read/compact.
    val q1 = trig(triggers.latestMs)(latestAgg(parsed).writeStream
      .outputMode("complete") // stream_processor.py:108; state = 1 row/symbol
      .option("checkpointLocation", s"$checkpointRoot/latest_ohlcv")
      .foreachBatch { (df: DataFrame, _: Long) =>
        store.overwrite(Schemas.Tables.Latest, df)
      }).start()

    val q2 = trig(triggers.statsMs)(statsAgg(wm).writeStream
      .outputMode("update") // stream_processor.py:143
      .option("checkpointLocation", s"$checkpointRoot/ohlcv_stats")
      .foreachBatch { (df: DataFrame, epochId: Long) =>
        store.appendLogVersioned(Schemas.Tables.Stats, df, epochId)
      }).start()

    val q3 = trig(triggers.chartMs)(chartRows(wm).writeStream
      .outputMode("append") // stream_processor.py:172
      .option("checkpointLocation", s"$checkpointRoot/raw_ohlcv_chart")
      .foreachBatch { (df: DataFrame, _: Long) =>
        store.appendLogPartitioned(Schemas.Tables.ChartData, df, "dt")
      }).start()

    Seq(q1, q2, q3)
  }
}
