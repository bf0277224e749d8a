package graft.batch

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.schema.Schemas
import graft.store.ServingStore

/** Batch layer: raw OHLCV candle CSVs → SMA features → keyed upsert into the
  * serving store. Reproduces the reference pipeline of batch_processor.py
  * (SURVEY.md §3.1) with the inefficiencies of §4.3 removed:
  *
  *   - no `rdd.isEmpty()` probes (we use `df.isEmpty`, a limit-1 plan);
  *   - no global `orderBy` before the window spec (the window re-shuffles by
  *     its own partitioning anyway — the reference's sort at
  *     batch_processor.py:104 is a wasted range exchange);
  *   - debug `show()`s behind a verbose flag.
  *
  * Physical plan: FileScan csv → Project/Filter (whole-stage codegen) →
  * Exchange(hashpartition symbol,timeframe) → Sort-in-partition → Window
  * (both SMA frames evaluated in one pass) → Project → store upsert.
  * One shuffle total. At 100 TB the shuffle is keyed on (symbol, timeframe)
  * — bounded cardinality; if one symbol dominates, pre-split by date range
  * and union, or compute SMA incrementally per day-partition.
  */
object OhlcvBatchJob {

  /** Scan the raw candle dirs (multi-path, explicit schema, header), attach
    * the source filename (batch_processor.py:53-54 / S1-S2).
    */
  def scanRaw(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read
      .schema(Schemas.rawOhlcvCsv)
      .option("header", "true")
      .csv(paths: _*)
      .withColumn("source_file", input_file_name())

  /** Extract (symbol, timeframe) from the filename and drop rows whose
    * filename didn't parse (batch_processor.py:61-73 / P1-P2).
    */
  def extractMetadata(raw: DataFrame): DataFrame = {
    val basename = regexp_extract(col("source_file"), "([^/]+)$", 1)
    val withMeta = raw
      .withColumn("basename", basename)
      .withColumn("symbol", regexp_extract(col("basename"), Schemas.filenamePattern, 1))
      .withColumn("timeframe", regexp_extract(col("basename"), Schemas.filenamePattern, 2))
      .drop("basename")
    withMeta.filter(
      col("symbol").isNotNull && col("symbol") =!= "" &&
      col("timeframe").isNotNull && col("timeframe") =!= "")
  }

  /** The debug complement (P3): rows rejected by [[extractMetadata]]'s
    * filter — for operator parity with batch_processor.py:76-78.
    */
  def rejectedRows(raw: DataFrame): DataFrame = {
    val basename = regexp_extract(col("source_file"), "([^/]+)$", 1)
    val withMeta = raw
      .withColumn("symbol", regexp_extract(basename, Schemas.filenamePattern, 1))
      .withColumn("timeframe", regexp_extract(basename, Schemas.filenamePattern, 2))
    withMeta.filter(!(
      col("symbol").isNotNull && col("symbol") =!= "" &&
      col("timeframe").isNotNull && col("timeframe") =!= ""))
  }

  /** Normalize timestamps and project the candle columns
    * (batch_processor.py:91-104 / P4-P6): ms epoch → TimestampType event
    * time, plus epoch-seconds storage form.
    */
  def normalize(df: DataFrame): DataFrame =
    df.select(
      (col("timestamp") / 1000).cast(TimestampType).as("timestamp_dt"),
      ((col("timestamp") / 1000).cast(TimestampType)).cast(LongType).as("timestamp"),
      col("symbol"),
      col("timeframe"),
      col("open").cast("double").as("open"),
      col("high").cast("double").as("high"),
      col("low").cast("double").as("low"),
      col("close").cast("double").as("close"),
      col("volume").cast("double").as("volume"),
    )

  /** Rolling SMA-7 / SMA-30 over row frames per (symbol, timeframe) ordered
    * by event time (batch_processor.py:111-115 / W1-W2). Both frames share
    * one Window partitioning → a single Exchange + Sort, two frame
    * evaluations in one WindowExec.
    * Note the reference's (and our) warm-up edge: `rowsBetween(-6, 0)`
    * averages fewer than 7 rows for the first 6 rows of each partition.
    */
  def withSmaFeatures(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("symbol", "timeframe").orderBy("timestamp_dt")
    df.withColumn("sma_7", avg(col("close")).over(w.rowsBetween(-6, 0)))
      .withColumn("sma_30", avg(col("close")).over(w.rowsBetween(-29, 0)))
  }

  /** Generate the serving key (batch_processor.py:132-135 / P9, P12):
    * `{symbol}_{timeframe}_hist_{epoch_seconds}`.
    */
  def withDocId(df: DataFrame): DataFrame =
    df.withColumn("doc_id",
      concat(col("symbol"), lit("_"), col("timeframe"), lit("_hist_"),
        col("timestamp").cast("string")))

  /** Full pipeline: scan → metadata → normalize → SMA → doc_id. */
  def featureFrame(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val projected = withDocId(
      withSmaFeatures(normalize(extractMetadata(scanRaw(spark, paths)))))
    projected.select("timestamp", "symbol", "timeframe",
      "open", "high", "low", "close", "volume", "sma_7", "sma_30", "doc_id")
  }

  /** Run the job end-to-end: upsert features into the historical table
    * (batch_processor.py:142-148 / S4 — `es.write.operation=upsert` keyed
    * on doc_id becomes ServingStore.upsert).
    */
  def run(spark: SparkSession, paths: Seq[String], store: ServingStore,
      verbose: Boolean = false): Long = {
    val features = featureFrame(spark, paths)
    if (features.isEmpty) return 0L // limit-1 probe, not rdd.isEmpty
    if (verbose) features.show(5, truncate = false)
    val cached = features.cache()
    try {
      val n = cached.count()
      store.upsert(Schemas.Tables.Historical, "doc_id", cached)
      n
    } finally { cached.unpersist() }
  }

  /** Incremental run: process only candles NEWER than the store's
    * per-(symbol, timeframe) frontier (the reference re-reads everything
    * hourly and relies on upsert idempotency, batch_processor.py — at
    * 100 TB that is an O(raw-history) rescan + feature recompute per
    * hour; the A6 frontier query exists precisely to avoid it,
    * hourly_updater.py:70-97).
    *
    * The SMA row frames need the 29 candles BEFORE each new row, so the
    * stored tail (last 29 rows per key via the bounded-heap top-k
    * operator — row-count-based, not a time-based guess that row frames
    * would disagree with on gappy feeds) is unioned in for the window
    * pass and dropped before the upsert.
    *
    * Cost honestly: the SAVINGS are the raw-history scan + window
    * recompute (now O(new + 29·keys)); the store-side passes (frontier
    * agg, tail top-k, upsert's anti-join merge) remain O(store) per run —
    * columnar and heap-bounded, but a full-table rewrite in the merge.
    *
    * ASSUMES in-order arrival per key (true of the reference's crawler,
    * which pages forward from the frontier) — and VERIFIES it: an
    * incoming row at-or-below the frontier that is missing from the store
    * (re-delivered gap candle) or stored with different OHLCV values
    * (upstream correction) cannot be patched by a frontier-filtered pass
    * — its own SMA and the SMAs of up to 29 stored rows after it are all
    * stale — so detection of either falls back to the full [[run]]. The
    * probe costs one broadcast frontier filter over the incoming batch
    * plus a join against the store's (doc_id, ohlcv) columns; in the
    * in-order steady state the probe side is empty and AQE
    * short-circuits the join.
    */
  def runIncremental(spark: SparkSession, paths: Seq[String],
      store: ServingStore): Long = {
    if (!store.exists(Schemas.Tables.Historical))
      return run(spark, paths, store)
    val hist = store.table(Schemas.Tables.Historical)
    val frontier = hist.groupBy("symbol", "timeframe")
      .agg(max("timestamp").as("_frontier"))
    def newerThanFrontier(df: DataFrame): DataFrame = df
      .join(broadcast(frontier), Seq("symbol", "timeframe"), "left")
      .filter(col("_frontier").isNull || col("timestamp") > col("_frontier"))
      .drop("_frontier")
    val incoming = normalize(extractMetadata(scanRaw(spark, paths)))
    // a backfill is an at-or-below-frontier row that is MISSING from the
    // store (re-delivered gap candle) OR PRESENT WITH DIFFERENT VALUES
    // (upstream correction) — both invalidate stored SMAs downstream of
    // the row, so both force the full recompute. Exact double equality is
    // right here: an unchanged candle re-parses to bit-identical doubles.
    val stored = hist.select(col("doc_id"), col("open").as("_so"),
      col("high").as("_sh"), col("low").as("_sl"),
      col("close").as("_sc"), col("volume").as("_sv"))
    val backfills = withDocId(incoming)
      .join(broadcast(frontier), Seq("symbol", "timeframe"), "left")
      .filter(col("_frontier").isNotNull && col("timestamp") <= col("_frontier"))
      .join(stored, Seq("doc_id"), "left")
      .filter(col("_so").isNull ||
        col("_so") =!= col("open") || col("_sh") =!= col("high") ||
        col("_sl") =!= col("low") || col("_sc") =!= col("close") ||
        col("_sv") =!= col("volume"))
    if (!backfills.isEmpty) return run(spark, paths, store)
    // timestamps are unique per key (doc_id is keyed on them), so no
    // tiebreak column is needed for determinism
    val tail = graft.plans.TopKPerGroup.topK(hist,
        Seq("symbol", "timeframe"), "timestamp", 29, desc = true)
      .select(col("timestamp").cast(TimestampType).as("timestamp_dt"),
        col("timestamp"), col("symbol"), col("timeframe"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))
    val fresh = newerThanFrontier(incoming)
    // tail rows re-enter the window only as lookback: their own SMA is
    // truncated here, so they must not be re-upserted
    val features = newerThanFrontier(
      withDocId(withSmaFeatures(tail.unionByName(fresh))))
      .select("timestamp", "symbol", "timeframe",
        "open", "high", "low", "close", "volume", "sma_7", "sma_30", "doc_id")
    if (features.isEmpty) return 0L
    val cached = features.cache()
    try {
      val n = cached.count()
      store.upsert(Schemas.Tables.Historical, "doc_id", cached)
      n
    } finally { cached.unpersist() }
  }
}
