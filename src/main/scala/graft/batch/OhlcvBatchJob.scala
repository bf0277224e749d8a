package graft.batch

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StringType,
  StructField, StructType, TimestampType}

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
    * on doc_id becomes ServingStore.upsert). The swap leaves the table's
    * [[HistoryTail]] index stale; the next [[runIncremental]] rebuilds it.
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
    * The frontier and the SMA lookback (the last 29 stored rows per key —
    * row-count-based, not a time-based guess that row frames would
    * disagree with on gappy feeds) come from the table's [[HistoryTail]]
    * side index, trusted only when it was written for the table's current
    * [[ServingStore.version]]; otherwise one top-k pass over the table
    * rebuilds it (the first run after a full [[run]] or a compaction pays
    * that pass). The window pass runs over that local tail plus the fresh
    * rows, and the tail rows are dropped again before the write. After its
    * append, the run stores the advanced index only if the table holds
    * exactly what it read plus the appended file.
    *
    * Cost: in the in-order steady state the run reads no file of the
    * historical table. Its work is the scan of `paths`, a window pass over
    * O(new + 29·keys) local rows, and one appended parquet file. The append
    * needs no merge: a fresh row is newer than its key's frontier, and its
    * `doc_id` (`{symbol}_{timeframe}_hist_{timestamp}`, whose timeframe
    * holds no `_`) parses back to that one key, so no stored row shares it.
    * Fresh rows are deduplicated by `doc_id` within the batch. That is
    * O(new rows) only for the updater's delivery shape: files of candles
    * newer than the frontier, or re-delivering candles the tail still
    * holds. Rows older than the tail run a Spark probe against the table
    * (restricted to their pairs), so a caller that passes the whole raw
    * history pays an O(table) probe.
    *
    * ASSUMES in-order arrival per key (true of the reference's crawler,
    * which pages forward from the frontier) — and VERIFIES it: an
    * incoming row at-or-below the frontier that is missing from the store
    * (re-delivered gap candle) or stored with different OHLCV values
    * (upstream correction) cannot be patched by a frontier-filtered pass
    * — its own SMA and the SMAs of up to 29 stored rows after it are all
    * stale — so detection of either falls back to the full [[run]]
    * ([[HistoryTail.storedDiffers]] states the rule). Exact
    * double equality is right here: an unchanged candle re-parses to
    * bit-identical doubles.
    */
  def runIncremental(spark: SparkSession, paths: Seq[String],
      store: ServingStore): Long = {
    if (!store.exists(Schemas.Tables.Historical))
      return run(spark, paths, store)
    val before = store.version(Schemas.Tables.Historical).get
    val index = HistoryTail.current(store, before)
    val keys = Seq("symbol", "timeframe")
    // a space joins the key: neither a symbol nor a timeframe holds one
    val floors = typedLit(index.floors.map { case ((s, t), lo) => s"$s $t" -> lo })
    val incoming = normalize(extractMetadata(scanRaw(spark, paths)))
      .withColumn("_old", coalesce(col("timestamp") <
        try_element_at(floors, concat_ws(" ", col("symbol"), col("timeframe"))), lit(false)))
    // one scan of `paths`: the rows a local check can decide come back to
    // the driver, and the pairs of the rows older than their key's tail are
    // observed on the way (no row of theirs is collected)
    val older = Observation("rows older than the tail")
    // (symbol, timeframe, micros, timestamp, ohlcv): the local window
    // frame's row without `_fresh`; from index 3 on, a HistoryTail row
    val near = incoming
      .observe(older, collect_set(when(col("_old"), struct(keys.map(col): _*))).as("pairs"))
      .filter(col("timestamp").isNotNull && !col("_old"))
      .select(col("symbol"), col("timeframe"),
        unix_micros(col("timestamp_dt")).as("_micros"), col("timestamp"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))
      .collect()
    val olderPairs = older.get("pairs").asInstanceOf[scala.collection.Seq[Row]].toSeq
    if (olderPairs.nonEmpty &&
        !HistoryTail.storedDiffers(store, incoming.filter(col("_old")), olderPairs).isEmpty)
      return run(spark, paths, store)
    def key(r: Row) = (r.getString(0), r.getString(1))
    def candle(r: Row) = Row.fromSeq(r.toSeq.drop(3))
    val (newer, atOrBelow) =
      near.partition(r => index.frontier(key(r)).forall(r.getLong(3) > _))
    if (atOrBelow.exists(r => index.changed(key(r), candle(r))))
      return run(spark, paths, store)
    val fresh = newer.distinctBy(r => (key(r), r.getLong(3)))
      .groupBy(key).map { case (k, rs) => k -> rs.sortBy(_.getLong(3)).toSeq }
    if (fresh.isEmpty) return 0L
    // tail rows re-enter the window only as lookback: their own SMA is
    // truncated here, so they must not be written again
    val frame = fresh.toSeq.flatMap { case (k, rs) =>
      index.lookback(k).map(t => Row.fromSeq(Seq(k._1, k._2,
        if (t.isNullAt(0)) null else t.getLong(0) * 1000000L) ++ t.toSeq :+ false)) ++
        rs.map(r => Row.fromSeq(r.toSeq :+ true))
    }
    val local = spark.createDataFrame(frame.asJava, StructType(
      Seq("symbol", "timeframe").map(StructField(_, StringType)) ++
      Seq("_micros", "timestamp").map(StructField(_, LongType)) ++
      Seq("open", "high", "low", "close", "volume").map(StructField(_, DoubleType)) :+
      StructField("_fresh", BooleanType)))
    // one partition, so the window needs no exchange and the batch lands as
    // the one file writeAfterAppend expects; cast to the stored schema, so
    // the appended file reads back with the snapshot's column order and types
    val features = withDocId(withSmaFeatures(local.coalesce(1)
        .withColumn("timestamp_dt", timestamp_micros(col("_micros")))))
      .filter(col("_fresh"))
      .select(index.schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
    store.appendLog(Schemas.Tables.Historical, features)
    HistoryTail.writeAfterAppend(store,
      index.append(fresh.map { case (k, rs) => k -> rs.map(candle) }), before)
    fresh.valuesIterator.map(_.size.toLong).sum
  }
}
