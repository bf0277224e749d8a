package graft.batch

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.{JobTrace, SparkSpec}
import graft.ingest.FixtureGen
import graft.schema.Schemas
import graft.store.ServingStore

class OhlcvBatchJobSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  // --- P1: filename → (symbol, timeframe) regex, table-driven -------------
  // Pattern from batch_processor.py:63 incl. `_update_` suffix,
  // multi-underscore symbols, and reject cases (batch_processor.py:75-78).
  private val regex = Schemas.filenamePattern.r

  private def parse(fn: String): Option[(String, String)] =
    regex.findFirstMatchIn(fn).map(m => (m.group(1), m.group(2)))

  test("filename regex accepts crawler and updater shapes") {
    assert(parse("BTC_USDT_1h.csv").contains(("BTC_USDT", "1h")))
    assert(parse("ETH_USDT_1h.csv").contains(("ETH_USDT", "1h")))
    assert(parse("BTC_USDT_1h_update_20250521_150000.csv")
      .contains(("BTC_USDT", "1h")))
    assert(parse("SOL_USDT_15m.csv").contains(("SOL_USDT", "15m")))
    assert(parse("X_Y_Z_4h.csv").contains(("X_Y_Z", "4h")))
  }

  test("filename regex rejects malformed names") {
    assert(parse("btc_usdt_1h.csv").isEmpty)   // lowercase symbol
    assert(parse("BTC_USDT.csv").isEmpty)      // no timeframe
    assert(parse("BTC_USDT_1h.txt").isEmpty)   // wrong extension
    assert(parse("readme.csv").isEmpty)
  }

  // --- end-to-end batch pipeline: scan → metadata → SMA → upsert ----------

  test("batch pipeline computes SMA-7/30 matching hand-computed frames") {
    val dir = tmpDir("ohlcv-raw")
    val candles = FixtureGen.candles("BTC_USDT", 1717200000000L, 3600000L, 40)
    FixtureGen.writeCsv(dir, FixtureGen.historicalFileName("BTC_USDT", "1h"), candles)

    val features = OhlcvBatchJob.featureFrame(spark, Seq(dir))
      .orderBy("timestamp").collect()
    assert(features.length == 40)

    val closes = candles.map(_.close).toArray
    def sma(i: Int, w: Int): Double = {
      val lo = math.max(0, i - w + 1)
      closes.slice(lo, i + 1).sum / (i - lo + 1)
    }
    features.zipWithIndex.foreach { case (row, i) =>
      assert(math.abs(row.getAs[Double]("sma_7") - sma(i, 7)) < 1e-9,
        s"sma_7 mismatch at row $i (warm-up edge: avg over <7 rows)")
      assert(math.abs(row.getAs[Double]("sma_30") - sma(i, 30)) < 1e-9,
        s"sma_30 mismatch at row $i")
      assert(row.getAs[String]("symbol") == "BTC_USDT")
      assert(row.getAs[String]("timeframe") == "1h")
      val ts = row.getAs[Long]("timestamp")
      assert(row.getAs[String]("doc_id") == s"BTC_USDT_1h_hist_$ts")
      assert(ts == (1717200000000L + i * 3600000L) / 1000) // epoch seconds
    }
  }

  test("metadata extraction drops rows from unparseable filenames") {
    val dir = tmpDir("ohlcv-mixed")
    val good = FixtureGen.candles("ETH_USDT", 1717200000000L, 3600000L, 5)
    val bad = FixtureGen.candles("jnk", 1717200000000L, 3600000L, 5)
    FixtureGen.writeCsv(dir, "ETH_USDT_1h.csv", good)
    FixtureGen.writeCsv(dir, "badname.csv", bad)

    val raw = OhlcvBatchJob.scanRaw(spark, Seq(dir))
    assert(raw.count() == 10)
    assert(OhlcvBatchJob.extractMetadata(raw).count() == 5)
    assert(OhlcvBatchJob.rejectedRows(raw).count() == 5)
  }

  test("upsert is idempotent and updates by doc_id (hourly re-run)") {
    implicit val s = spark
    val rawDir = tmpDir("ohlcv-upsert-raw")
    val storeDir = tmpDir("ohlcv-store")
    val store = new ServingStore(storeDir)

    val base = FixtureGen.candles("BTC_USDT", 1717200000000L, 3600000L, 24)
    FixtureGen.writeCsv(rawDir, "BTC_USDT_1h.csv", base)
    assert(OhlcvBatchJob.run(spark, Seq(rawDir), store) == 24)
    assert(store.table(Schemas.Tables.Historical).count() == 24)

    // hourly update: last 3 candles re-crawled (overlap) + 2 new ones
    val upd = FixtureGen.candles("BTC_USDT", 1717200000000L + 21 * 3600000L,
      3600000L, 5, basePrice = 200.0)
    val updDir = tmpDir("ohlcv-upsert-upd")
    FixtureGen.writeCsv(updDir,
      FixtureGen.updateFileName("BTC_USDT", "1h", 1717290000000L), upd)
    OhlcvBatchJob.run(spark, Seq(updDir), store)

    val after = store.table(Schemas.Tables.Historical)
    assert(after.count() == 26, "3 overlapping keys upserted, 2 appended")
    // overlapping keys carry the updated (basePrice=200) values
    val updated = after.filter(col("timestamp") === (1717200000000L + 21 * 3600000L) / 1000)
      .collect()(0)
    assert(math.abs(updated.getAs[Double]("open") - 200.0) < 10.0)

    // re-running the same update is a no-op on count (idempotent by doc_id)
    OhlcvBatchJob.run(spark, Seq(updDir), store)
    assert(store.table(Schemas.Tables.Historical).count() == 26)
  }

  test("incremental run equals full recompute, touching only new rows") {
    implicit val s = spark
    val t0 = 1717200000000L
    val all = FixtureGen.candles("BTC_USDT", t0, 3600000L, 100)
    val eth = FixtureGen.candles("ETH_USDT", t0, 3600000L, 50)

    // full recompute over everything = ground truth
    val fullDir = tmpDir("inc-full-raw")
    FixtureGen.writeCsv(fullDir, "BTC_USDT_1h.csv", all)
    FixtureGen.writeCsv(fullDir, "ETH_USDT_1h.csv", eth)
    val fullStore = new ServingStore(tmpDir("inc-full-store"))
    OhlcvBatchJob.run(spark, Seq(fullDir), fullStore)

    // incremental: first 60 BTC / 50 ETH candles, then the full files land
    val firstDir = tmpDir("inc-first-raw")
    FixtureGen.writeCsv(firstDir, "BTC_USDT_1h.csv", all.take(60))
    FixtureGen.writeCsv(firstDir, "ETH_USDT_1h.csv", eth)
    val incStore = new ServingStore(tmpDir("inc-store"))
    OhlcvBatchJob.run(spark, Seq(firstDir), incStore)
    val n = OhlcvBatchJob.runIncremental(spark, Seq(fullDir), incStore)
    assert(n == 40, s"only the 40 new BTC candles should be processed, got $n")

    def snapshot(st: ServingStore) = st.table(Schemas.Tables.Historical)
      .collect().map(r => (r.getAs[String]("doc_id"),
        r.getAs[Double]("sma_7"), r.getAs[Double]("sma_30"),
        r.getAs[Double]("close"))).sortBy(_._1)
    val (f, i) = (snapshot(fullStore), snapshot(incStore))
    assert(f.length == 150 && i.length == 150)
    // EXACT equality incl. SMA values: the stored tail supplies the same
    // 29-row lookback the full window pass sees
    assert(f.sameElements(i), "incremental diverged from full recompute")

    // nothing new → no-op
    assert(OhlcvBatchJob.runIncremental(spark, Seq(fullDir), incStore) == 0L)
    // empty store → falls back to a full run
    val freshStore = new ServingStore(tmpDir("inc-fresh-store"))
    assert(OhlcvBatchJob.runIncremental(spark, Seq(fullDir), freshStore) == 150)
  }

  test("incremental detects a backfilled gap candle and recomputes fully") {
    implicit val s = spark
    val t0 = 1717200000000L
    val all = FixtureGen.candles("BTC_USDT", t0, 3600000L, 50)

    // ground truth: full recompute over the complete series
    val fullDir = tmpDir("bf-full-raw")
    FixtureGen.writeCsv(fullDir, "BTC_USDT_1h.csv", all)
    val fullStore = new ServingStore(tmpDir("bf-full-store"))
    OhlcvBatchJob.run(spark, Seq(fullDir), fullStore)

    // first delivery skips candle #30 (a gap BELOW the final frontier);
    // the re-delivered complete file is a backfill, not a forward append
    val gapDir = tmpDir("bf-gap-raw")
    FixtureGen.writeCsv(gapDir, "BTC_USDT_1h.csv",
      all.take(30) ++ all.drop(31))
    val incStore = new ServingStore(tmpDir("bf-inc-store"))
    OhlcvBatchJob.run(spark, Seq(gapDir), incStore)
    assert(incStore.table(Schemas.Tables.Historical).count() == 49)

    // a frontier-filtered pass would silently drop candle #30 and keep
    // the gap-blind SMAs; detection must fall back to the full run
    val n = OhlcvBatchJob.runIncremental(spark, Seq(fullDir), incStore)
    assert(n == 50, s"backfill should trigger a full recompute, got $n")
    def snapshot(st: ServingStore) = st.table(Schemas.Tables.Historical)
      .collect().map(r => (r.getAs[String]("doc_id"),
        r.getAs[Double]("sma_7"), r.getAs[Double]("sma_30"),
        r.getAs[Double]("close"))).sortBy(_._1)
    assert(snapshot(fullStore).sameElements(snapshot(incStore)),
      "backfilled store diverged from full recompute")
  }

  test("incremental detects a corrected candle (same doc_id, new values)") {
    implicit val s = spark
    val t0 = 1717200000000L
    val all = FixtureGen.candles("BTC_USDT", t0, 3600000L, 40)
    val origDir = tmpDir("corr-orig-raw")
    FixtureGen.writeCsv(origDir, "BTC_USDT_1h.csv", all)
    val store = new ServingStore(tmpDir("corr-store"))
    OhlcvBatchJob.run(spark, Seq(origDir), store)

    // upstream corrects candle #20's close price and re-ships the file:
    // same doc_id, different values — a doc_id-presence probe would miss it
    val corrected = all.updated(20, {
      val c = all(20); c.copy(close = c.close + 5.0)
    })
    val corrDir = tmpDir("corr-new-raw")
    FixtureGen.writeCsv(corrDir, "BTC_USDT_1h.csv", corrected)
    val n = OhlcvBatchJob.runIncremental(spark, Seq(corrDir), store)
    assert(n == 40, s"correction should trigger a full recompute, got $n")

    val truthStore = new ServingStore(tmpDir("corr-truth-store"))
    OhlcvBatchJob.run(spark, Seq(corrDir), truthStore)
    def snapshot(st: ServingStore) = st.table(Schemas.Tables.Historical)
      .collect().map(r => (r.getAs[String]("doc_id"),
        r.getAs[Double]("sma_7"), r.getAs[Double]("close"))).sortBy(_._1)
    assert(snapshot(truthStore).sameElements(snapshot(store)),
      "corrected store diverged from full recompute")
  }

  test("incremental detects a correction older than the stored tail") {
    implicit val s = spark
    val t0 = 1717200000000L
    val all = FixtureGen.candles("BTC_USDT", t0, 3600000L, 60)
    val origDir = tmpDir("old-corr-orig-raw")
    FixtureGen.writeCsv(origDir, "BTC_USDT_1h.csv", all)
    val store = new ServingStore(tmpDir("old-corr-store"))
    OhlcvBatchJob.run(spark, Seq(origDir), store)

    // candle #5 is 54 rows behind the frontier: only the table probe sees it
    val corrected = all.updated(5, all(5).copy(volume = all(5).volume + 1.0))
    val corrDir = tmpDir("old-corr-new-raw")
    FixtureGen.writeCsv(corrDir, "BTC_USDT_1h.csv", corrected)
    assert(OhlcvBatchJob.runIncremental(spark, Seq(corrDir), store) == 60,
      "an old correction should trigger a full recompute")
    val truthStore = new ServingStore(tmpDir("old-corr-truth-store"))
    OhlcvBatchJob.run(spark, Seq(corrDir), truthStore)
    def volumes(st: ServingStore) = st.table(Schemas.Tables.Historical)
      .collect().map(r => (r.getAs[String]("doc_id"), r.getAs[Double]("volume")))
      .sortBy(_._1).toSeq
    assert(volumes(store) == volumes(truthStore), "the old correction was dropped")
  }

  test("run on empty input writes nothing") {
    implicit val s = spark
    val store = new ServingStore(tmpDir("ohlcv-empty-store"))
    val empty = tmpDir("ohlcv-empty")
    Files.createFile(java.nio.file.Paths.get(empty, "NOPE_1h.csv"))
    assert(OhlcvBatchJob.run(spark, Seq(empty), store) == 0L)
    assert(!store.exists(Schemas.Tables.Historical))
  }

  // --- incremental append and its side index -----------------------------

  private val hour = 3600000L

  /** (doc_id, close, sma_7, sma_30) of every stored row, sorted. */
  private def rowsOf(st: ServingStore) = st.table(Schemas.Tables.Historical)
    .collect().map(r => (r.getAs[String]("doc_id"), r.getAs[Double]("close"),
      r.getAs[Double]("sma_7"), r.getAs[Double]("sma_30"))).sortBy(_._1).toSeq

  /** An update dir of `FixtureGen` candles, one updater file per symbol. */
  private def updates(prefix: String, series: (String, Seq[FixtureGen.Candle])*): String = {
    val dir = tmpDir(prefix)
    series.foreach { case (sym, cs) =>
      FixtureGen.writeCsv(dir, FixtureGen.updateFileName(sym, "1h", cs.last.timestamp), cs)
    }
    dir
  }

  test("incremental appends files with the snapshot's exact schema") {
    implicit val s = spark
    val t0 = 1717200000000L
    val all = FixtureGen.candles("BTC_USDT", t0, hour, 45)
    val base = tmpDir("schema-raw")
    FixtureGen.writeCsv(base, "BTC_USDT_1h.csv", all.take(40))
    val store = new ServingStore(tmpDir("schema-store"))
    OhlcvBatchJob.run(spark, Seq(base), store)
    val snapshot = store.table(Schemas.Tables.Historical).schema
    assert(OhlcvBatchJob.runIncremental(spark,
      Seq(updates("schema-upd", "BTC_USDT" -> all.slice(40, 45))), store) == 5)

    val files = Files.walk(Paths.get(store.root, Schemas.Tables.Historical))
      .iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    assert(files.size >= 2, s"no appended file: $files")
    files.foreach(f => assert(spark.read.parquet(f.toString).schema == snapshot,
      s"$f does not carry the snapshot's schema"))
    assert(store.table(Schemas.Tables.Historical).collect().length == 45)
  }

  test("incremental keeps one row per doc_id when a batch delivers a candle twice") {
    implicit val s = spark
    val t0 = 1717200000000L
    val all = FixtureGen.candles("BTC_USDT", t0, hour, 43)
    val base = tmpDir("dup-raw")
    FixtureGen.writeCsv(base, "BTC_USDT_1h.csv", all.take(40))
    val store = new ServingStore(tmpDir("dup-store"))
    OhlcvBatchJob.run(spark, Seq(base), store)
    // two overlapping updater files: candle 41 is in both
    val upd = tmpDir("dup-upd")
    FixtureGen.writeCsv(upd, FixtureGen.updateFileName("BTC_USDT", "1h", all(41).timestamp),
      all.slice(40, 42))
    FixtureGen.writeCsv(upd, FixtureGen.updateFileName("BTC_USDT", "1h", all(42).timestamp),
      all.slice(41, 43))
    assert(OhlcvBatchJob.runIncremental(spark, Seq(upd), store) == 3)

    val truthDir = tmpDir("dup-truth-raw")
    FixtureGen.writeCsv(truthDir, "BTC_USDT_1h.csv", all)
    val truth = new ServingStore(tmpDir("dup-truth-store"))
    OhlcvBatchJob.run(spark, Seq(truthDir), truth)
    val got = rowsOf(store)
    assert(got.map(_._1).distinct.size == got.size, "a doc_id is stored twice")
    assert(got == rowsOf(truth), "incremental diverged from full recompute")
  }

  test("a stale, deleted or corrupt tail index is rebuilt, never trusted") {
    implicit val s = spark
    val t0 = 1717200000000L
    val btc = FixtureGen.candles("BTC_USDT", t0, hour, 80)
    val eth = FixtureGen.candles("ETH_USDT", t0, hour, 80)
    val truthDir = tmpDir("fault-truth-raw")
    FixtureGen.writeCsv(truthDir, "BTC_USDT_1h.csv", btc)
    FixtureGen.writeCsv(truthDir, "ETH_USDT_1h.csv", eth)
    val truth = new ServingStore(tmpDir("fault-truth-store"))
    OhlcvBatchJob.run(spark, Seq(truthDir), truth)

    val base = tmpDir("fault-raw")
    FixtureGen.writeCsv(base, "BTC_USDT_1h.csv", btc.take(50))
    FixtureGen.writeCsv(base, "ETH_USDT_1h.csv", eth.take(50))
    val store = new ServingStore(tmpDir("fault-store"))
    OhlcvBatchJob.run(spark, Seq(base), store)
    val index = OhlcvBatchJobSpec.indexFile(store)
    /** Incremental hours `from` until `until`: were the index rebuilt? */
    def rebuilt(from: Int, until: Int): Boolean = {
      val dir = updates(s"fault-upd-$from", "BTC_USDT" -> btc.slice(from, until),
        "ETH_USDT" -> eth.slice(from, until))
      val (n, trace) = JobTrace.of(spark)(
        OhlcvBatchJob.runIncremental(spark, Seq(dir), store))
      assert(n == 2L * (until - from))
      trace.jobsDescribed(HistoryTail.RebuildJobs) > 0
    }

    assert(rebuilt(50, 55), "the first hour after a full run found an index")
    // a crash between the append and the index write: the data holds the
    // batch, the index still describes the table before it
    val before = Files.readAllBytes(index)
    assert(!rebuilt(55, 60), "the index the last hour wrote was not trusted")
    Files.write(index, before)
    assert(rebuilt(60, 65), "a stale index was trusted")
    Files.delete(index)
    assert(rebuilt(65, 70), "a deleted index was not rebuilt")
    val bytes = Files.readAllBytes(index)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 1).toByte
    Files.write(index, bytes)
    assert(rebuilt(70, 75), "a corrupt index was trusted")
    Files.write(index, bytes.take(bytes.length / 2))
    assert(rebuilt(75, 80), "a truncated index was trusted")
    assert(rowsOf(store) == rowsOf(truth), "incremental diverged from full recompute")
  }

  test("an index written after a compaction's swap is not trusted") {
    implicit val s = spark
    val btc = FixtureGen.candles("BTC_USDT", 1717200000000L, hour, 53)
    val base = tmpDir("swap-raw")
    FixtureGen.writeCsv(base, "BTC_USDT_1h.csv", btc.take(50))
    val store = new ServingStore(tmpDir("swap-store"))
    OhlcvBatchJob.run(spark, Seq(base), store)
    def hourly(from: Int, until: Int): Long = OhlcvBatchJob.runIncremental(spark,
      Seq(updates(s"swap-upd-$from", "BTC_USDT" -> btc.slice(from, until))), store)
    assert(hourly(50, 51) == 1)

    // a compaction lists the table; the hourly batch appends candle 51; the
    // compaction swaps in a snapshot without it; the batch's index write,
    // which describes a table holding candle 51, lands last
    def version() = store.version(Schemas.Tables.Historical).get
    val before = version()
    val listed = store.table(Schemas.Tables.Historical)
    assert(hourly(51, 52) == 1)
    val advanced = HistoryTail.current(store, version())
    assert(advanced.frontier(("BTC_USDT", "1h")).contains(btc(51).timestamp / 1000))
    store.overwrite(Schemas.Tables.Historical, listed)
    HistoryTail.writeAfterAppend(store, advanced, before)

    // the next hour re-delivers the lost candle with a new one
    assert(hourly(51, 53) == 2, "the lost candle was taken as stored")
    val truthDir = tmpDir("swap-truth-raw")
    FixtureGen.writeCsv(truthDir, "BTC_USDT_1h.csv", btc)
    val truth = new ServingStore(tmpDir("swap-truth-store"))
    OhlcvBatchJob.run(spark, Seq(truthDir), truth)
    assert(rowsOf(store) == rowsOf(truth), "incremental diverged from full recompute")
  }

  test("the re-delivery rule decides alike inside the tail and older than it") {
    implicit val s = spark
    // a candle as CSV fields: timestamp, open, high, low, close, volume, datetime_str
    type Fields = Vector[String]
    def fields(c: FixtureGen.Candle): Fields = Vector(c.timestamp.toString,
      c.open.toString, c.high.toString, c.low.toString, c.close.toString,
      c.volume.toString, c.datetimeStr)
    def writeCsv(dir: String, name: String, rows: Seq[Fields]): Unit =
      Files.write(Paths.get(dir, name), ("timestamp,open,high,low,close,volume,datetime_str" +:
        rows.map(_.mkString(","))).mkString("\n").getBytes("UTF-8"))
    val same: Fields => Fields = identity
    def set(i: Int, v: String): Fields => Fields = _.updated(i, v)
    // (case, symbol, the candle as stored (None: not stored), as
    // re-delivered, whether the batch must fall back to the full run);
    // an empty field parses as null
    val cases = Seq[(String, String, Fields => Option[Fields], Fields => Fields, Boolean)](
      ("a changed close", "AAA_USDT", f => Some(f),
        f => f.updated(4, (f(4).toDouble + 5).toString), true),
      ("a missing candle", "BBB_USDT", _ => None, same, true),
      ("a null stored open", "CCC_USDT", f => Some(set(1, "")(f)), set(1, ""), true),
      ("a null re-delivered open", "DDD_USDT", f => Some(f), set(1, ""), false),
      ("a NaN close where a number is stored", "EEE_USDT", f => Some(f), set(4, "NaN"), true),
      ("an unchanged NaN close", "FFF_USDT", f => Some(set(4, "NaN")(f)), set(4, "NaN"), false))
    // the tail holds rows 31-59 (30-59 where row 50 is missing)
    val (older, inside) = (10, 50)
    val series = cases.map(c => c._2 ->
      FixtureGen.candles(c._2, 1717200000000L, hour, 60).map(fields)).toMap
    val base = tmpDir("rule-raw")
    cases.foreach { case (_, sym, stored, _, _) =>
      writeCsv(base, s"${sym}_1h.csv", series(sym).zipWithIndex.flatMap {
        case (f, i) => if (i == older || i == inside) stored(f) else Some(f)
      })
    }
    val store = new ServingStore(tmpDir("rule-store"))
    OhlcvBatchJob.run(spark, Seq(base), store)

    val positions = Seq("older than the tail" -> older, "inside the tail" -> inside)
    val fellBack = for ((name, sym, _, deliver, _) <- cases; (where, k) <- positions) yield {
      val dir = tmpDir("rule-upd")
      writeCsv(dir, FixtureGen.updateFileName(sym, "1h", series(sym)(k)(0).toLong),
        Seq(deliver(series(sym)(k))))
      // a fallback runs over the one delivered candle; the in-order path
      // finds nothing fresh
      (name, where, OhlcvBatchJob.runIncremental(spark, Seq(dir), store) == 1L)
    }
    assert(fellBack == (for ((name, _, _, _, back) <- cases; (where, _) <- positions)
      yield (name, where, back)))
  }

  test("incremental over an update holding no candle writes nothing") {
    implicit val s = spark
    val base = tmpDir("empty-upd-raw")
    FixtureGen.writeCsv(base, "BTC_USDT_1h.csv",
      FixtureGen.candles("BTC_USDT", 1717200000000L, hour, 10))
    val store = new ServingStore(tmpDir("empty-upd-store"))
    OhlcvBatchJob.run(spark, Seq(base), store)
    val version = store.version(Schemas.Tables.Historical)
    val upd = tmpDir("empty-upd")
    FixtureGen.writeCsv(upd, FixtureGen.updateFileName("BTC_USDT", "1h", 1717290000000L), Nil)
    Files.createFile(Paths.get(upd, "ETH_USDT_1h.csv"))
    assert(OhlcvBatchJob.runIncremental(spark, Seq(upd), store) == 0L)
    assert(store.version(Schemas.Tables.Historical) == version)
  }

  test("an in-order incremental run reads no history: jobs and bytes do not grow with it") {
    implicit val s = spark
    val tEnd = 1717200000000L + 20000 * hour
    val syms = Seq("BTC_USDT", "ETH_USDT")
    // each store's history ends where the updates start, so the update
    // files are byte-identical whatever the history length; the first hour
    // builds the index, the second is traced
    def hourly(rows: Int): (Long, JobTrace) = {
      val base = tmpDir(s"scale-raw-$rows")
      syms.foreach(sym => FixtureGen.writeCsv(base, s"${sym}_1h.csv",
        FixtureGen.candles(sym, tEnd - rows * hour, hour, rows)))
      val store = new ServingStore(tmpDir(s"scale-store-$rows"))
      OhlcvBatchJob.run(spark, Seq(base), store)
      def upd(at: Long) = updates(s"scale-upd-$rows-$at",
        syms.map(sym => sym -> FixtureGen.candles(sym, at, hour, 1)): _*)
      OhlcvBatchJob.runIncremental(spark, Seq(upd(tEnd)), store)
      JobTrace.of(spark)(
        OhlcvBatchJob.runIncremental(spark, Seq(upd(tEnd + hour)), store))
    }
    val (n100, small) = hourly(100)
    val (n10k, large) = hourly(10000)
    info(s"100 rows per key: $small; 10 000 rows per key: $large")
    assert(n100 == 2 && n10k == 2)
    assert(small.jobs <= 8, s"an in-order run started ${small.jobs} jobs")
    assert(small.jobsDescribed(HistoryTail.RebuildJobs) == 0 &&
      large.jobsDescribed(HistoryTail.RebuildJobs) == 0)
    assert(large.jobs == small.jobs, s"jobs grew with history: $small -> $large")
    assert(large.bytesRead == small.bytesRead,
      s"bytes read grew with history: $small -> $large")
  }
}

object OhlcvBatchJobSpec {

  /** The historical table's tail index file. */
  def indexFile(store: ServingStore): Path =
    Paths.get(store.root, Schemas.Tables.Historical, ".history-tail")
}
