package graft.api

import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{asc, col, desc, lit}

import graft.{JobTrace, SparkSpec}
import graft.batch.OhlcvBatchJob
import graft.ingest.FixtureGen
import graft.ml.Forecaster
import graft.schema.Schemas.Tables
import graft.store.ServingStore
import graft.stream.OhlcvStreamJob

/** The driver-side views behind Api's reads: every store write is visible
  * on the next read, warm reads start no Spark job, the chart view covers
  * exactly the day partitions its window touches, reads racing a running
  * stream job stay consistent, and the per-pair history view answers as
  * the Spark range scan and top-k it replaced.
  */
class ApiViewSpec extends SparkSpec {

  private val t0 = 1717200000000L // 2024-06-01T00:00:00Z
  private val Min = 60000L
  private val Hour = 3600000L
  private val Day = 86400L // seconds

  private def newStore(): ServingStore =
    new ServingStore(Files.createTempDirectory("api-view").toString)(spark)

  private def js(sym: String, ts: Long, close: Double): String =
    FixtureGen.streamJson(sym, "1m",
      FixtureGen.Candle(ts, close - 1, close + 1, close - 2, close, 5.0))

  /** Parsed stream-shaped rows, as the stream job's sinks receive them. */
  private def parsed(candles: (String, Long, Double)*): DataFrame = {
    import spark.implicits._
    OhlcvStreamJob.parse(candles.map((js _).tupled).toDF("value"))
  }

  private def latestTs(api: Api, sym: String): Seq[Long] =
    api.latestCandle(sym).collect().map(_.getAs[Long]("timestamp_ms")).toSeq

  private def chartTs(api: Api, sym: String, now: Instant,
      size: Int = 200): Seq[Long] =
    api.chartData1m(sym, now, size = size).collect()
      .map(_.getAs[Long]("timestamp_ms")).toSeq

  private def strings(df: DataFrame): Seq[String] =
    df.collect().map(_.getString(0)).toSeq

  private def historical(pairs: (String, String)*): DataFrame = {
    import spark.implicits._
    pairs.map { case (s, tf) => (s"${s}_$tf", s, tf) }
      .toDF("doc_id", "symbol", "timeframe")
  }

  /** `hours` 1h candles per symbol from `t0`, loaded by the batch job. */
  private def historyStore(hours: Int, syms: String*): ServingStore = {
    val raw = Files.createTempDirectory("api-view-raw").toString
    syms.foreach(sym => FixtureGen.writeCsv(raw,
      FixtureGen.historicalFileName(sym, "1h"), FixtureGen.candles(sym, t0, Hour, hours)))
    val st = newStore()
    OhlcvBatchJob.run(spark, Seq(raw), st)
    st
  }

  private def histTs(df: DataFrame): Seq[Long] =
    df.collect().map(_.getAs[Long]("timestamp")).toSeq

  private def pairRows(st: ServingStore, sym: String): DataFrame =
    st.table(Tables.Historical)
      .filter(col("symbol") === sym && col("timeframe") === "1h")

  /** The Spark range scan the history view replaced: lower bound, asc, limit. */
  private def sparkRange(st: ServingStore, sym: String, days: Option[Int],
      now: Instant, size: Int = 10000): Seq[Row] = {
    val base = pairRows(st, sym)
    days.fold(base)(d => base.filter(col("timestamp") >= lit(now.getEpochSecond - d * Day)))
      .orderBy(asc("timestamp")).limit(size).collect().toSeq
  }

  /** The Spark top-k predict read: newest `n` (timestamp, close), newest first. */
  private def sparkNewest(st: ServingStore, sym: String, n: Int): Array[Row] =
    pairRows(st, sym).orderBy(desc("timestamp")).limit(n)
      .select("timestamp", "close").collect()

  /** A value, or the class of what computing it threw. */
  private def outcome[T](f: => T): Either[Class[_], T] =
    try Right(f) catch { case e: Exception => Left(e.getClass) }

  private val persistence =
    Forecaster.Bundle(Forecaster.PersistenceModel(5), Forecaster.MinMaxScaler(0.0, 200.0))

  /** Jobs started while `f` runs. */
  private def jobsDuring(f: => Unit): Long = JobTrace.of(spark)(f)._2.jobs.toLong

  test("each sink kind's write is visible on the next read") {
    val st = newStore()
    val api = new Api(st)

    // overwrite: the latest table and the realtime dropdown
    st.overwrite(Tables.Latest,
      OhlcvStreamJob.latestAgg(parsed(("BTC/USDT", t0, 100.0))))
    assert(latestTs(api, "BTC/USDT") == Seq(t0))
    assert(strings(api.realtimeSymbols()) == Seq("BTC/USDT"))
    st.overwrite(Tables.Latest, OhlcvStreamJob.latestAgg(parsed(
      ("BTC/USDT", t0 + Min, 101.0), ("ETH/USDT", t0, 50.0))))
    assert(latestTs(api, "BTC/USDT") == Seq(t0 + Min))
    assert(latestTs(api, "ETH/USDT") == Seq(t0))
    assert(strings(api.realtimeSymbols()) == Seq("BTC/USDT", "ETH/USDT"))
    assert(strings(api.realtimeSymbols(limit = 1)) == Seq("BTC/USDT"))

    // appendLogVersioned: a later epoch corrects the newest window, then a
    // later candle opens a newer one
    def newest() = {
      val r = api.latestStats("BTC/USDT").collect()
      assert(r.length == 1)
      (r(0).getAs[java.sql.Timestamp]("window_end").getTime,
        r(0).getAs[Double]("max_price"))
    }
    st.appendLogVersioned(Tables.Stats,
      OhlcvStreamJob.statsAgg(parsed(("BTC/USDT", t0, 100.0))), 0L)
    assert(newest() == (t0 + 10 * Min, 100.0))
    st.appendLogVersioned(Tables.Stats, OhlcvStreamJob.statsAgg(parsed(
      ("BTC/USDT", t0, 100.0), ("BTC/USDT", t0 + 1000, 107.0))), 1L)
    assert(newest() == (t0 + 10 * Min, 107.0))
    st.appendLogVersioned(Tables.Stats, OhlcvStreamJob.statsAgg(parsed(
      ("BTC/USDT", t0 + 5 * Min, 90.0))), 2L)
    assert(newest() == (t0 + 15 * Min, 90.0))
    assert(api.latestStats("ETH/USDT").collect().isEmpty)

    // appendLogPartitioned, a replayed batch, then compaction
    val now = Instant.ofEpochMilli(t0 + 10 * Min)
    def chart(cs: (String, Long, Double)*) = st.appendLogPartitioned(
      Tables.ChartData, OhlcvStreamJob.chartRows(parsed(cs: _*)), "dt")
    chart(("BTC/USDT", t0 + Min, 1.0))
    assert(chartTs(api, "BTC/USDT", now) == Seq(t0 + Min))
    chart(("BTC/USDT", t0 + 2 * Min, 2.0), ("BTC/USDT", t0 + Min, 1.0))
    assert(chartTs(api, "BTC/USDT", now) == Seq(t0 + Min, t0 + 2 * Min))
    st.compact(Tables.ChartData, "doc_id", Some("dt"))
    assert(chartTs(api, "BTC/USDT", now) == Seq(t0 + Min, t0 + 2 * Min))
    chart(("BTC/USDT", t0 + 3 * Min, 3.0))
    assert(chartTs(api, "BTC/USDT", now) ==
      Seq(t0 + Min, t0 + 2 * Min, t0 + 3 * Min))

    // upsert: the historical dropdown
    st.upsert(Tables.Historical, "doc_id", historical("BTC_USDT" -> "1h"))
    assert(strings(api.historicalPairs()) == Seq("BTC_USDT_1h"))
    st.upsert(Tables.Historical, "doc_id",
      historical("ETH_USDT" -> "1h", "BTC_USDT" -> "4h"))
    assert(strings(api.historicalPairs()) ==
      Seq("BTC_USDT_1h", "BTC_USDT_4h", "ETH_USDT_1h"))
    assert(strings(api.historicalPairs(limit = 2)) ==
      Seq("BTC_USDT_1h", "BTC_USDT_4h"))
  }

  test("warm reads of the view-backed methods start no Spark job") {
    val st = newStore()
    val api = new Api(st)
    st.overwrite(Tables.Latest,
      OhlcvStreamJob.latestAgg(parsed(("BTC/USDT", t0, 100.0))))
    st.appendLogVersioned(Tables.Stats,
      OhlcvStreamJob.statsAgg(parsed(("BTC/USDT", t0, 100.0))), 0L)
    st.appendLogPartitioned(Tables.ChartData, OhlcvStreamJob.chartRows(
      parsed(("BTC/USDT", t0, 100.0))), "dt")
    st.upsert(Tables.Historical, "doc_id", historical("BTC_USDT" -> "1h"))
    val now = Instant.ofEpochMilli(t0 + 5 * Min)
    def readAll(): Seq[Int] = Seq(
      api.latestCandle("BTC/USDT"), api.latestStats("BTC/USDT"),
      api.chartData1m("BTC/USDT", now), api.realtimeSymbols(),
      api.historicalPairs()).map(_.collect().length)

    assert(readAll() == Seq(1, 1, 1, 1, 1)) // builds the views
    val warm = jobsDuring((1 to 20).foreach(_ => assert(readAll() == Seq(1, 1, 1, 1, 1))))
    assert(warm == 0L, s"20 warm read rounds started $warm Spark job(s)")

    // a write invalidates only that table's view
    st.overwrite(Tables.Latest,
      OhlcvStreamJob.latestAgg(parsed(("BTC/USDT", t0 + Min, 101.0))))
    val rebuild = jobsDuring(assert(latestTs(api, "BTC/USDT") == Seq(t0 + Min)))
    assert(rebuild > 0L, "the read after a write must rebuild the view")
    assert(jobsDuring(readAll(): Unit) == 0L)

    // readers that miss on the same version together build the view once
    st.overwrite(Tables.Latest,
      OhlcvStreamJob.latestAgg(parsed(("BTC/USDT", t0 + 2 * Min, 102.0))))
    val start = new java.util.concurrent.CountDownLatch(1)
    val seen = new ConcurrentLinkedQueue[Seq[Long]]()
    val together = jobsDuring {
      val readers = (1 to 4).map { _ =>
        val t = new Thread(() => { start.await(); seen.add(latestTs(api, "BTC/USDT")): Unit })
        t.start(); t
      }
      start.countDown()
      readers.foreach(_.join())
    }
    assert(seen.asScala.toSeq == Seq.fill(4)(Seq(t0 + 2 * Min)))
    assert(together == rebuild, s"4 concurrent misses ran $together jobs, one build runs $rebuild")
  }

  test("a chart window across midnight reads both day partitions") {
    val st = newStore()
    val api = new Api(st)
    val midnight = t0 + 86400000L // 2024-06-02T00:00:00Z
    val now = midnight + 15 * Min
    val from = now - 35 * Min
    val stored = Seq(from - Min, from, midnight - Min, midnight, now, now + Min)
    st.appendLogPartitioned(Tables.ChartData, OhlcvStreamJob.chartRows(
      parsed(stored.map(ts => ("BTC/USDT", ts, 1.0)): _*)), "dt")
    val days = Files.list(Paths.get(st.root, Tables.ChartData)).iterator()
      .asScala.map(_.getFileName.toString).filter(_.startsWith("dt=")).toSeq.sorted
    assert(days == Seq("dt=2024-06-01", "dt=2024-06-02"))

    val at = Instant.ofEpochMilli(now)
    // inclusive bounds at both ends, ascending, capped at `size`
    assert(chartTs(api, "BTC/USDT", at) == Seq(from, midnight - Min, midnight, now))
    assert(chartTs(api, "BTC/USDT", at, size = 2) == Seq(from, midnight - Min))
    assert(chartTs(api, "ETH/USDT", at).isEmpty)
    // a window before every stored row
    val before = api.chartData1m("BTC/USDT", Instant.ofEpochMilli(t0)).collect()
    assert(Responses.chartData1m(before.toSeq) == "[]")
  }

  test("reads racing a running stream job never fail or go back in time") {
    implicit val s = spark
    import spark.implicits._
    val st = newStore()
    val api = new Api(st)
    val mem = MemoryStream[String](31)(implicitly, spark.sqlContext)
    val qs = OhlcvStreamJob.start(OhlcvStreamJob.parse(mem.toDF()), st,
      Files.createTempDirectory("api-view-ckpt").toString)
    val batches = 8
    val now = Instant.ofEpochMilli(t0 + (batches + 2) * Min)
    def feed(i: Int): Unit = {
      mem.addData(js("BTC/USDT", t0 + i * Min, 100.0 + i),
        js("ETH/USDT", t0 + i * Min, 50.0 + i))
      qs.foreach(_.processAllAvailable())
    }
    val errors = new ConcurrentLinkedQueue[String]()
    val stop = new AtomicBoolean(false)
    try {
      feed(0)
      val readers = (1 to 2).map { k =>
        val t = new Thread(() => {
          var (lastLatest, lastWindow, lastChart) = (Long.MinValue, Long.MinValue, Long.MinValue)
          while (!stop.get()) {
            try {
              val l = latestTs(api, "BTC/USDT")
              val w = api.latestStats("BTC/USDT").collect()
                .map(_.getAs[java.sql.Timestamp]("window_end").getTime)
              val c = chartTs(api, "BTC/USDT", now)
              if (l.size != 1 || l.head < lastLatest)
                errors.add(s"latest $l after $lastLatest")
              if (w.length != 1 || w.head < lastWindow)
                errors.add(s"stats window ${w.toSeq} after $lastWindow")
              if (c.isEmpty || c != c.sorted || c.last < lastChart)
                errors.add(s"chart $c after $lastChart")
              lastLatest = l.headOption.getOrElse(lastLatest)
              lastWindow = w.headOption.getOrElse(lastWindow)
              lastChart = c.lastOption.getOrElse(lastChart)
            } catch { case e: Exception => errors.add(s"reader $k: $e") }
          }
        }, s"api-view-reader-$k")
        t.start(); t
      }
      try (1 until batches).foreach { i => feed(i); Thread.sleep(100) }
      finally { stop.set(true); readers.foreach(_.join()) }
    } finally qs.foreach(_.stop())

    assert(errors.isEmpty, errors.asScala.take(5).mkString("; "))
    val last = t0 + (batches - 1) * Min
    assert(latestTs(api, "BTC/USDT") == Seq(last))
    assert(chartTs(api, "BTC/USDT", now) == (0 until batches).map(t0 + _ * Min))
    assert(api.latestStats("ETH/USDT").collect()
      .map(_.getAs[java.sql.Timestamp]("window_end").getTime).toSeq ==
      Seq(last + 10 * Min))
  }

  test("an hourly batch's candles are visible to every history read next") {
    val st = historyStore(48, "BTC_USDT")
    val api = new Api(st)
    val now = Instant.ofEpochMilli(t0 + 60 * Hour)
    val before = (t0 + 47 * Hour) / 1000
    assert(api.latestStoredTimestamp("BTC_USDT", "1h").contains(before))
    assert(histTs(api.historicalData("BTC_USDT", "1h", "all", now)).last == before)
    assert(api.predict("BTC_USDT", "1h", persistence, Hour).head.timestampMs ==
      before * 1000 + Hour)

    val upd = Files.createTempDirectory("api-view-upd").toString
    val fresh = FixtureGen.candles("BTC_USDT", t0 + 48 * Hour, Hour, 3)
    FixtureGen.writeCsv(upd,
      FixtureGen.updateFileName("BTC_USDT", "1h", t0 + 51 * Hour), fresh)
    assert(OhlcvBatchJob.runIncremental(spark, Seq(upd), st) == 3L)

    val after = (t0 + 50 * Hour) / 1000
    assert(api.latestStoredTimestamp("BTC_USDT", "1h").contains(after))
    assert(histTs(api.historicalData("BTC_USDT", "1h", "all", now)) ==
      (0 until 51).map(i => (t0 + i * Hour) / 1000))
    assert(api.lastCloses("BTC_USDT", "1h", 3).toSeq == fresh.map(_.close))
    val fc = api.predict("BTC_USDT", "1h", persistence, Hour)
    assert(fc.head.timestampMs == after * 1000 + Hour)
    assert(math.abs(fc.head.predictedPrice - fresh.last.close) < 1e-9)
  }

  test("history ranges answer as the Spark range scan, and warm reads start no job") {
    val hours = 420 * 24 // past the 10 000-row cap
    val st = historyStore(hours, "BTC_USDT", "ETH_USDT")
    val api = new Api(st)
    // a stored candle sits exactly at now - 30 d; rows after `now` exist too
    val now = Instant.ofEpochMilli(t0 + 9100 * Hour)
    val ranges = Seq("1m" -> Some(30), "3m" -> Some(90), "6m" -> Some(180),
      "1y" -> Some(365), "all" -> None)
    for ((range, days) <- ranges; sym <- Seq("BTC_USDT", "ETH_USDT"))
      assert(api.historicalData(sym, "1h", range, now).collect().toSeq ==
        sparkRange(st, sym, days, now), s"$sym range=$range")

    val month = histTs(api.historicalData("BTC_USDT", "1h", "1m", now))
    assert(month.head == now.getEpochSecond - 30 * Day, "the bound is inclusive")
    assert(month.length == 30 * 24 + (hours - 9100))

    // `size` keeps the oldest rows; an unknown range reads like "all"
    assert(histTs(api.historicalData("BTC_USDT", "1h", "all", now, size = 100)) ==
      (0 until 100).map(i => (t0 + i * Hour) / 1000))
    assert(histTs(api.historicalData("BTC_USDT", "1h", "1m", now, size = 5)) ==
      month.take(5))
    assert(api.historicalData("BTC_USDT", "1h", "5y", now).collect().toSeq ==
      api.historicalData("BTC_USDT", "1h", "all", now).collect().toSeq)
    assert(histTs(api.historicalData("BTC_USDT", "1h", "all", now)).length == 10000)

    assert(api.lastCloses("ETH_USDT", "1h", 48).toSeq ==
      sparkNewest(st, "ETH_USDT", 48).map(_.getDouble(1)).reverse.toSeq)
    def readAll(): Unit = {
      ranges.foreach { case (range, _) =>
        api.historicalData("BTC_USDT", "1h", range, now).collect(): Unit }
      assert(api.lastCloses("ETH_USDT", "1h", 48).length == 48)
      assert(api.latestStoredTimestamp("BTC_USDT", "1h")
        .contains((t0 + (hours - 1) * Hour) / 1000))
    }
    readAll()
    val warm = jobsDuring((1 to 20).foreach(_ => readAll()))
    assert(warm == 0L, s"20 warm history rounds started $warm Spark job(s)")
  }

  test("unknown pairs read empty and are not kept") {
    val st = historyStore(48, "BTC_USDT")
    val api = new Api(st)
    val now = Instant.ofEpochMilli(t0 + 48 * Hour)
    assert(api.lastCloses("BTC_USDT", "1h", 5).length == 5)
    assert(api.historyPairsKept == 1)

    for ((sym, tf) <- Seq("NOPE" -> "1h", "BTC_USDT" -> "4h")) {
      val df = api.historicalData(sym, tf, "all", now)
      assert(df.collect().isEmpty)
      assert(df.schema == st.table(Tables.Historical).schema)
      assert(api.lastCloses(sym, tf, 5).isEmpty)
      assert(api.latestStoredTimestamp(sym, tf).isEmpty)
      intercept[NoSuchElementException](api.predict(sym, tf, persistence, Hour))
    }
    val jobs = jobsDuring((1 to 1000).foreach(i =>
      assert(api.latestStoredTimestamp(s"NOPE$i", "1h").isEmpty)))
    assert(jobs == 0L, s"1000 unknown pairs started $jobs Spark job(s)")
    assert(api.historyPairsKept == 1, "a pair with no rows must not be kept")
  }

  test("concurrent misses on one pair build it once") {
    val st = historyStore(48, "BTC_USDT", "ETH_USDT", "SOL_USDT")
    val api = new Api(st)
    assert(api.lastCloses("BTC_USDT", "1h", 5).length == 5) // resolves the table
    val one = jobsDuring(assert(api.lastCloses("SOL_USDT", "1h", 5).length == 5))
    assert(one > 0L, "a pair's first read must build it")
    val start = new java.util.concurrent.CountDownLatch(1)
    val seen = new ConcurrentLinkedQueue[Option[Long]]()
    val together = jobsDuring {
      val readers = (1 to 4).map { _ =>
        val t = new Thread(() => {
          start.await(); seen.add(api.latestStoredTimestamp("ETH_USDT", "1h")): Unit
        })
        t.start(); t
      }
      start.countDown()
      readers.foreach(_.join())
    }
    assert(seen.asScala.toSeq == Seq.fill(4)(Some((t0 + 47 * Hour) / 1000)))
    assert(together == one, s"4 concurrent misses ran $together jobs, one build runs $one")
  }

  test("null timestamps and closes read as the Spark range scan and top-k did") {
    import spark.implicits._
    val st = newStore()
    val api = new Api(st)
    // pair A: a null timestamp, a null close; pair B: null timestamps only
    val rows = Seq[(String, Option[Long], Option[Double])](
      ("A", None, Some(1.0)), ("A", Some(100L), Some(2.0)),
      ("A", Some(200L), None), ("A", Some(300L), Some(4.0)),
      ("B", None, Some(5.0)))
    st.upsert(Tables.Historical, "doc_id", rows.map { case (sym, ts, close) =>
      (ts, sym, "1h", close, s"${sym}_1h_hist_${ts.getOrElse("null")}")
    }.toDF("timestamp", "symbol", "timeframe", "close", "doc_id"))
    val now = Instant.ofEpochSecond(200 + 30 * Day)

    for (sym <- Seq("A", "B"); days <- Seq(None, Some(30)))
      assert(api.historicalData(sym, "1h", days.fold("all")(_ => "1m"), now)
        .collect().toSeq == sparkRange(st, sym, days, now), s"$sym $days")
    assert(api.historicalData("A", "1h", "all", now).collect().head.isNullAt(0),
      "nulls sort first ascending")
    for (sym <- Seq("A", "B"); n <- 1 to 5)
      assert(outcome(api.lastCloses(sym, "1h", n).toSeq) ==
        outcome(sparkNewest(st, sym, n).map(_.getDouble(1)).reverse.toSeq), s"$sym n=$n")
    assert(api.lastCloses("A", "1h", 1).toSeq == Seq(4.0), "nulls sort last descending")
    assert(api.latestStoredTimestamp("A", "1h").contains(300L))
    assert(api.latestStoredTimestamp("B", "1h").isEmpty)
    // a newest candle without a timestamp is the predict route's 404
    val e = intercept[NoSuchElementException](api.predict("B", "1h", persistence, Hour))
    assert(e.getMessage == "B/1h")
  }
}
