package graft.api

import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.ingest.FixtureGen
import graft.schema.Schemas.Tables
import graft.store.ServingStore
import graft.stream.OhlcvStreamJob

/** The driver-side views behind Api's dashboard reads: every store write
  * is visible on the next read, warm reads start no Spark job, the chart
  * view covers exactly the day partitions its window touches, and reads
  * racing a running stream job stay consistent.
  */
class ApiViewSpec extends SparkSpec {

  private val t0 = 1717200000000L // 2024-06-01T00:00:00Z
  private val Min = 60000L

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

  /** Jobs started while `f` runs, counted by a listener of this spec. */
  private def jobsDuring(f: => Unit): Long = {
    val jobs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      ListenerDrain.drain(spark.sparkContext)
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

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
}
