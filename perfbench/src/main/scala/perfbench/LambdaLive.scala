package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.batch.OhlcvBatchJob
import graft.ingest.FixtureGen
import graft.ingest.FixtureGen.Candle
import graft.schema.Schemas
import graft.stream.OhlcvStreamJob

/** `lambda_live`: the dashboard's store with writes beside reads.
  *   - A one-thread open-loop generator emits one 1m candle per symbol per
  *     tick on a fixed wall-clock schedule into the stream job's input
  *     directory; each tick advances the simulated clock HttpApi reads as
  *     `now` by one minute, and each candle is stamped with its due time.
  *   - The stream job runs on processing-time triggers in the reference's
  *     1:4:1 ratio (latest / stats / chart), sized so none overruns.
  *   - The simulated hour closes on the window's last tick, and the
  *     generator lands an hourly-update CSV. Once the client and the stream
  *     job have stopped, `runIncremental` runs on it alone and is timed.
  *   - One closed-loop client with BTC/USDT selected refreshes back to back;
  *     a candle counts as fresh at the end of the first refresh whose price
  *     tile and chart both show it.
  */
object LambdaLive {
  import Market._

  val TickMs = 500L
  val TicksPerHour = 60
  val TriggerMs: Map[String, Long] = Map("latest" -> 4000L, "stats" -> 16000L, "chart" -> 4000L)
  val Triggers = OhlcvStreamJob.Triggers(Some(TriggerMs("latest")),
    Some(TriggerMs("stats")), Some(TriggerMs("chart")))
  val Watched = "BTC_USDT"
  val WarmS = 1.5
  val LiveHistoryHours = 60 * 24
  /** After the window, time the last candles get to show up. */
  val DrainS = 10.0

  def run(ctx: Ctx): Outcome = {
    val nTicks = (ctx.seconds * 1000 / TickMs).toInt
    // the simulated hour closes on the window's last tick, so the hourly
    // batch runs right after the timed window (one batch per run up to
    // 60 ticks)
    val startMinute = java.lang.Math.floorMod(-nTicks, TicksPerHour)
    val market = new Market(ctx.seed, startMinute, LiveHistoryHours)
    val serving = new Serving(ctx.spark, ctx.work, market, Some(Triggers), models = false)
    serving.start()
    val errors = new ConcurrentLinkedQueue[String]()
    val http = new Client(serving.port)
    val watchedUrl = urlSymbol(Watched)
    def refresh(): (Int, String, Int, String) = {
      val (s1, b1) = http.get(s"/api/realtime_stats/$watchedUrl")
      val (s2, b2) = http.get(s"/api/chart_data_1m/$watchedUrl")
      (s1, b1, s2, b2)
    }
    val warmEnd = System.nanoTime() + (WarmS * 1e9).toLong
    while (System.nanoTime() < warmEnd) refresh()

    val due = new Array[Long](nTicks)
    val watched = new Array[Candle](nTicks)
    val served = new Array[Boolean](nTicks)
    val fresh = new ConcurrentLinkedQueue[Double]()
    @volatile var emitted = 0
    @volatile var generating = true
    @volatile var generatedNs = 0L
    val lateMs = new ConcurrentLinkedQueue[Double]()
    val hourly = new ConcurrentLinkedQueue[(Int, Seq[String])]()
    val lastClose = scala.collection.mutable.Map(Symbols.map(s => s -> market.minutes(s).last.close): _*)
    val lastCandle = scala.collection.mutable.Map(Symbols.map(s => s -> market.minutes(s).last): _*)
    val updates = newDir(ctx.work, "updates")

    val setupS = ctx.sinceStart()
    // Processing-time triggers fire on multiples of their interval in wall
    // time; start the schedule 100 ms past such a multiple, so the ticks
    // and the latest/chart triggers keep the same phase in every run.
    val period = TriggerMs("latest")
    val startWallMs = (System.currentTimeMillis() / period + 1) * period + 100
    Thread.sleep(startWallMs - System.currentTimeMillis())
    ctx.record(true)
    val windowStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    Main.log("timed window starts")
    val generator = new Thread(() => {
      var k = 0
      while (k < nTicks) {
        val dueK = t0 + k * TickMs * 1000000L
        val wait = dueK - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        lateMs.add((System.nanoTime() - dueK) / 1e6)
        val candles = Symbols.map { s =>
          val c = market.liveMinute(s, k, lastClose(s))
          lastClose(s) = c.close; lastCandle(s) = c
          s -> c
        }
        serving.clock.set(market.nowMs + k * MinuteMs)
        feed(serving.incoming, f"tick-$k%06d", candles.map { case (s, c) => json(s, c) })
        watched(k) = candles.find(_._1 == Watched).get._2
        due(k) = dueK
        emitted = k + 1
        if ((k + 1 + startMinute) % TicksPerHour == 0) {
          val hour = (k + 1 + startMinute) / TicksPerHour - 1
          val dir = updates.resolve(s"h$hour").toString
          val paths = Symbols.map(s => FixtureGen.writeCsv(dir,
            FixtureGen.updateFileName(s, "1h", market.hourMs + (hour + 1) * HourMs),
            Seq(market.hourlyUpdate(s, hour))))
          hourly.add(hour -> paths)
        }
        k += 1
      }
      generatedNs = System.nanoTime()
      generating = false
    }, "perfbench-generator")

    // ---- the client: refresh back to back, track freshness ----------------
    val refreshMs = new ConcurrentLinkedQueue[Double]()
    val gaps = new ConcurrentLinkedQueue[Double]()
    var requests = 0L
    var windowRequests = 0L
    var firstUnserved = 0
    var prevEnd = 0L
    generator.start()
    var deadline = Long.MaxValue
    while (System.nanoTime() < deadline && (firstUnserved < nTicks || generating)) {
      val r0 = System.nanoTime()
      val n = emitted
      val (s1, b1, s2, b2) = try refresh() catch {
        case e: Exception => (-1, e.toString, -1, e.toString)
      }
      val r1 = System.nanoTime()
      requests += 2
      if (generating) {
        windowRequests += 2
        refreshMs.add((r1 - r0) / 1e6)
        if (prevEnd > 0) gaps.add((r1 - prevEnd) / 1e6)
      }
      prevEnd = r1
      if (!generating && deadline == Long.MaxValue) deadline = r1 + (DrainS * 1e9).toLong
      if (s1 != 200 || s2 != 200) errors.add(s"refresh: HTTP $s1/$s2 ${b1.take(100)} ${b2.take(100)}")
      else scala.util.Try {
        val latest = Check.parse(b1).get("latest")
        val tileTs = latest.get("timestamp_ms").asLong
        val tileClose = latest.get("current_price").asDouble
        val chart = Check.parse(b2).elements().asScala
          .map(e => e.get(0).asLong -> e.get(1).asDouble).toMap
        var k = firstUnserved
        while (k < n) {
          val c = watched(k)
          if (!served(k) && tileTs >= c.timestamp && chart.contains(c.timestamp)) {
            served(k) = true
            val expected = if (ctx.corrupt) c.close + 1 else c.close
            if (chart(c.timestamp) != expected || (tileTs == c.timestamp && tileClose != expected))
              errors.add(s"candle ${c.timestamp}: served close ${chart(c.timestamp)} != $expected")
            else fresh.add((r1 - due(k)) / 1e6)
          }
          k += 1
        }
        while (firstUnserved < n && served(firstUnserved)) firstUnserved += 1
      }.failed.foreach(e => errors.add(s"refresh: unreadable response: $e"))
    }
    generator.join()
    val windowS = (generatedNs - t0) / 1e9
    (0 until nTicks).filterNot(served).foreach(k =>
      errors.add(s"candle ${watched(k).timestamp} (tick $k) never served"))
    val progress = Market.StreamNames.zip(serving.queries)
      .map { case (n, q) => n -> q.recentProgress.toSeq }.toMap
    val files = if (ctx.trace) Layers.storeFiles(serving) else Map.empty[String, Double]
    serving.stop()
    Main.log("client and stream stopped; hourly batch starts")

    // ---- the hourly batch, alone: client and stream job have stopped -------
    val batchMs = Seq.newBuilder[Double]
    var batchRows = 0L
    hourly.asScala.toSeq.foreach { case (hour, paths) =>
      val b0 = System.nanoTime()
      try {
        batchRows += ctx.tracer.op("batch.run_incremental", 1000000L + hour)(
          OhlcvBatchJob.runIncremental(ctx.spark, paths, serving.store))
        batchMs += (System.nanoTime() - b0) / 1e6
      } catch { case e: Exception => errors.add(s"runIncremental hour $hour: $e") }
    }
    val batchTimes = batchMs.result()
    val recordedMs = (System.nanoTime() - t0) / 1e6
    ctx.record(false)
    Main.log("batch done; checking tables")

    // ---- final state: the tables equal the generated data -----------------
    val hours = (nTicks + startMinute) / TicksPerHour
    val finalChecks = Seq(
      "latest table" -> (() => checkLatest(serving, lastCandle.toMap, ctx.corrupt)),
      "chart table" -> (() => checkChart(serving, market, nTicks, ctx.corrupt)),
      "historical table" -> (() => checkHistorical(serving, market, hours, ctx.corrupt)))
    finalChecks.foreach { case (what, f) =>
      scala.util.Try(f()).fold(e => Some(s"$what: $e"), identity).foreach(errors.add)
    }

    val layers = if (!ctx.trace) Map.empty[String, Double] else
      Layers.stream(progress, windowStartMs, TriggerMs) ++ files ++
        Layers.driverExec(ctx, recordedMs) ++ Map(
        "batch.run_incremental_ms" -> Stats.median(batchTimes),
        "batch.rows" -> batchRows.toDouble,
        "gen.late_ms" -> lateMs.asScala.max,
        "poll.gap_ms" -> (if (gaps.isEmpty) 0.0 else gaps.asScala.max))
    def inWindow(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
      java.time.Instant.parse(p.timestamp).toEpochMilli >= windowStartMs
    val health = Json.obj(
      "ticks" -> nTicks,
      "gen_late_max_ms" -> lateMs.asScala.max,
      "batch_ms" -> batchTimes,
      "fresh_samples" -> fresh.size,
      "refresh_samples" -> refreshMs.size,
      "refresh_p50_ms" -> Stats.median(refreshMs.asScala.toSeq),
      "refresh_tail_ms" -> Stats.tail(refreshMs.asScala.toSeq),
      "requests_per_s" -> windowRequests / windowS,
      "refresh_ms" -> refreshMs.asScala,
      "fresh_ms" -> fresh.asScala,
      "fresh_tail_ms" -> Stats.tail(fresh.asScala.toSeq),
      "micro_batches" -> progress.map { case (q, ps) => q -> ps.count(inWindow) },
      "overruns" -> progress.map { case (q, ps) => q -> ps.count(p => inWindow(p) &&
        Option(p.durationMs.get("triggerExecution")).exists(_ > TriggerMs(q))) })
    val rs = refreshMs.asScala.toSeq
    val fs = fresh.asScala.toSeq
    val errs = errors.asScala.toSeq
    Outcome(
      attempted = requests + nTicks + hourly.size + finalChecks.size,
      failed = errs.size.toLong,
      e2e = Map("setup_s" -> setupS,
        "primary_ms" -> Stats.median(fs), "secondary_ms" -> Stats.median(batchTimes)),
      layers = layers, detail = Json.obj("health" -> health), errors = errs)
  }

  private def checkLatest(s: Serving, last: Map[String, Candle],
      corrupt: Boolean): Option[String] = {
    val got = s.store.table(Schemas.Tables.Latest)
      .select("symbol", "timestamp_ms", "current_price").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val want = last.map { case (sym, c) =>
      streamSymbol(sym) -> (c.timestamp, if (corrupt) c.close + 1 else c.close) }
    if (got == want) None else Some(s"latest table $got != $want")
  }

  private def checkChart(s: Serving, m: Market, nTicks: Int,
      corrupt: Boolean): Option[String] = {
    val got = s.store.tableCurrent(Schemas.Tables.ChartData, "doc_id")
      .select("symbol", "timestamp_ms", "close").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val want = Symbols.flatMap { sym =>
      var close = m.minutes(sym).last.close
      val live = (0 until nTicks).map { k =>
        val c = m.liveMinute(sym, k, close); close = c.close; c }
      (m.minutes(sym) ++ live).map(c =>
        (streamSymbol(sym), c.timestamp) -> (if (corrupt) c.close + 1 else c.close))
    }.toMap
    if (got == want) None
    else Some(s"chart table: ${got.size} rows, expected ${want.size}; " +
      s"${(want.keySet -- got.keySet).size} missing, " +
      s"${want.count { case (k, v) => got.get(k).exists(_ != v) }} differ")
  }

  private def checkHistorical(s: Serving, m: Market, hours: Int,
      corrupt: Boolean): Option[String] = {
    val rows = s.store.table(Schemas.Tables.Historical)
      .select("symbol", "timestamp", "close", "sma_7", "sma_30")
      .orderBy(col("symbol"), col("timestamp")).collect()
      .groupBy(_.getString(0))
    val want = m.historicalRows(hours)
    val bad = Symbols.filter { sym =>
      val got = rows.getOrElse(sym, Array.empty)
      val exp = want(sym)
      got.length != exp.length || got.indices.exists { i =>
        val (ts, close, a7, a30) = exp(i)
        val r = got(i)
        def near(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
        r.getLong(1) != ts || r.getDouble(2) != (if (corrupt) close + 1 else close) ||
          !near(r.getDouble(3), a7) || !near(r.getDouble(4), a30)
      }
    }
    if (bad.isEmpty) None else Some(s"historical table differs for ${bad.mkString(",")}")
  }
}
