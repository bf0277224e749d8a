package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** `dashboard`: read-only serving. Two keep-alive clients in a closed loop
  * with no think time, and no stream or batch writes while timed:
  *   - client 1 repeats the realtime refresh (realtime_stats + chart_data_1m);
  *   - client 2 repeats a historical page view (/historical +
  *     historical_data?range= + predict_xgboost).
  * Symbols and ranges cycle in a fixed order; the seed varies the data.
  *
  * Traced, each client spends the first half of the window on HTTP with the
  * bench's listeners recording, and the second half replaying the same
  * routes' public calls directly in spans; the difference of the two is the
  * HTTP layer's share.
  */
object Dashboard {
  import Market._

  val WarmCycles = 1

  final case class Resp(route: String, symbol: String, range: String,
      status: Int, body: String)

  def run(ctx: Ctx): Outcome = {
    val market = new Market(ctx.seed)
    val serving = new Serving(ctx.spark, ctx.work, market, triggers = None)
    serving.start()
    // The request order is the same in every run; the seed varies the data.
    // Which requests of the two clients overlap follows from the order, and
    // with a seeded order one seed ran about 20% slower than the others, run
    // after run. Every block of 5 page views covers all 5 ranges, whose
    // costs differ tenfold.
    val refreshOrder = Symbols.toIndexedSeq
    val viewOrder = (0 until 2 * Ranges.size).map(i =>
      (ModelSymbols((i % Ranges.size + i / Ranges.size) % 2)._1, Ranges(i % Ranges.size)))
    val refresh = Seq("realtime_stats", "chart_data_1m")
    val view = Seq("historical_page", "historical_data", "predict_xgboost")

    val responses = new ConcurrentLinkedQueue[Resp]()
    val httpMs = new ConcurrentLinkedQueue[(String, Double)]()
    val refreshMs = new ConcurrentLinkedQueue[Double]()
    val viewMs = new ConcurrentLinkedQueue[Double]()
    val rid = new java.util.concurrent.atomic.AtomicLong(0)

    /** One closed-loop client cycling through `order`, issuing `routes`. */
    def client(routes: Seq[String], order: IndexedSeq[(String, String)],
        cycles: ConcurrentLinkedQueue[Double]): Loop.Client = {
      val http = new Client(serving.port)
      (i: Int, phase: Loop.Phase) => {
        val (sym, range) = order(i % order.size)
        val t0 = System.nanoTime()
        if (phase == Loop.Replay) routes.foreach { r =>
          ctx.tracer.op(s"route.$r", rid.incrementAndGet())(serving.replay(ctx.tracer, r, sym, range))
        } else routes.foreach { r =>
          val s0 = System.nanoTime()
          val (status, body) = http.get(Serving.path(r, sym, range))
          if (phase == Loop.Timed) {
            httpMs.add(r -> (System.nanoTime() - s0) / 1e6)
            responses.add(Resp(r, sym, range, status, body))
          }
        }
        if (phase == Loop.Timed) cycles.add((System.nanoTime() - t0) / 1e6)
      }
    }
    val clients = Seq(
      client(refresh, refreshOrder.map(s => (s, "")), refreshMs),
      client(view, viewOrder, viewMs))

    // warm-up, untimed
    val loopErrors = Loop.run(clients, Loop.Warm,
      cycles = Some(WarmCycles)).toBuffer
    val setupS = ctx.sinceStart()
    Main.log("warm-up done; timed window starts")
    // Traced, the listeners record from here on: the end-to-end figures of
    // the HTTP half carry their cost, which is the tracing overhead.
    if (ctx.trace) ctx.record(true)
    val timedS = if (ctx.trace) ctx.seconds / 2 else ctx.seconds
    val w0 = System.nanoTime()
    loopErrors ++= Loop.run(clients, Loop.Timed, seconds = Some(timedS))
    val windowS = (System.nanoTime() - w0) / 1e9
    var layers = Map.empty[String, Double]
    var detail: com.fasterxml.jackson.databind.JsonNode = Json.obj()
    if (ctx.trace) {
      loopErrors ++= Loop.run(clients, Loop.Replay, seconds = Some(ctx.seconds - timedS))
      ctx.record(false)
      val (routeM, routeDetail) = Layers.routes(ctx)
      val httpP50 = httpMs.asScala.toSeq.groupBy(_._1).map { case (r, xs) => r -> Stats.median(xs.map(_._2)) }
      val httpShare = Serving.Routes.filter(r => httpP50.contains(r) && routeM.contains(s"api.$r.p50_ms"))
        .map(r => httpP50(r) - routeM(s"api.$r.p50_ms"))
      layers = routeM ++ Layers.driverExec(ctx, (System.nanoTime() - w0) / 1e6) ++
        Layers.storeFiles(serving) + ("api.http_ms" -> Stats.mean(httpShare))
      detail = routeDetail
    }
    serving.stop()
    Main.log("checking responses")

    // ---- output checks, after the timed window -----------------------------
    val hist = market.historicalRows(0)
    val pairs = Symbols.map(_ + "_1h")
    def bump(c: graft.ingest.FixtureGen.Candle) = if (ctx.corrupt) c.copy(close = c.close + 1) else c
    val errors = loopErrors.toSeq ++ responses.asScala.toSeq.flatMap { r =>
      if (r.status != 200) Some(s"${r.route} ${r.symbol}: HTTP ${r.status} ${r.body.take(200)}")
      else scala.util.Try(r.route match {
        case "realtime_stats" =>
          Check.realtimeStats(r.body, r.symbol, bump(market.minutes(r.symbol).last),
            latestWindow(market.minutes(r.symbol)))
        case "chart_data_1m" =>
          Check.chart(r.body, market.minutes(r.symbol)
            .filter(_.timestamp >= market.nowMs - ChartWindowMin * MinuteMs).take(200).map(bump))
        case "historical_page" => Check.historicalPage(r.body, pairs)
        case "historical_data" =>
          Check.historical(r.body, market.historicalRange(hist(r.symbol), r.range, market.nowMs)
            .map { case (t, c, a, b) => (t, if (ctx.corrupt) c + 1 else c, a, b) })
        case "predict_xgboost" => Check.predict(r.body, hist(r.symbol).last._1)
      }).fold(e => Some(s"${r.route} ${r.symbol}: unreadable response: $e"), identity)
    }
    val rs = refreshMs.asScala.toSeq
    val vs = viewMs.asScala.toSeq
    Outcome(
      attempted = math.max(1, responses.size + loopErrors.size).toLong,
      failed = errors.size.toLong,
      e2e = Map("setup_s" -> setupS,
        "primary_ms" -> Stats.median(rs), "secondary_ms" -> Stats.median(vs)),
      layers = layers, errors = errors, detail = Json.obj(
        "samples" -> Map("refresh" -> rs.size, "view" -> vs.size),
        "requests_per_s" -> responses.size / windowS,
        "refresh_tail_ms" -> Stats.tail(rs), "view_tail_ms" -> Stats.tail(vs),
        "refresh_ms" -> rs, "view_ms" -> vs,
        "request_ms" -> httpMs.asScala.toSeq.groupBy(_._1).map { case (r, xs) => r -> xs.map(_._2) },
        "routes" -> detail))
  }
}

/** Closed-loop driver: one thread per client, each calling its client
  * back to back until a cycle count or a deadline is reached. A cycle
  * started before the deadline runs to completion.
  */
object Loop {
  import scala.jdk.CollectionConverters._
  sealed trait Phase
  case object Warm extends Phase
  case object Timed extends Phase
  case object Replay extends Phase

  trait Client { def apply(cycle: Int, phase: Phase): Unit }

  /** Runs the clients; returns the errors thrown by any cycle. */
  def run(clients: Seq[Client], phase: Phase, cycles: Option[Int] = None,
      seconds: Option[Double] = None): Seq[String] = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val deadline = seconds.map(s => System.nanoTime() + (s * 1e9).toLong)
    val counters = clients.indices.map(_ => new java.util.concurrent.atomic.AtomicInteger(0))
    val threads = clients.zipWithIndex.map { case (c, i) =>
      val t = new Thread(() => {
        var k = 0
        while (cycles.forall(k < _) && deadline.forall(System.nanoTime() < _)) {
          try c(counters(i).getAndIncrement(), phase)
          catch { case e: Exception => errors.add(s"client $i ($phase): $e") }
          k += 1
        }
      }, s"perfbench-client-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    errors.asScala.toSeq
  }
}
