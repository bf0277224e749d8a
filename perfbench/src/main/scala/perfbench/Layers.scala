package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metric names (the traced run prints all of them; a layer a
  * workload does not run reads 0) and the computations shared by the
  * workloads.
  */
object Layers {

  val Names: Seq[String] =
    Serving.Routes.map(r => s"api.$r.p50_ms") ++
    Seq("api.render_ms", "api.http_ms", "api.remainder_ms", "store.resolve_ms") ++
    Serving.Tables.flatMap(t => Seq(s"store.files.${Serving.TableShort(t)}",
      s"store.bytes.${Serving.TableShort(t)}")) ++
    Seq("driver.plan_ms", "driver.jobs_per_req", "driver.stages_per_req",
      "driver.sched_ms", "driver.gap_ms", "exec.run_ms", "exec.cpu_ms",
      "exec.gc_ms", "exec.shuffle_write_b", "exec.spill_b", "exec.slot_util") ++
    Market.StreamNames.flatMap(q => Seq(s"stream.$q.trigger_ms",
      s"stream.$q.add_batch_ms", s"stream.$q.planning_ms", s"stream.$q.batches")) ++
    Seq("stream.stats.state_rows", "stream.overruns", "stream.watermark_lag_ms",
      "batch.run_incremental_ms", "batch.rows", "ml.closes_ms", "ml.forecast_ms",
      "gen.late_ms", "poll.gap_ms") ++
    QuerySweep.All.flatMap(q => Seq(s"q.$q.ms", s"q.$q.jobs"))

  def unit(name: String): String =
    if (name.endsWith("_ms") || name.endsWith(".ms")) "ms"
    else if (name.endsWith("_b") || name.startsWith("store.bytes")) "bytes"
    else if (name.endsWith("slot_util")) "ratio"
    else if (name.endsWith("_per_req")) "1/op"
    else "count"

  /** Driver and executor metrics per operation: the traced operations are
    * the spans opened with `Tracer.op` (one per route replay or query
    * execution); their Spark jobs carry the operation id.
    */
  def driverExec(ctx: Ctx, windowMs: Double): Map[String, Double] = {
    ctx.drain()
    val ops = ctx.tracer.all.filter(s => s.parent == 0 && s.rid > 0)
    val n = math.max(1, ops.size).toDouble
    val byRid = ctx.jobs.jobs.values.asScala.toSeq.filter(_.rid > 0).groupBy(_.rid)
    val opJobs = byRid.values.flatten.toSeq
    val opStages = ctx.jobs.stagesOf(opJobs)
    val gaps = ops.map { op =>
      val st = ctx.jobs.stagesOf(byRid.getOrElse(op.rid, Nil))
        .filter(_.endMs > 0).map(s => (s.submitMs, s.endMs))
      op.ms - Stats.unionLength(st)
    }
    val sched = opJobs.filter(_.firstTaskMs != Long.MaxValue)
      .map(j => (j.firstTaskMs - j.submitMs).toDouble)
    val allRun = ctx.jobs.allStages.map(_.runMs).sum.toDouble
    Map(
      "driver.plan_ms" -> opJobs.map(_.qeId).distinct
        .flatMap(e => Option(ctx.plans.planMs.get(e))).map(_.doubleValue).sum / n,
      "driver.jobs_per_req" -> opJobs.size / n,
      "driver.stages_per_req" -> opStages.size / n,
      "driver.sched_ms" -> sched.sum / n,
      "driver.gap_ms" -> gaps.sum / n,
      "exec.run_ms" -> opStages.map(_.runMs).sum / n,
      "exec.cpu_ms" -> opStages.map(_.cpuNs).sum / 1e6 / n,
      "exec.gc_ms" -> opStages.map(_.gcMs).sum / n,
      "exec.shuffle_write_b" -> opStages.map(_.shuffleWriteB).sum / n,
      "exec.spill_b" -> opStages.map(_.spillB).sum / n,
      "exec.slot_util" -> allRun / (windowMs * ctx.cores))
  }

  /** Stream-layer metrics from the progress of the micro-batches that
    * started at or after `fromMs`, per query name (latest, stats, chart).
    */
  def stream(progress: Map[String, Seq[StreamingQueryProgress]], fromMs: Long,
      triggerMs: Map[String, Long]): Map[String, Double] = {
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val bs = progress.map { case (q, ps) => q -> ps.filter(p =>
      java.time.Instant.parse(p.timestamp).toEpochMilli >= fromMs)
      .groupBy(_.batchId).values.map(_.last).toSeq.sortBy(_.batchId) }
    val per = Market.StreamNames.flatMap { q =>
      val qb = bs.getOrElse(q, Nil)
      Seq(s"stream.$q.trigger_ms" -> Stats.median(qb.map(d(_, "triggerExecution"))),
        s"stream.$q.add_batch_ms" -> Stats.median(qb.map(d(_, "addBatch"))),
        s"stream.$q.planning_ms" -> Stats.median(qb.map(d(_, "queryPlanning"))),
        s"stream.$q.batches" -> qb.size.toDouble)
    }
    val stats = bs.getOrElse("stats", Nil)
    val lag = stats.lastOption.flatMap { p =>
      val ev = p.eventTime.asScala
      for (wm <- ev.get("watermark"); mx <- ev.get("max"))
        yield (java.time.Instant.parse(mx).toEpochMilli -
          java.time.Instant.parse(wm).toEpochMilli).toDouble
    }
    (per ++ Seq(
      "stream.stats.state_rows" -> stats.lastOption
        .map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      "stream.overruns" -> bs.toSeq.map { case (q, ps) =>
        ps.count(p => d(p, "triggerExecution") > triggerMs(q)) }.sum.toDouble,
      "stream.watermark_lag_ms" -> lag.getOrElse(0.0)))
      .map { case (k, v) => k -> (if (v.isNaN) 0.0 else v) }.toMap
  }

  /** Route metrics from the replay spans: p50 per route, and the mean
    * decomposition of each route into its layers' self times plus the
    * route's own remainder (they sum to the route's mean latency).
    */
  def routes(ctx: Ctx): (Map[String, Double], com.fasterxml.jackson.databind.JsonNode) = {
    val spans = ctx.tracer.all
    val self = ctx.tracer.selfMs
    val byRid = spans.groupBy(_.rid)
    val routeSpans = spans.filter(s => s.parent == 0 && s.name.startsWith("route."))
    val decomposition = Serving.Routes.flatMap { r =>
      val rs = routeSpans.filter(_.name == s"route.$r")
      if (rs.isEmpty) None else {
        val n = rs.size.toDouble
        val layers = rs.flatMap(op => byRid(op.rid).filter(_.id != op.id))
          .groupBy(_.name).map { case (k, ss) => k -> ss.map(s => self(s.id)).sum / n }
        val remainder = rs.map(s => self(s.id)).sum / n
        Some(r -> (Stats.median(rs.map(_.ms)), Stats.mean(rs.map(_.ms)), layers, remainder))
      }
    }
    val all = spans.filter(_.rid > 0)
    def meanOf(name: String) = Stats.mean(all.filter(_.name == name).map(_.ms))
    val nOps = math.max(1, routeSpans.size).toDouble
    val m = decomposition.map { case (r, (p50, _, _, _)) => s"api.$r.p50_ms" -> p50 }.toMap ++ Map(
      "api.render_ms" -> all.filter(_.name == "api.render").map(s => self(s.id)).sum / nOps,
      "api.remainder_ms" -> routeSpans.map(s => self(s.id)).sum / nOps,
      "store.resolve_ms" -> meanOf("store.resolve"),
      "ml.closes_ms" -> Stats.median(all.filter(_.name == "ml.closes").map(_.ms)),
      "ml.forecast_ms" -> Stats.median(all.filter(_.name == "ml.forecast").map(_.ms)))
    val detail = Json.obj(decomposition.map { case (r, (p50, mean, layers, rem)) =>
      r -> Json.obj("p50_ms" -> p50, "mean_ms" -> mean, "self_ms" -> layers,
        "remainder_ms" -> rem, "n" -> routeSpans.count(_.name == s"route.$r"))
    }: _*)
    (m.map { case (k, v) => k -> (if (v.isNaN) 0.0 else v) }, detail)
  }

  def storeFiles(s: Serving): Map[String, Double] =
    s.storeFiles().toSeq.flatMap { case (t, (files, bytes)) =>
      Seq(s"store.files.${Serving.TableShort(t)}" -> files.toDouble,
        s"store.bytes.${Serving.TableShort(t)}" -> bytes.toDouble)
    }.toMap
}
