package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** `query_sweep`: the analytics engine over a generated corpus, with no HTTP
  * or store in the path. Each query of `SparkEntry.queries` runs as a `noop`
  * write, one after the other, and leaked cached blocks are dropped before
  * each one.
  *   - The light set is mostly driver time: analysis, planning and
  *     scheduling of small jobs.
  *   - The heavy set is iterative or shuffle-bound: a graph loop, a
  *     near-duplicate miner and the BPE training loop.
  *
  * Set-up ends with one untimed pass that writes every result as parquet,
  * with the DuckDB reference SQL next to it, for the check the runner makes
  * after this process ends. Timed passes then repeat until the window is
  * over; a pass started in the window runs to its end.
  */
object QuerySweep {

  val Light: Seq[String] = Seq("q1_lineitem_agg", "s1_scan_filter_project",
    "a1_latest_per_key", "w1_rolling_sma", "w10_grouped_topk", "x7_approx_distinct",
    "j2_shuffle_join_agg", "q3_shipping_priority", "aj1_asof_join", "t2_quality_scores")
  val Heavy: Seq[String] = Seq("g3_pagerank_bipartite", "d3_ngram_jaccard_pairs", "v4_bpe_train")
  val All: Seq[String] = Light ++ Heavy

  /** `data` holds the generated corpus; `prepS` is the time its generation
    * took before this process started, counted into set-up.
    */
  def run(data: Path, prepS: Double)(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = data.toString
    val results = Files.createDirectories(ctx.work.resolve("results"))
    val oracle = SparkEntry.oracleSql
    Files.writeString(results.resolve("oracle_sql.json"),
      Json.mapper.writeValueAsString(Json.obj(All.map(q => q -> oracle(q)): _*)))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()

    def dropLeakedBlocks(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    def execute(q: String)(write: org.apache.spark.sql.DataFrame => Unit): Boolean = {
      dropLeakedBlocks()
      try { write(SparkEntry.queries(q)(spark, dir)); true }
      catch { case e: Exception => errors.add(s"$q: $e"); false }
    }

    // The untimed pass runs the queries concurrently: most of its time is
    // the first-run cost of each query (code generation, JIT), which the
    // cores can share. No blocks are dropped until all have finished.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    try {
      All.map(q => pool.submit(new Runnable {
        def run(): Unit = try {
          SparkEntry.queries(q)(spark, dir).write.mode("overwrite").parquet(results.resolve(q).toString)
        } catch { case e: Exception => errors.add(s"$q: $e") }
      })).foreach(_.get())
    } finally pool.shutdown()
    dropLeakedBlocks()
    val setupS = prepS + ctx.sinceStart()
    Main.log("untimed pass done; timed passes start")

    ctx.record(true)
    val ms = All.map(_ -> Seq.newBuilder[Double]).toMap
    val rids = All.map(_ -> Seq.newBuilder[Long]).toMap
    var rid = 0L
    var passes = 0
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    while (passes == 0 || System.nanoTime() < deadline) {
      All.foreach { q =>
        rid += 1
        val s0 = System.nanoTime()
        if (ctx.tracer.op(s"q.$q", rid)(execute(q)(_.write.mode("overwrite").format("noop").save()))) {
          ms(q) += (System.nanoTime() - s0) / 1e6
          rids(q) += rid
        }
      }
      passes += 1
    }
    val windowMs = (System.nanoTime() - t0) / 1e6
    ctx.record(false)
    val median = ms.map { case (q, b) => q -> Stats.median(b.result()) }
    def total(qs: Seq[String]) = qs.map(median).sum

    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      ctx.drain()
      val jobs = ctx.jobs.jobs.values.asScala.toSeq.groupBy(_.rid)
      Layers.driverExec(ctx, windowMs) ++ All.flatMap { q =>
        val rs = rids(q).result()
        Seq(s"q.$q.ms" -> median(q),
          s"q.$q.jobs" -> rs.map(r => jobs.getOrElse(r, Nil).size).sum.toDouble / math.max(1, rs.size))
      }
    }
    val errs = errors.asScala.toSeq
    Outcome(
      attempted = All.size.toLong * (passes + 1),
      failed = errs.size.toLong,
      e2e = Map("setup_s" -> setupS, "primary_ms" -> total(Light), "secondary_ms" -> total(Heavy)),
      layers = layers.map { case (k, v) => k -> (if (v.isNaN) 0.0 else v) },
      detail = Json.obj("passes" -> passes, "query_ms" -> ms.map { case (q, b) => q -> b.result() }),
      errors = errs)
  }
}
