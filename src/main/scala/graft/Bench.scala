package graft
import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, printing one JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}
  * and writing the same JSON to SPARK_GRAFT_BENCH_OUT (default
  * `bench_out.json` in the cwd) — the stdout line has been truncated by
  * log-capture before (BENCH_r05 "parsed": null), the file is the
  * durable artifact.
  *
  * Operator queries and invariant/verifier queries
  * ([[SparkEntry.invariantQueries]] — ground-truth recomputations,
  * some deliberately O(n²)) are timed in separate maps; "value" stays
  * the grand total for cross-round comparability, with
  * "operator_total"/"invariant_total" breaking it down. Set
  * SPARK_GRAFT_SKIP_INVARIANTS=1 to exclude verifiers from a scale
  * sweep entirely.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val skipInvariants = sys.env.get("SPARK_GRAFT_SKIP_INVARIANTS")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    // min-of-2 is the gate-scale noise hygiene; a 100x completion sweep
    // sets SPARK_GRAFT_ONE_RUN=1 — doubling hour-scale queries buys no
    // signal there
    val oneRun = sys.env.get("SPARK_GRAFT_ONE_RUN")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
    // shuffle partitions = cores at gate scale; scale sweeps (sf10) set
    // SPARK_GRAFT_SHUFFLE so partitions stay within executor memory
    // (the SCALING.md probes ran 1024 there — 256 was measured to OOM
    // d3's verify stage at sf10: 4x the validated per-partition volume)
    val spark = Sessions.getOrCreate("graft-bench", corpus = Some(sfDir))
    // Per-query executor task metrics (VERDICT r15 item 1): run/CPU/GC
    // time, peak execution memory, shuffle and spill bytes land in the
    // artifact next to each wall second, so a contaminated run (wall ≫
    // run time, GC/spill growth) is distinguishable from a regression.
    val metrics = new BenchMetrics
    spark.sparkContext.addSparkListener(metrics)
    // Warm-up work is timed and reported as its OWN field (warmup_sec):
    // session init plus the offline artifact builds below are excluded
    // from the per-query numbers by design (index build is a scheduled
    // job; the queries measure the probe), and the artifact must show
    // the excluded cost instead of hiding it.
    val warmupT0 = System.nanoTime()
    // Warm up the session (codegen compiler, scheduler, shuffle machinery)
    // so the first timed query doesn't absorb ~4 s of JVM init.
    spark.range(1000000).selectExpr("sum(id)").collect()
    // parquet-reader warmup: lineitem normally, else any table present —
    // a SPARK_GRAFT_ONLY-filtered probe may run against a PARTIAL corpus
    // (e.g. the sf100 dir holding only documents/embeddings to leave the
    // single box enough shuffle scratch for a heavy-miner probe)
    Seq("lineitem", "documents", "embeddings", "nation")
      .map(t => s"$sfDir/$t.parquet")
      .find(p => new java.io.File(p).exists())
      .foreach(p => spark.read.parquet(p).limit(10).collect())
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String], String) = {
      // previous query's straggler events, not this one's
      ListenerDrain.drain(spark.sparkContext)
      metrics.reset()
      val t0 = System.nanoTime()
      val err = try {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save(); None
      } catch { case e: Throwable =>
        Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }
      val sec = (System.nanoTime() - t0) / 1e9
      ListenerDrain.drain(spark.sparkContext)
      (sec, err, metrics.snapshotJson)
    }
    // Between-query hygiene: d4-style iterative queries localCheckpoint
    // their final result, and those blocks stay pinned in storage memory
    // until the driver GCs the RDD reference — squeezing execution memory
    // for every query that follows (measured: d4 19.8 s / e1 11.8 s
    // inside the sweep vs 5.4 s / 0.5 s standalone). Each query is an
    // independent measurement; drop leaked blocks before the next one.
    // BLOCKING since r16 (VERDICT r15 item 1b): the async unpersist left
    // a window where the next query timed against still-pinned blocks;
    // now removal completes before the next measurement starts, and any
    // RDD still registered afterwards is counted loudly in the artifact
    // (leak_check_failures) instead of silently poisoning the sweep.
    var leakCheckFailures = 0
    def dropLeakedBlocks(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      val left = spark.sparkContext.getPersistentRDDs
      if (left.nonEmpty) {
        leakCheckFailures += 1
        System.err.println(s"[bench] WARN ${left.size} RDDs still " +
          s"registered after blocking unpersist: ${left.keys.toSeq.sorted
            .take(8).mkString(",")}")
      }
    }
    // SPARK_GRAFT_ONLY=<regex> restricts the run — segment reruns for
    // localizing in-sweep effects (a query can behave differently inside
    // the full sweep than standalone; see SCALING.md r13 sweep notes).
    // A filtered run is never a canonical artifact: "only" is recorded
    // in the JSON so no consumer mistakes one for a full sweep.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val toRun = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) =>
        skipInvariants && SparkEntry.invariantQueries(n) }
      .filter { case (n, _) =>
        only.forall(_.findFirstIn(n).isDefined) }
    // Offline artifact builds (at scale scheduled jobs, not query-time
    // work), warmed only when a consumer is in this run:
    //  - IVF/PQ index: x8/x19/x20 (and the x*-recall invariants) measure
    //    the PROBE, which is the serving-path cost. nlist=0 resolves the
    //    auto size (r13) — the geometry those queries actually probe.
    //  - dedup pair graph + clusters: d3 stays the honest mining cost,
    //    d4/d9 time THEIR stages (CC, survivor selection). min-of-2
    //    already reported the warm pass at gate scale; warming makes
    //    one-run scale sweeps report the same steady-state attribution.
    val names = toRun.map(_._1).toSet
    if (names.exists(n => n.startsWith("x8") || n.startsWith("x19") ||
        n.startsWith("x20")))
      graft.ext.Similarity.ivfIndexDir(spark, sfDir)
    if (names.exists(n => n.startsWith("d4") || n.startsWith("d9")))
      graft.ext.Dedup.warmSharedArtifacts(spark, sfDir)
    val warmupSec = (System.nanoTime() - warmupT0) / 1e9
    val results = toRun.map { case (name, fn) =>
      dropLeakedBlocks()
      val (t1, err1, m1) = once(fn)
      // A first run over 1 s mixes first-touch costs (parquet footer
      // reads, codegen compiles) and scheduler noise into the signal;
      // re-run once and keep the min. Bounded: only the slow tail pays
      // a second pass. A re-run FAILURE must surface, not read as a
      // fast success. Task metrics follow the kept (min) attempt.
      val (t, err, m) = if (err1.isEmpty && t1 > 1.0 && !oneRun) {
        val (t2, err2, m2) = once(fn)
        if (err2.isEmpty) {
          if (t2 <= t1) (t2, None, m2) else (t1, None, m1)
        } else (t2, err2, m2)
      } else (t1, err1, m1)
      // Progress to stderr as each query lands: an hour-scale sweep was
      // previously a black box until the final JSON, and a per-query
      // timestamped trail is what localizes in-sweep anomalies (r13:
      // queries 4-16x slower in-sweep than standalone).
      System.err.println(f"[bench] $name ${t}%.2f s" +
        err.map(m => s" ERROR $m").getOrElse(""))
      (name, t, err, m)
    }
    def jsonMap(rs: Seq[(String, Double, Option[String], String)]): String =
      rs.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    val (inv, ops) = results.partition(r => SparkEntry.invariantQueries(r._1))
    val errs = results.collect { case (k, _, Some(m), _) =>
      "\"" + k + "\":\"" + m.replaceAll("[\"\\\\\\n\\r\\t]", " ") + "\""
    }.mkString("{", ",", "}")
    val taskMetrics = results.map { case (k, _, _, m) =>
      "\"" + k + "\":" + m
    }.mkString("{", ",", "}")
    val opTotal = ops.map(_._2).sum
    val invTotal = inv.map(_._2).sum
    val total = opTotal + invTotal
    // "valid" lets any consumer (dashboards, reports) gate on run health
    // without parsing the errors map: a total that includes instant-failure
    // timings from errored queries is NOT a comparable total.
    val valid = results.forall(_._3.isEmpty)
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","valid":$valid,""" +
      s""""operator_total":$opTotal,"invariant_total":$invTotal,""" +
      s""""warmup_sec":$warmupSec,""" +
      s""""jvm_max_heap_bytes":${Runtime.getRuntime.maxMemory},""" +
      s""""leak_check_failures":$leakCheckFailures,""" +
      s""""queries":${jsonMap(ops)},"invariants":${jsonMap(inv)},""" +
      s""""task_metrics":$taskMetrics,""" +
      s""""errors":$errs,"skip_invariants":$skipInvariants,"sf":"$sfDir"}"""
    // stdout FIRST: a bad SPARK_GRAFT_BENCH_OUT path must not throw away
    // a completed sweep (the file exists to survive stdout truncation,
    // not the other way around)
    println(json)
    // NonFatal, not just IOException: Paths.get on a malformed path
    // throws InvalidPathException (a RuntimeException) — a completed
    // sweep must never exit nonzero because its artifact path is bad
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] WARN could not write $outPath: $e")
    }
    spark.stop()
    // Query failures are recorded in-artifact ("errors" map, "valid":
    // false) but exit 0: one broken query must not kill the whole
    // measurement for a consumer that parses the exit code before the
    // JSON (round 9's driver artifact died exactly that way — rc=1,
    // parsed:null, 118 good timings discarded). Loudness lives in the
    // artifact; nonzero exits are reserved for harness-level failures
    // (the uncaught-throw path above this line).
    if (!valid) System.err.println(
      s"[bench] WARN ${results.count(_._3.isDefined)} queries errored " +
        "(see errors map); total is not comparable")
  }
}
