package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-12 hardening specs: pins the four ADVICE-r11 fixes (mmrTopK
  * checkpoint supersession, the DSIR floor-boundary runtime guard, the
  * withDsirHashed model-completeness require, single child.eval in the
  * sketch aggregates).
  */
class Round12Spec extends SparkSpec {

  test("mmrTopK is self-managing: superseded round checkpoints and the " +
      "cands/pairs scaffolding are released; at most the final selection " +
      "stays pinned") {
    val dir = sf("sf0.001")
    def pinnedIds() = spark.sparkContext.getPersistentRDDs.keySet
    val before = pinnedIds()
    val got = Similarity.mmrTopK(spark, dir, queryId = 0L, n = 20, k = 5)
      .collect()
    assert(got.length == 5)
    // unpersist is async; bounded wait, NO clearCache (the labelProp
    // leak-spec discipline). Without supersession this call pins
    // k-1 + 2 = 6 extra RDDs; with it, at most the final sel survives.
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def leakedNow(): Int = (pinnedIds() -- before).size
    var leaked = leakedNow()
    while (leaked > 1 && System.nanoTime() < deadline) {
      Thread.sleep(200)
      leaked = leakedNow()
    }
    val names = (pinnedIds() -- before).flatMap(id =>
      spark.sparkContext.getPersistentRDDs.get(id).map(r =>
        s"$id:${r.name}"))
    assert(leaked <= 1,
      s"$leaked RDDs still pinned after mmrTopK: $names")
  }

  test("bpeTrainMerges failing on the '|' guard leaves no round " +
      "checkpoint registered") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpe-guard").toString
    Seq((1L, "a b a b"), (2L, "a b|c a b"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[Exception] {
      TextAnalysis.bpeTrainMerges(spark, dir, rounds = 3)
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("containing the '|' delimiter")),
      msgs.mkString("\n"))
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after == before, s"leaked RDDs: ${after -- before}")
  }

  test("floorMicroGuarded: boundary-adjacent values SNAP to the boundary " +
      "on both sides (r13 — the raise_error guard would abort benign " +
      "100 TB jobs); exact and clear-of-boundary values floor normally") {
    import spark.implicits._
    val ok = Seq(0.0, 1.5e-6, -3.7e-6, 12.345678e-6)
      .toDF("x")
      .select(TextAnalysis.floorMicroGuarded(col("x")).as("m"))
      .collect().map(_.getLong(0))
    // 0.0 sits EXACTLY on a boundary → snaps to itself; the rest are
    // mid-interval → plain floor
    assert(ok.toSeq == Seq(0L, 1L, -4L, 12L))
    // within 1e-7 of a boundary, from ABOVE and from BELOW: both snap
    // to the boundary integer (a plain floor would give 2 and 1 — the
    // cross-engine flip zone), negatives included
    val snapped = Seq(2.0000000099e-6, 1.9999999901e-6, -3.0000000099e-6)
      .toDF("x")
      .select(TextAnalysis.floorMicroGuarded(col("x")).as("m"))
      .collect().map(_.getLong(0))
    assert(snapped.toSeq == Seq(2L, 2L, -3L),
      s"snap zone mis-floored: ${snapped.toSeq}")
  }

  test("withDsirHashed rejects a partial model frame instead of " +
      "silently NULLing the score fold") {
    val dir = sf("sf0.001")
    val buckets = 64
    val model = TextAnalysis.dsirModelHashed(spark, dir,
      col("lang") === "en", buckets)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    // complete model scores fine, zero NULLs
    val scored = TextAnalysis.withDsirHashed(docs, model, buckets,
      "text", "dsir")
    assert(scored.filter(col("dsir").isNull).count() == 0L)
    // a model missing buckets must fail loudly at call time
    val partial = model.filter(col("b") < buckets / 2)
    val e = intercept[IllegalArgumentException](
      TextAnalysis.withDsirHashed(docs, partial, buckets, "text", "d"))
    assert(e.getMessage.contains("buckets"))
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("d3/d7 auto routing: the DEFAULT call equals the explicit exact " +
      "path below the threshold and the explicit capped settings above " +
      "it (the autoPlanes spec pattern)") {
    val dir = sf("sf0.01")
    // below the wall (sf0.01 enum volume ≪ 2e9): auto == exact
    val auto = pairSet(Dedup.prefixJaccardPairs(spark, dir,
      k = 3, jaccardMin = 0.4))
    val exact = pairSet(Dedup.prefixJaccardPairs(spark, dir,
      k = 3, jaccardMin = 0.4, candCap = 0))
    assert(auto == exact, "auto default diverged from the exact path")
    // forced above the wall (threshold 0): auto == the capped settings
    val autoCapped = pairSet(Dedup.prefixJaccardPairs(spark, dir,
      k = 3, jaccardMin = 0.4, autoEnumRowsMax = 0L))
    val capped = pairSet(Dedup.prefixJaccardPairs(spark, dir,
      k = 3, jaccardMin = 0.4, candCap = Dedup.AutoCandCap,
      candTokens = Dedup.AutoCandTokens))
    assert(autoCapped == capped,
      "forced-auto diverged from the explicit capped call")
    // winnow: same sentinel contract
    val wAuto = pairSet(Dedup.winnowPairs(spark, dir))
    val wExact = pairSet(Dedup.winnowPairs(spark, dir, candCap = 0))
    assert(wAuto == wExact)
    val wForced = pairSet(Dedup.winnowPairs(spark, dir,
      autoEnumRowsMax = 0L))
    val wCapped = pairSet(Dedup.winnowPairs(spark, dir,
      candCap = Dedup.AutoCandCap, candTokens = Dedup.AutoCandTokens))
    assert(wForced == wCapped)
  }

  test("x3 auto routing: the DEFAULT MinHash-LSH call equals the exact " +
      "band join below the threshold and the explicit capped settings " +
      "above it (the sf10 band-join OOM fix)") {
    val dir = sf("sf0.01")
    val auto = pairSet(Dedup.minhashLshPairs(spark, dir))
    val exact = pairSet(Dedup.minhashLshPairs(spark, dir, candCap = 0))
    assert(auto == exact, "auto default diverged from the exact band join")
    val forced = pairSet(Dedup.minhashLshPairs(spark, dir,
      autoEnumRowsMax = 0L))
    val capped = pairSet(Dedup.minhashLshPairs(spark, dir,
      candCap = Dedup.AutoCandCap))
    assert(forced == capped,
      "forced-auto diverged from the explicit capped call")
    // capped is a sound subset of exact (every emitted pair re-verified)
    assert(capped.subsetOf(exact))
  }

  test("graph auto front doors: route to the clique formulation below " +
      "the thresholds (bit-exact) and to the bipartite formulation when " +
      "forced above them") {
    val dir = sf("sf0.001")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(Graph.pageRankAuto(spark, dir)) ==
      m(Graph.pageRank(spark, dir, iters = 3)))
    assert(m(Graph.pageRankAuto(spark, dir, maxCliqueEdges = 0L)) ==
      m(Graph.pageRankBipartite(spark, dir, iters = 3)))
    assert(m(Graph.labelPropAuto(spark, dir)) ==
      m(Graph.labelProp(spark, dir, iters = 3)))
    assert(m(Graph.labelPropAuto(spark, dir, maxCliqueEdges = 0L)) ==
      m(Graph.labelPropBipartite(spark, dir, iters = 3)))
    // the whale guard routes on max per-order part count alone
    assert(m(Graph.pageRankAuto(spark, dir, maxOrderParts = 1L)) ==
      m(Graph.pageRankBipartite(spark, dir, iters = 3)))
  }

  test("v4/v5 iterative BPE trainer: a driver-side replay of " +
      "count->argmax->merge->recount agrees exactly, the final state " +
      "is the encode, and recounting diverges from the one-shot rank") {
    val dir = sf("sf0.001")
    val rounds = 6
    // driver-side reference trainer over the same corpus
    var corpus = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split(" ", -1).filter(_.nonEmpty).toSeq)
      .toMap
    def wrap(ts: Seq[String]) = ts.mkString("|", "||", "|")
    var state = corpus.map { case (id, ts) => id -> wrap(ts) }
    val expected =
      scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    for (r <- 1 to rounds) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      state.values.foreach { s =>
        val ts = s.drop(1).dropRight(1).split("\\|\\|", -1)
        if (ts.length >= 2)
          ts.sliding(2).foreach { p =>
            counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + 1
          }
      }
      if (counts.nonEmpty) {
        val ((w1, w2), n) = counts.toSeq.minBy { case ((a, b), n) =>
          (-n, a, b) }
        expected += ((r, w1, w2, n))
        state = state.map { case (id, s) =>
          id -> s.replace(s"|$w1||$w2|", s"|$w1+$w2|") }
      }
    }
    val got = TextAnalysis.bpeTrainMerges(spark, dir, rounds)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(got == expected.toSeq,
      s"trainer diverged from driver replay:\n got=$got\n exp=$expected")
    // the encode IS the final loop state
    val enc = TextAnalysis.bpeTrainEncode(spark, dir, rounds)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val expMd5 = state.map { case (id, s) =>
      id -> java.security.MessageDigest.getInstance("MD5").digest(
        s.getBytes("UTF-8")).map("%02x".format(_)).mkString }
    assert(enc == expMd5)
    // recounting matters: past round 1 the trained sequence must diverge
    // from the one-shot top-N ranking on this corpus (if it never did,
    // v4 would be v2 with extra steps)
    val oneShot = TextAnalysis.bpeMergePairs(spark, dir, rounds)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got.map(m => (m._2, m._3)) != oneShot,
      "iterative merges identical to the one-shot top-k on this corpus " +
        "- the divergence property is vacuous here, pick a bigger fixture")
  }

  test("x19 IVF-PQ composition: member/code scans read no floats, the " +
      "cell scan is partition-pruned, output is ordered and excludes " +
      "the query, and recall holds above the contract floor") {
    val dir = sf("sf0.001")
    val t = ProductQuant.ivfPqTopK(spark, dir, queryId = 0L, k = 10)
    val rows = t.collect()
    assert(rows.length == 10)
    assert(!rows.map(_.getLong(0)).contains(0L), "query in its own top-k")
    val cos = rows.map(_.getDouble(3))
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    // plan guard (the IVF-PQ promise): neither the cell-membership scan
    // (graft-ivf) nor the code scan (graft-pq) may read the float
    // embedding column — float I/O is confined to the O(shortlist)
    // re-rank against embeddings.parquet; and the cells scan must be
    // partition-pruned to the probed cells.
    val plan = t.queryExecution.executedPlan.toString
    val artifactScans = plan.linesIterator.filter(l =>
      l.contains("FileScan") &&
        (l.contains("graft-ivf") || l.contains("graft-pq"))).toSeq
    assert(artifactScans.nonEmpty, "expected artifact FileScans in plan")
    artifactScans.foreach { l =>
      assert(!l.contains("embedding"),
        s"artifact scan reads the float column:\n$l")
    }
    val ivfScan = artifactScans.filter(_.contains("graft-ivf"))
    assert(ivfScan.exists(l => l.contains("PartitionFilters: [") &&
      !l.contains("PartitionFilters: []")),
      s"cells scan not partition-pruned:\n${ivfScan.mkString("\n")}")
    // recall floor with margin over the x19r contract (0.4)
    assert(ProductQuant.x19rIvfPqRecall(spark, dir, floor = 0.6)
      .count() == 0L,
      "pooled IVF-PQ recall@10 below 0.6 on the fixture")
  }

  test("curateDelta decontamination: the bucketed eval-gram artifact " +
      "side joins with NO exchange (only the shard gram stream " +
      "shuffles) and the semi-join result matches the broadcast twin") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dir = sf("sf0.001")
    val state = CuratePipeline.corpusState(spark, dir, splitId = 400L)
    val shard = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") >= 400L)
      .select(col("doc_id"), TextAnalysis.redact(col("text")).as("clean"))
    val bucketed = CuratePipeline.deltaContaminated(spark, state, shard,
      decontamBroadcast = false)
    val bc = CuratePipeline.deltaContaminated(spark, state, shard,
      decontamBroadcast = true)
    // identical contaminated sets either route
    assert(bucketed.collect().map(_.getLong(0)).toSet ==
      bc.collect().map(_.getLong(0)).toSet)
    // plan pin (pre-AQE, the b2 technique): SMJ with at most ONE
    // shuffle — the shard gram stream; the bucketed artifact side reads
    // its sorted bucket files directly
    val plan = bucketed.queryExecution.sparkPlan
    assert(plan.toString.contains("SortMergeJoin"),
      s"expected a sort-merge semi-join:\n$plan")
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
    assert(joins.nonEmpty)
    val shuffles = joins.head.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1,
      s"artifact side re-exchanged; ${shuffles.size} shuffles under the " +
        s"join:\n$plan")
  }

  test("sketch aggregates evaluate the child expression exactly once " +
      "per input row (null-check and hash see the SAME value)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, If,
      IsNull, LeafExpression, Literal}
    import org.apache.spark.sql.types.LongType
    val calls = new java.util.concurrent.atomic.AtomicLong(0)
    // a deliberately side-effecting child: each eval bumps the counter
    case class Counting() extends LeafExpression {
      override def dataType = LongType
      override def nullable = false
      override def eval(input: InternalRow): Any = { calls.incrementAndGet() }
      override protected def doGenCode(
          ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
          ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
        throw new UnsupportedOperationException("interpreted-only test expr")
    }
    val row = InternalRow.empty
    val hll = graft.functions.HllSketch.Agg(Counting(), p = 8)
    val hb = hll.createAggregationBuffer()
    hll.update(hb, row)
    assert(calls.get() == 1L,
      s"HllSketch.update evaluated the child ${calls.get()} times")
    calls.set(0)
    val kmv = graft.functions.KmvSketch.Agg(Counting(), k = 16)
    val kb = kmv.createAggregationBuffer()
    kmv.update(kb, row)
    assert(calls.get() == 1L,
      s"KmvSketch.update evaluated the child ${calls.get()} times")
  }
}
