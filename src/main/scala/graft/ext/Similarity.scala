package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Expressions.{cosineF, cosinePreF, dotF, normF}

/** Similarity search over an embedding column (ArrayType(FloatType)) —
  * SURVEY.md §7.4. Brute-force cosine top-k as the exact baseline; a
  * random-hyperplane LSH bucketed variant as the 100 TB path (candidates
  * from matching signature buckets only, then exact re-rank).
  */
object Similarity {

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Exact top-k cosine neighbors of one query vector: broadcast the
    * single-row query side, score with the native dot expression (stays in
    * whole-stage codegen), TakeOrderedAndProject for the top-k — the fact
    * side is never shuffled. This is the pattern that scales: at 100 TB the
    * scan is embarrassingly parallel and only k rows reach the driver.
    */
  def cosineTopK(s: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 20): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))
    e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cosine", cosineF(col("embedding"), col("q_embedding")))
      .orderBy(desc("cosine"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"),
        (floor(col("cosine") * lit(1000000.0) + lit(0.5)) / lit(1000000.0))
          .as("cosine_r6"))
  }

  /** Seed for the [[randomProjection]] sign matrix (shared with the
    * oracle-SQL generator in SparkEntry so both engines see one matrix).
    */
  val RpSeed = 0x5eedL

  /** Sign matrix for [[randomProjection]]: m×dim Rademacher (±1) entries
    * from the deterministic splitmix stream — sign(i,j) is the top bit of
    * mix2(seed, i·dim + j).
    */
  def rpSigns(m: Int, dim: Int): Seq[Seq[Int]] =
    (0 until m).map { i =>
      (0 until dim).map { j =>
        if (graft.functions.SplitMix.mix2(RpSeed, i.toLong * dim + j) >= 0) 1
        else -1
      }
    }

  /** Signed random projection (Rademacher/Johnson–Lindenstrauss): reduce
    * each embedding to `m` coordinates, proj_i = Σ_j sign(i,j)·x_j — the
    * dimensionality-reduction primitive behind SRP-LSH bit signatures
    * (Charikar 2002) and cheap pre-filters for the kNN/ANN family. Same
    * sign family as [[lshBuckets]]; this variant keeps the signed
    * magnitudes instead of collapsing to bits.
    *
    * Oracle-exactness: inputs are floor-quantized to integer micro-units
    * (floor(x·1e6), a deterministic IEEE op on the same float→double
    * widening both engines perform), so every projection is an exact
    * BIGINT dot product — order-independent, no float summation drift.
    *
    * Plan shape at 100 TB: map-only — the sign matrix is a literal folded
    * into the codegen'd projection (m·dim ≤ a few KB), no shuffle, no
    * driver state; emitted as scalar (vec_id, plane, proj) rows.
    */
  def randomProjection(s: SparkSession, dir: String, m: Int = 16,
      dim: Int = 64): DataFrame = {
    val signsSql = rpSigns(m, dim)
      .map(_.mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")
    emb(s, dir)
      .withColumn("q", expr(
        "transform(embedding, " +
          "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"))
      .select(col("vec_id"), expr(
        s"""explode(transform(sequence(0, ${m - 1}), i -> struct(
           |  CAST(i AS INT) AS plane,
           |  aggregate(zip_with(q, element_at($signsSql, i + 1),
           |      (x, sg) -> x * CAST(sg AS BIGINT)),
           |    CAST(0 AS BIGINT), (a, b) -> a + b) AS proj)))""".stripMargin)
        .as("e"))
      .select(col("vec_id"), col("e.plane").as("plane"),
        col("e.proj").as("proj"))
  }

  /** Exact near-duplicate pairs by embedding cosine above a threshold.
    * All-pairs within blocks: at test scale a full self-join; the scale
    * path is [[lshBuckets]] candidates → this exact filter.
    */
  def cosineNearDupPairs(s: SparkSession, dir: String,
      minCosine: Double = 0.8): DataFrame = {
    // norm hoisted out of the pair loop (bit-identical — see cosinePreF)
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", normF(col("embedding")))
    val l = e.alias("l")
    val r = e.alias("r")
    l.join(r, col("l.vec_id") < col("r.vec_id"))
      .withColumn("cosine", cosinePreF(
        col("l.embedding"), col("l.nrm"), col("r.embedding"), col("r.nrm")))
      .filter(col("cosine") >= minCosine)
      .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"),
        (floor(col("cosine") * lit(1000000.0) + lit(0.5)) / lit(1000000.0))
          .as("cosine_r6"))
  }

  /** Exact near-duplicate pairs via an evenly-BLOCKED pair join — the
    * scale-safe shape for exact all-pairs similarity. An unconditioned
    * `a.id < b.id` self-join plans as BroadcastNestedLoopJoin: it must
    * broadcast one entire side (OOM at cluster scale) and pins the
    * quadratic work on however many partitions the stream side has.
    * Instead: hash every vector into one of `blocks` even blocks, build
    * the tiny ordered block-pair table {(i,j) : i ≤ j} on the driver
    * (B(B+1)/2 rows), and expand via two equi-joins:
    *
    *   vectors ⋈⟨blk=bi⟩ blockPairs ⟨(bi,bj)⟩⋈ blockPairs ⟨bj=blk⟩⋈ vectors
    *
    * Each task scores one block-pair — n²/B² dot products, bounded
    * memory — across B(B+1)/2 tasks. The final join keys on the
    * COMPOSITE (bi, bj): both sides expand against the block-pair table
    * first, so the exchange has B(B+1)/2 distinct keys. (The r12 shape
    * keyed the last join on `bj = r.blk` ALONE — B distinct keys, so at
    * most B tasks ever ran regardless of shuffle partitions; the r13
    * sf10 sweep measured e2 serialized onto 8 straggling threads for
    * 45+ minutes. jstack evidence in SCALING.md.) Pair uniqueness: for
    * bi < bj every (l, r) combination is a distinct unordered pair; for
    * bi = bj keep l.vec_id < r.vec_id. Total work stays Θ(n²) dot
    * products — exact low-threshold similarity admits no complete
    * sub-quadratic candidate generator (at the 0.45 oracle threshold,
    * hyperplane-LSH band recall is ~42% per band — unusable) — but the
    * plan is two equi-joins with no full-table broadcast and no
    * single-task hotspot. For realistic near-dup thresholds (≥0.85) use
    * [[lshBuckets]] candidates.
    *
    * `blocks = 0` (the DEFAULT) auto-sizes B so one task's block-pair
    * holds ~2e7 dot products ((n/B)² ≤ 2e7, clamped to [8, 256]):
    * the result is EXACT at any B (B only tiles the pair space), so
    * unlike the d3/graph routers this sentinel needs no oracle
    * coupling — it is purely a parallelism knob the data sizes.
    * Replication cost: each side crosses the exchange ~B/2 times;
    * at the clamp ceiling (B=256, n ≳ 1.1M vectors) that is the
    * honest signal that exact all-pairs has outgrown single-job
    * compute and the caller wants the LSH/IVF candidates instead.
    */
  def cosineNearDupPairsBlocked(s: SparkSession, dir: String,
      minCosine: Double = 0.8, blocks: Int = 0): DataFrame = {
    import s.implicits._
    val b = if (blocks > 0) blocks
      else math.max(8, math.min(256,
        math.ceil(emb(s, dir).count() / 4472.0).toInt))
    // per-row norm rides the block expansion (8 bytes/row vs saving two
    // 64-dim dots per PAIR — see cosinePreF; bit-identical)
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", normF(col("embedding")))
      .withColumn("blk", pmod(xxhash64(col("vec_id")), lit(b)).cast("int"))
    val blockPairs = (for { i <- 0 until b; j <- i until b }
      yield (i, j)).toDF("bi", "bj")
    val l = e.alias("l")
    val r = e.alias("r")
    val le = l.join(broadcast(blockPairs), col("l.blk") === col("bi"))
    val re = r.join(broadcast(blockPairs), col("r.blk") === col("bj"))
      .select(col("bi").as("rbi"), col("bj").as("rbj"),
        col("r.vec_id").as("r_vec_id"), col("r.embedding").as("r_embedding"),
        col("r.nrm").as("r_nrm"))
    le.join(re, col("bi") === col("rbi") && col("bj") === col("rbj"))
      .filter(col("bi") < col("bj") ||
        (col("bi") === col("bj") && col("l.vec_id") < col("r_vec_id")))
      .withColumn("cosine", cosinePreF(col("l.embedding"), col("l.nrm"),
        col("r_embedding"), col("r_nrm")))
      .filter(col("cosine") >= minCosine)
      .select(
        least(col("l.vec_id"), col("r_vec_id")).as("vec_a"),
        greatest(col("l.vec_id"), col("r_vec_id")).as("vec_b"),
        (floor(col("cosine") * lit(1000000.0) + lit(0.5)) / lit(1000000.0))
          .as("cosine_r6"))
  }

  /** Random-hyperplane LSH signature (Charikar 2002): `nPlanes` seeded
    * hyperplanes; bit i = sign(v · plane_i). Embeds as one integer bucket
    * key — cosine-close vectors collide with high probability.
    */
  def lshBuckets(s: SparkSession, dir: String, nPlanes: Int = 16,
      seed: Long = 42L): DataFrame = {
    val dim = 64 // embeddings fixture dim (TESTDATA.md)
    val rnd = new scala.util.Random(seed)
    val planes = Seq.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val planeCols = planes.map(p => array(p.toIndexedSeq.map(x => lit(x)): _*))
    val sigBits = planeCols.zipWithIndex.map { case (p, i) =>
      when(dotF(col("embedding"), p.cast("array<float>")) >= 0,
        lit(1L << i)).otherwise(lit(0L))
    }
    // Same fixture-drift guard as lshBucketsMulti: a wrong-length
    // embedding must fail loudly, not hash to a degenerate bucket.
    val dimGuard = when(size(col("embedding")) === dim, col("embedding"))
      .otherwise(raise_error(concat(
        lit(s"lshBuckets: expected $dim-dim embedding, got "),
        size(col("embedding")).cast("string"),
        lit(" for vec_id="), col("vec_id").cast("string"))))
    emb(s, dir).withColumn("embedding", dimGuard)
      .withColumn("bucket", sigBits.reduce(_ + _))
  }

  /** IVF (inverted-file) ANN, split into OFFLINE BUILD and ONLINE PROBE
    * (VERDICT r1 item 8 — training the quantizer inside the query was the
    * whole 2.3 s cost; at scale the index is a scheduled build job).
    *
    * Build: k-means coarse quantizer (MLlib, seeded) assigns every vector
    * to its nearest of `nlist` centroids; the assignment table is written
    * to disk PARTITIONED BY cell, plus a tiny centroid table. Probe: rank
    * centroids against the query driver-side (nlist rows), scan only the
    * `nprobe` nearest cell partitions (real partition pruning — the scan
    * reads nprobe/nlist of the corpus), exact cosine re-rank inside.
    * Builds are memoized per (dir, nlist, seed) within the JVM, standing
    * in for the offline index job.
    */
  private val ivfBuilt =
    CorpusMemos.register(
      new java.util.concurrent.ConcurrentHashMap[String, String]())

  /** The IVF index artifact the engine most recently USED — consumed by
    * the SparkEntry x8 oracle (the artifact-derived-oracle pattern;
    * Verify runs all queries before dumping oracle_sql.json, so this is
    * x8's own index there). A map `.values.headOption` would return an
    * ARBITRARY entry once a second (dir, nlist, seed) is ever built in
    * the JVM; last-used tracking keeps oracle and query aligned.
    */
  @volatile private var lastIvfIndexDir: String = _

  def builtIvfIndexDir: Option[String] = Option(lastIvfIndexDir)

  /** Size the IVF cell count to the corpus: ~⌈√n⌉ cells (the FAISS
    * guideline — cells of ~√n vectors balance the centroid-ranking cost
    * against the per-cell scan). A FIXED nlist makes every probed cell
    * O(n/nlist): the scan-pruning promise decays LINEARLY as the corpus
    * grows past the pinned count (measured r12: nlist=16 at 200k
    * vectors = 12.5k-vector cells, vs 448 cells of ~450). With a fixed
    * nprobe the scanned fraction is nprobe/√n — it SHRINKS at scale
    * instead of staying a constant corpus fraction. Floor 4 keeps tiny
    * fixtures from degenerate 1-2 cell indexes.
    *
    * `nlist = 0` to [[ivfIndexDir]] / [[ivfTopK]] /
    * [[ProductQuant.ivfPqTopK]] opts in — the DEFAULT for the gate
    * queries since r13 (the autoPlanes/knnJoin precedent). Resolutions
    * are memoized per corpus dir (pure functions of the corpus count —
    * the resolveKnnPlanes pattern).
    */
  def autoNlist(nVectors: Long): Int =
    math.max(4, math.ceil(math.sqrt(math.max(1L, nVectors).toDouble)).toInt)

  /** FALLBACK probe count when an index artifact carries no measured
    * calibration (pre-r14 artifacts only — every fresh build calibrates):
    * the r13 fixed scan fraction (3 of 8 cells). Kept because it is the
    * worst-case-honest ratio on structure-free Gaussian corpora, but it
    * is exactly that — calibrated to the worst possible corpus and then
    * applied as a scale-independent constant, scanning ~38 % of the
    * index no matter how clustered the data is (VERDICT r13 item 1).
    * The default probe path reads [[calibratedNprobe]] instead.
    */
  def autoNprobe(nlist: Int): Int =
    math.max(3, math.ceil(nlist * 3.0 / 8.0).toInt)

  /** Recall floor the build-time nprobe calibration must meet: mean
    * recall@[[IvfCalibK]] over [[IvfCalibQueries]] held-out probes vs the
    * exact scan. 0.75 sits inside the 0.71–0.78 band the fixed 3/8
    * fraction measured on the fixture Gaussians, so the structure-free
    * worst case keeps today's behavior while clustered corpora land at
    * nprobe ≪ 3/8·nlist.
    */
  val IvfRecallFloor = 0.75
  val IvfCalibQueries = 10
  val IvfCalibK = 10

  private val calibNprobeByIdx =
    CorpusMemos.register(
      new java.util.concurrent.ConcurrentHashMap[String, Integer]())

  /** The probe depth an index artifact was CALIBRATED to at build time
    * (r14, replacing the fixed 3/8·nlist ratio as the `nprobe = 0`
    * resolution): the smallest nprobe whose measured recall@k meets
    * [[IvfRecallFloor]] on the artifact's own held-out probe sample —
    * stored in `$idx/calib` next to the centroids, the same place the
    * resolved geometry already lives. Memoized per artifact path (one
    * 1-row parquet read). Falls back to [[autoNprobe]] ONLY when the
    * calib table genuinely does not exist (a pre-r14 artifact) — checked
    * by path, logged on `graft.autoroute`; a transient read FAILURE
    * propagates instead of being memoized as a silent fixed-ratio
    * downgrade for the JVM lifetime (ADVICE r14).
    */
  def calibratedNprobe(s: SparkSession, idx: String): Int =
    calibNprobeByIdx.computeIfAbsent(idx, _ => Integer.valueOf {
      val calib = new org.apache.hadoop.fs.Path(s"$idx/calib")
      val fs = calib.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(calib))
        s.read.parquet(s"$idx/calib").select("nprobe").head().getInt(0)
      else {
        val np = autoNprobe(s.read.parquet(s"$idx/centroids").count().toInt)
        Dedup.logRoute(s"calibratedNprobe:$idx",
          "no calib table (pre-r14 artifact) — fixed-ratio fallback",
          s"nprobe=$np")
        np
      }
    }).intValue()

  /** Build-time probe-depth calibration (VERDICT r13 item 1): ONE exact
    * linear scan scores the [[IvfCalibQueries]] smallest-vec_id probes
    * against the whole corpus (broadcast query side — the cosineTopK
    * shape, never O(n²)), the exact top-[[IvfCalibK]] neighbors keep
    * their cell labels, and recall-vs-nprobe falls out DRIVER-SIDE from
    * the centroid ranking alone: an IVF probe at depth p finds a true
    * neighbor iff that neighbor's cell ranks within the query's p
    * nearest cells, so one rank histogram over ≤ nQueries·k rows yields
    * the whole recall curve without ever re-running the index. Returns
    * (nprobe, recall at it, full curve, nQueries used); the caller
    * persists them in the artifact. Deterministic: probe ids by vec_id
    * order, cell ranking by (d², cell) — the same tie order the probe
    * paths and the DuckDB oracles replay.
    */
  private def calibrateNprobe(s: SparkSession, out: String,
      centroids: IndexedSeq[(Int, Array[Double])],
      probeIds: Option[Seq[Long]] = None)
      : (Int, Double, IndexedSeq[Double], Int) = {
    val nlist = centroids.length
    val cellsDf = s.read.option("basePath", s"$out/cells")
      .parquet(s"$out/cells")
    // probe selection: smallest vec_ids by default; the delta-append
    // path passes an explicit DELTA-INCLUSIVE id set so the re-check
    // measures the geometry the grown corpus actually probes
    val probeSrc = probeIds match {
      case Some(ids) => cellsDf.select("vec_id", "embedding")
        .filter(col("vec_id").isin(ids.map(java.lang.Long.valueOf): _*))
        .orderBy("vec_id")
      case None => cellsDf.select("vec_id", "embedding")
        .orderBy("vec_id").limit(IvfCalibQueries)
    }
    val probes = probeSrc
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .toIndexedSeq
    import s.implicits._
    val qsDf = s.createDataset(probes.map { case (id, e) => (id, e.toSeq) })
      .toDF("src_id", "q_emb")
      .select(col("src_id"), col("q_emb").cast("array<float>").as("q_emb"))
    val cand = cellsDf
      .select(col("vec_id").as("nb_id"), col("embedding"),
        col("cell").cast("int").as("cell"))
      .join(broadcast(qsDf), col("nb_id") =!= col("src_id"))
      .select(col("src_id"), col("nb_id"), col("cell"),
        cosineF(col("embedding"), col("q_emb")).as("cosine"))
    val topk = graft.plans.TopKPerGroup.topK(cand, Seq("src_id"), "cosine",
      IvfCalibK, desc = true, tiebreakCols = Seq("nb_id"))
      .select("src_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    // per-query cell rank under the probe paths' (d², cell) order
    val rankOf: Map[Long, Map[Int, Int]] = probes.map { case (qid, qe) =>
      val qd = qe.map(_.toDouble)
      val ranked = centroids.map { case (cell, ctr) =>
        var d = 0.0
        var i = 0
        while (i < qd.length) { val v = ctr(i) - qd(i); d += v * v; i += 1 }
        (cell, d)
      }.sortBy { case (cell, d) => (d, cell) }.map(_._1)
      qid -> ranked.zipWithIndex.toMap
    }.toMap
    val hist = new Array[Long](nlist)
    topk.foreach { case (qid, cell) => hist(rankOf(qid)(cell)) += 1 }
    val total = topk.length.toLong
    if (total == 0L) // degenerate (≤1-vector) corpus: nothing to measure
      return (math.min(autoNprobe(nlist), nlist), 1.0,
        IndexedSeq.fill(nlist)(1.0), probes.length)
    val curve = hist.scanLeft(0L)(_ + _).drop(1)
      .map(_.toDouble / total).toIndexedSeq
    // curve(nlist-1) == 1.0 by construction (all cells probed == exact),
    // so the floor is always reachable; the max() is belt-and-braces
    val chosen = math.max(1, curve.indexWhere(_ >= IvfRecallFloor) + 1)
    (chosen, curve(chosen - 1), curve, probes.length)
  }

  private val autoNlistByDir =
    CorpusMemos.register(
      new java.util.concurrent.ConcurrentHashMap[String, Integer]())

  private[graft] def resolveNlist(s: SparkSession, dir: String,
      nlist: Int): Int =
    if (nlist > 0) nlist
    else autoNlistByDir.computeIfAbsent(dir,
      _ => Integer.valueOf(autoNlist(emb(s, dir).count()))).intValue()

  /** The probe count most recently used against each built index
    * artifact — consumed by the artifact-derived x8/x19 oracles, which
    * must replay the SAME number of probed cells (keyed by the artifact
    * path, the per-dir-map discipline from resolveKnnPlanes).
    */
  private val nprobeByIdx =
    CorpusMemos.register(
      new java.util.concurrent.ConcurrentHashMap[String, Integer]())

  private[graft] def recordNprobe(idx: String, nprobe: Int): Unit =
    nprobeByIdx.put(idx, Integer.valueOf(nprobe)): Unit

  def recordedNprobe(idx: String): Option[Int] =
    Option(nprobeByIdx.get(idx)).map(_.intValue())

  /** Build (or reuse) the IVF index artifact; returns its directory.
    * `nlist = 0` auto-sizes to ~⌈√n⌉ cells (see [[autoNlist]]).
    */
  def ivfIndexDir(s: SparkSession, dir: String, nlist: Int = 0,
      seed: Long = 42L): String = {
    val p = ivfIndexDir0(s, dir, resolveNlist(s, dir, nlist), seed)
    lastIvfIndexDir = p
    p
  }

  private def ivfIndexDir0(s: SparkSession, dir: String, nlist: Int,
      seed: Long): String =
    buildIvfFrom(s, s"$dir|$nlist|$seed", emb(s, dir), nlist, seed)

  /** The IVF build body, parameterized by the corpus FRAME and memo key
    * (r15): [[ivfIndexDir]] builds over a directory's embeddings table;
    * the incremental-maintenance path ([[ivfDeltaAppend]] callers, the
    * xd1 gate query) builds a base index over a SUBSET frame and then
    * appends deltas to it. Does NOT touch [[lastIvfIndexDir]] — the
    * x8-family oracles must keep pointing at the whole-corpus artifact.
    */
  private[graft] def buildIvfFrom(s: SparkSession, key: String,
      corpus: DataFrame, nlist: Int, seed: Long = 42L): String =
    ivfBuilt.computeIfAbsent(key, _ => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val e = corpus.withColumn("fv",
        array_to_vector(col("embedding").cast("array<double>")))
      val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(5)
        .setFeaturesCol("fv").setPredictionCol("cell")
        .fit(e)
      val out = java.nio.file.Files.createTempDirectory("graft-ivf").toString
      model.transform(e).drop("fv")
        .write.partitionBy("cell").parquet(s"$out/cells")
      val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
        (i, c.toArray)
      }.toIndexedSeq
      import s.implicits._
      centroids.toDF("cell", "centroid").coalesce(1)
        .write.parquet(s"$out/centroids")
      // probe-depth calibration rides the build (one linear scan), and
      // the result lives IN the artifact like the rest of the geometry
      val (np, recall, curve, nQueries) = calibrateNprobe(s, out, centroids)
      Dedup.logRoute(s"ivfCalibrate:$key",
        s"nprobe=$np of $nlist cells",
        f"recall@$IvfCalibK=$recall%.3f floor=$IvfRecallFloor " +
          f"fallbackRatio=${autoNprobe(nlist)}")
      Seq((nlist, np, recall, IvfRecallFloor, IvfCalibK, nQueries, curve))
        .toDF("nlist", "nprobe", "recall", "floor", "k", "n_queries",
          "recall_curve")
        .coalesce(1).write.parquet(s"$out/calib")
      out
    })

  /** Probe-only IVF top-k over a built index. `nlist = 0` (the default)
    * auto-sizes the index to ~⌈√n⌉ cells — see [[autoNlist]];
    * `nprobe = 0` probes the depth the ARTIFACT was calibrated to at
    * build time — see [[calibratedNprobe]].
    */
  def ivfTopK(s: SparkSession, dir: String, queryId: Long = 0L, k: Int = 20,
      nlist: Int = 0, nprobe: Int = 0): DataFrame = {
    val rl = resolveNlist(s, dir, nlist)
    val idx = ivfIndexDir(s, dir, rl)
    val np = if (nprobe > 0) nprobe else calibratedNprobe(s, idx)
    recordNprobe(idx, np)
    val q = emb(s, dir).filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))
    ivfProbe(s, idx, q, queryId, k, np)
  }

  /** The probe body over an ARTIFACT (r15 factoring — [[ivfTopK]] and
    * the delta-index query share it): rank the centroid table against
    * the query driver-side, scan only the np nearest cell partitions,
    * exact cosine re-rank inside.
    */
  private[graft] def ivfProbe(s: SparkSession, idx: String, q: DataFrame,
      queryId: Long, k: Int, np: Int): DataFrame = {
    val cellsPath = s"$idx/cells"
    val qEmb = q.head().getSeq[Float](0).map(_.toDouble).toArray
    // rank the nlist centroids driver-side (tiny) → nprobe nearest cells
    val cells = s.read.parquet(s"$idx/centroids").collect()
      .map { r =>
        val c = r.getSeq[Double](1)
        val d = c.zip(qEmb).map { case (a, b) => (a - b) * (a - b) }.sum
        (r.getInt(0), d)
      }
      .sortBy { case (cell, d) => (d, cell) }.take(np).map(_._1)
    s.read.option("basePath", cellsPath).parquet(cellsPath)
      .filter(col("cell").isin(cells.toIndexedSeq.map(Integer.valueOf): _*) &&
        col("vec_id") =!= queryId) // cell is the partition key → pruned scan
      .crossJoin(broadcast(q))
      .withColumn("cosine", cosineF(col("embedding"), col("q_embedding")))
      .orderBy(desc("cosine"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), col("cell"), col("cosine"))
  }

  // ---- incremental IVF maintenance (r15, VERDICT r14 item 2) --------------

  /** Result of one delta append: the re-measured calibration and
    * whether the frozen geometry has been outgrown.
    */
  final case class DeltaAppend(idx: String, added: Long,
      nprobeBefore: Int, nprobeAfter: Int, recall: Double,
      rebuildRecommended: Boolean)

  /** Incrementally extend a BUILT IVF artifact with a delta of
    * embeddings — the curateDelta discipline applied to the index
    * artifacts (VERDICT r14 item 2: a corpus that grows 1% used to
    * re-pay the full k-means build plus recalibration):
    *
    *   1. assign each delta vector to the FROZEN centroids (stateless
    *      argmin projection — the StreamIvfPq cell-assignment
    *      construction, deterministic (d², cell) tie-break, identical
    *      to what a one-shot assignment of the union would produce);
    *   2. APPEND the rows to the artifact's cell partitions (hive
    *      append — no existing file is rewritten; at 100 TB the delta
    *      write is O(delta), never O(corpus));
    *   3. re-measure the stored nprobe calibration on DELTA-INCLUSIVE
    *      probes (half smallest base ids, half smallest delta ids) and
    *      overwrite `calib`: the recall floor is re-checked against the
    *      grown corpus, the depth re-resolves if it slipped, and a
    *      `rebuild_recommended` flag is raised when even the frozen
    *      worst-case ratio ([[autoNprobe]]) cannot hold the floor —
    *      the signal that the frozen centroids no longer model the
    *      corpus and the scheduled full rebuild is due.
    *
    * The per-artifact nprobe memo is invalidated so subsequent probes
    * ride the re-measured depth. `delta` must carry
    * (vec_id, embedding, label) — the cells schema.
    */
  def ivfDeltaAppend(s: SparkSession, idx: String,
      delta: DataFrame): DeltaAppend = {
    val centroids = s.read.parquet(s"$idx/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toIndexedSeq
    val nlist = centroids.length
    val ctrs: Column = typedLit(centroids.map { case (c, a) =>
      (c, a.toSeq)
    })
    val qd = col("embedding").cast("array<double>")
    val ranked = array_sort(transform(ctrs, ct =>
      struct(
        aggregate(
          zip_with(qd, ct.getField("_2"), (x, c) => (x - c) * (x - c)),
          lit(0.0), (acc, v) => acc + v).as("d2"),
        ct.getField("_1").as("cell"))))
    // delta-inclusive probe ids for the post-append re-check (bounded
    // collects: ≤ IvfCalibQueries ids each); base ids read BEFORE the
    // append so no driver-side delta-exclusion set is ever needed
    val half = math.max(1, IvfCalibQueries / 2)
    val deltaIds = delta.select("vec_id").orderBy("vec_id")
      .limit(half).collect().map(_.getLong(0)).toSeq
    val baseIds = s.read.parquet(s"$idx/cells").select("vec_id")
      .orderBy("vec_id").limit(IvfCalibQueries - half)
      .collect().map(_.getLong(0)).toSeq
    val assigned = delta
      .select(col("vec_id"), col("embedding").cast("array<float>")
        .as("embedding"), col("label"))
      .withColumn("cell", element_at(ranked, 1).getField("cell"))
    assigned.write.partitionBy("cell").mode("append")
      .parquet(s"$idx/cells")
    val added = delta.count()
    val npBefore = calibratedNprobe(s, idx)
    val (np, recall, curve, nQueries) =
      calibrateNprobe(s, idx, centroids, Some(baseIds ++ deltaIds))
    import s.implicits._
    Seq((nlist, np, recall, IvfRecallFloor, IvfCalibK, nQueries, curve))
      .toDF("nlist", "nprobe", "recall", "floor", "k", "n_queries",
        "recall_curve")
      .coalesce(1).write.mode("overwrite").parquet(s"$idx/calib")
    calibNprobeByIdx.remove(idx): Unit
    val rebuild = np > autoNprobe(nlist)
    Dedup.logRoute(s"ivfDeltaAppend:$idx",
      s"appended $added rows, nprobe $npBefore -> $np of $nlist",
      f"recall@$IvfCalibK=$recall%.3f floor=$IvfRecallFloor " +
        s"rebuildRecommended=$rebuild")
    DeltaAppend(idx, added, npBefore, np, recall, rebuild)
  }

  /** The multi-probe bucket set: a row's own `bucket` plus its nPlanes
    * Hamming-1 neighbors. The ONE home for the probe construction —
    * knnJoin, annTopK, and the recall invariants (e3r, x4r) must stay in
    * lockstep, or an invariant would keep measuring a construction the
    * operator no longer uses.
    */
  /** Size the hyperplane count to the corpus so LSH candidate volume
    * stays ~linear in n. With p planes the table has 2^p buckets, the
    * average bucket holds n/2^p vectors, and the candidate join emits
    * ~nTables · n · (n/2^p) · (p+1) pairs (Hamming-1 probing visits p+1
    * buckets per source). A FIXED p therefore makes candidates grow
    * QUADRATICALLY with the corpus — measured: nPlanes=8 is 56M pairs
    * at 20k vectors (~10 s) but ~5.6B pairs at 200k vectors (fills
    * ~800 GB of shuffle scratch and dies on one node). Solving
    * n/2^p ≈ targetBucket gives p = ⌈log2(n / targetBucket)⌉ — bucket
    * occupancy, and with it per-source candidate work, stays constant
    * as the corpus scales; recall lost to the finer partition is
    * recovered by the OR-construction (more tables) and the Hamming-1
    * probes, exactly the levers [[knnJoin]] already stacks. Clamped to
    * [4, 24]: below 4 the buckets are degenerate, above 24 the bucket
    * key no longer gains selectivity against 64-dim embeddings.
    *
    * `nPlanes = 0` routes through this sizing and is the DEFAULT for
    * [[lshBucketsMulti]] / [[knnJoin]] / [[annTopK]] — since r12 the
    * e3/e3r/e3v gate queries themselves run the auto-sized geometry,
    * with the e3 oracle derived from the resolved count and the e3r
    * recall floor re-validated at that geometry (Round12Spec pins
    * sentinel ≡ explicit at the resolved count).
    */
  def autoPlanes(nVectors: Long, targetBucket: Int = 32): Int = {
    require(targetBucket > 0, "targetBucket must be positive")
    val p = math.ceil(math.log(math.max(1L, nVectors).toDouble /
      targetBucket) / math.log(2.0)).toInt
    math.min(24, math.max(4, p))
  }

  /** Hyperplanes of LSH table `t`: `nPlanes` seeded-Gaussian float
    * vectors. The single generation point shared by [[lshBucketsMulti]]
    * and the SparkEntry oracle generators (which embed these exact
    * floats as literals) — one code path, so engine and oracle cannot
    * drift.
    */
  def tablePlanes(t: Int, nPlanes: Int, dim: Int,
      seed: Long = 42L): Seq[Array[Float]] = {
    val rnd = new scala.util.Random(seed + 1000L * t)
    Seq.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian().toFloat))
  }

  private def probeBuckets(nPlanes: Int) = array(
    (Seq(col("bucket")) ++ (0 until nPlanes).map(i =>
      col("bucket").bitwiseXOR(lit(1L << i)))): _*)

  /** Multi-table LSH signatures — the classic OR-construction for recall
    * amplification (Indyk–Motwani; Charikar hyperplanes per table): each
    * of `nTables` independent plane sets hashes every vector to one
    * bucket; a close pair is a candidate if it collides in ANY table.
    * Emits one row per (vector, table): key = (table_id, bucket). At
    * 100 TB this is the standard layout — the table_id/bucket pair is a
    * cluster key and candidate generation stays an equi-join.
    */
  def lshBucketsMulti(s: SparkSession, dir: String, nPlanes: Int = 8,
      nTables: Int = 4, seed: Long = 42L): DataFrame = {
    // nPlanes = 0 → auto-size from the corpus count (one metadata-only
    // parquet count; see autoPlanes for why fixed counts die at scale)
    val planes = if (nPlanes > 0) nPlanes
      else autoPlanes(emb(s, dir).count())
    val dim = 64 // embeddings fixture dim (TESTDATA.md)
    // Fail loudly on fixture-schema drift: the hyperplanes are length-64,
    // and Vec.dot runs over min(len) — a shorter/longer embedding would
    // silently produce degenerate buckets (recall collapse), the worst
    // failure mode for an index. Per-row guard stays in codegen.
    val dimGuard = when(size(col("embedding")) === dim, col("embedding"))
      .otherwise(raise_error(concat(
        lit(s"lshBucketsMulti: expected $dim-dim embedding, got "),
        size(col("embedding")).cast("string"),
        lit(" for vec_id="), col("vec_id").cast("string"))))
    val tableBuckets = (0 until nTables).map { t =>
      val sigBits = tablePlanes(t, planes, dim, seed)
        .zipWithIndex.map { case (p, i) =>
          when(dotF(col("embedding"),
            array(p.toIndexedSeq.map(x => lit(x)): _*).cast("array<float>")) >= 0,
            lit(1L << i)).otherwise(lit(0L))
        }
      struct(lit(t).as("table_id"), sigBits.reduce(_ + _).as("bucket"))
    }
    emb(s, dir)
      .withColumn("embedding", dimGuard)
      .withColumn("tb", explode(array(tableBuckets: _*)))
      .select(col("vec_id"), col("label"), col("embedding"),
        col("tb.table_id").as("table_id"), col("tb.bucket").as("bucket"))
  }

  /** kNN JOIN: top-k neighbors for EVERY vector — the batch shape behind
    * near-dup clustering and diversity scoring (single-query probes like
    * [[annTopK]] serve lookups; corpus curation needs all rows at once).
    * Candidates are same-(table, bucket) pairs over [[lshBucketsMulti]] —
    * always an equi-join carrying only (table_id, bucket, id); the two
    * embeddings attach to the deduped pair set afterwards (late
    * materialization), never a cross product. Two stacked recall levers (VERDICT r5
    * item 2), both ON by default:
    *  - `nTables` independent hash tables (OR-construction): a pair is a
    *    candidate if it collides in ANY table — candidates ×nTables;
    *  - `hamming1Probes`: each source also probes the nPlanes Hamming-1
    *    buckets per table — candidates ×(nPlanes+1).
    * Measured recall@3 vs brute force on the (worst-case, near-random)
    * fixture embeddings: 0.12 with 1 table+probes → ~0.4 with 4
    * tables+probes; [[knnRecallViolations]] pins the floor. A (src, nb)
    * pair can collide in several tables/probes, so candidates are
    * deduped on (src_id, nb_id) before ranking; ranking is the
    * bounded-heap [[graft.plans.TopKPerGroup]] operator — no WindowExec
    * sort, k rows of state per vector.
    */
  /** knnJoin's output as a session-free parquet artifact, built once per
    * (corpus, k, nPlanes) — the dedup-pipeline sharing pattern: e3 runs
    * the join fresh (it IS the operator), while its verifiers e3v/e3r
    * consume the artifact. That is also the semantically right object
    * for a verifier: it checks the result the gate records, not a
    * second independent execution of the same plan.
    */
  def knnJoinArtifact(s: SparkSession, dir: String, k: Int = 3,
      nPlanes: Int = 0): DataFrame = {
    // resolve the auto sentinels BEFORE keying, so the operator (e3) and
    // its verifiers (e3r/e3v) share one artifact regardless of which
    // spelled the plane/table counts out
    val planes = resolveKnnPlanes(s, dir, nPlanes)
    val tables = resolveKnnTables(s, dir, 0)
    ArtifactCache.frame(s, s"knn|$dir|$k|$planes|$tables")(
      knnJoin(s, dir, k, planes, nTables = tables))
  }

  /** nPlanes = 0 → auto-size to the corpus (see [[autoPlanes]]) — the
    * DEFAULT since r12: a fixed plane count makes kNN-join candidates
    * quadratic in the corpus (the measured sf10 death: 8 planes over
    * 200k vectors ≈ 5.6B pairs), so the survival shape must be what a
    * caller gets without knowing the knob exists (the d3/graph auto-
    * routing principle). Auto resolutions are memoized PER CORPUS DIR
    * (ADVICE r12: a single last-used global could be clobbered by a
    * knnJoin against a different corpus, or an explicit-nPlanes call,
    * between e3's execution and the oracle dump — the per-dir map only
    * ever holds the deterministic count-derived value for each corpus,
    * so no interleaving can corrupt the e3 oracle's plane count).
    */
  private[graft] def resolveKnnPlanes(s: SparkSession, dir: String,
      nPlanes: Int): Int =
    if (nPlanes > 0) nPlanes
    else autoKnnPlanesByDir.computeIfAbsent(dir,
      _ => Integer.valueOf(autoPlanes(embStats(s, dir)._1))).intValue()

  private val autoKnnPlanesByDir =
    CorpusMemos.register(
      new java.util.concurrent.ConcurrentHashMap[String, Integer]())

  /** (row count, max embedding dim) per corpus dir, computed once per
    * JVM (the Dedup memoized-routing-statistics pattern — unmemoized,
    * every auto-routed call would pay a corpus scan). Feeds both the
    * plane auto-sizing and the attach-join router below.
    */
  private[graft] def embStats(s: SparkSession, dir: String): (Long, Int) =
    embStatsByDir.computeIfAbsent(dir, _ => {
      val r = emb(s, dir).agg(count(lit(1)),
        max(size(col("embedding")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0 else r.getInt(1))
    })

  private val embStatsByDir =
    CorpusMemos.register(
      new java.util.concurrent.ConcurrentHashMap[String, (Long, Int)]())

  /** Broadcast wall for the kNN-join embedding re-attach: below it the
    * whole vector table ships to every executor ONCE (~60 MB at sf10)
    * and the deduped pair stream never re-shuffles; above it the
    * re-attach falls back to the two id-keyed shuffle joins. The sf10
    * decomposition (tools/E3Decomp, last at commit dd46e98) measured
    * the shuffle re-attach at
    * 495 s of e3's 476 s total — 379M pair rows carrying two 256-byte
    * embeddings through two exchanges (~100 GB) to feed ~80 s of
    * cosine math — while the table behind all of it was 61 MB.
    */
  val AttachBroadcastBytesMax: Long = 256L * 1024 * 1024

  /** Every corpus-dir → auto-resolved plane count this JVM has computed —
    * consumed by the SparkEntry e3 oracle, which emits its SQL only when
    * the resolutions are unambiguous (exactly one distinct count). The
    * values are pure functions of each corpus's row count, so explicit-
    * plane calls and foreign corpora can never alias into this map.
    */
  def autoResolvedKnnPlanes: Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    autoKnnPlanesByDir.asScala.map { case (k, v) => k -> v.intValue() }.toMap
  }

  // ---- OR-depth (table count) calibration (r14) ---------------------------

  /** Table-count clamp bounds: 4 keeps the gate-scale candidate volume
    * at its historical e3 cost; 16 caps the linear-in-T candidate work
    * at 4× e3's r13 sf10 run — past it, the corpus has outgrown
    * hyperplane LSH and the log line says so.
    */
  val MinKnnTables = 4
  val MaxKnnTables = 16

  /** Reachability floor the table calibration targets: mean
    * candidate-reachability@10 over 10 held-out probes. 0.6 sits above
    * both shipped operator floors (x4r 0.35@20, e3r 0.30@3 corpus-wide)
    * with margin for the sample→population gap.
    */
  val KnnTablesRecallFloor = 0.6

  private val autoKnnTablesByDir =
    CorpusMemos.register(
      new java.util.concurrent.ConcurrentHashMap[String, Integer]())

  /** Per-dir resolved table counts (the autoResolvedKnnPlanes pattern) —
    * consumed by the derived e3/x4 oracles, which must replay the SAME
    * OR-depth.
    */
  def autoResolvedKnnTables: Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    autoKnnTablesByDir.asScala.map { case (k, v) => k -> v.intValue() }.toMap
  }

  def resolveKnnTables(s: SparkSession, dir: String, nTables: Int): Int =
    if (nTables > 0) nTables
    else autoKnnTablesByDir.computeIfAbsent(dir,
      _ => Integer.valueOf(calibrateKnnTables(s, dir)._1)).intValue()

  /** OR-depth calibration (r14 — the auto-planes/auto-nprobe discipline
    * applied to the LAST fixed constant in the ANN family): auto-planes
    * keeps bucket occupancy constant as the corpus grows, but a FIXED
    * table count then lets recall decay — per-table collision
    * probability falls geometrically with the plane count, and the r14
    * sf10 probe measured exactly that (x4r and e3r both under their
    * floors at 13 planes × their historical 8/4 tables, where the gate
    * fixtures pass). The OR-construction count is the textbook recall
    * lever (Indyk–Motwani: tables amplify (1-q^p) → 1-(1-q^p)^T), so it
    * must GROW with the plane count — measured, not guessed.
    *
    * One exact scan (10 probes × corpus, broadcast side, bounded-heap
    * top-10) gives the true neighbors; their signatures for
    * [[MaxKnnTables]] tables come from [[lshBucketsMulti]] ITSELF
    * restricted to the ≤110 involved rows (vec_id IN pushed to the
    * scan) — the engine's own bit convention, no driver replica to
    * drift. A pair is reachable at table t iff the neighbor's bucket
    * sits in the source's probe set (own bucket + Hamming-1 flips —
    * the knnJoin construction); the recall-vs-T curve is the prefix-any
    * over ≤ 100 pairs, computed driver-side. Smallest T meeting
    * [[KnnTablesRecallFloor]] wins, clamped to
    * [[MinKnnTables]]..[[MaxKnnTables]]; an unreachable floor logs and
    * pins the max. Memoized per corpus dir.
    */
  private[graft] def calibrateKnnTables(s: SparkSession, dir: String)
      : (Int, IndexedSeq[Double]) = {
    val planes = resolveKnnPlanes(s, dir, 0)
    val e = emb(s, dir)
    val qs = e.orderBy("vec_id").limit(IvfCalibQueries)
      .select(col("vec_id").as("src_id"), col("embedding").as("q_emb"))
    val exactCand = e.select(col("vec_id").as("nb_id"), col("embedding"))
      .join(broadcast(qs), col("nb_id") =!= col("src_id"))
      .select(col("src_id"), col("nb_id"),
        cosineF(col("embedding"), col("q_emb")).as("cosine"))
    val pairs = graft.plans.TopKPerGroup.topK(exactCand, Seq("src_id"),
      "cosine", IvfCalibK, desc = true, tiebreakCols = Seq("nb_id"))
      .select("src_id", "nb_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toIndexedSeq
    if (pairs.isEmpty)
      return (MinKnnTables, IndexedSeq.fill(MaxKnnTables)(1.0))
    val involved = (pairs.map(_._1) ++ pairs.map(_._2)).distinct
    val sigs = lshBucketsMulti(s, dir, planes, MaxKnnTables)
      .filter(col("vec_id")
        .isin(involved.map(java.lang.Long.valueOf): _*))
      .select("vec_id", "table_id", "bucket").collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
    def foundAt(q: Long, nb: Long, t: Int): Boolean = {
      val bq = sigs((q, t))
      val bn = sigs((nb, t))
      bq == bn || (0 until planes).exists(i => (bq ^ (1L << i)) == bn)
    }
    val curve = (1 to MaxKnnTables).map { tmax =>
      pairs.count { case (q, nb) =>
        (0 until tmax).exists(t => foundAt(q, nb, t))
      }.toDouble / pairs.length
    }.toIndexedSeq
    val hit = curve.indexWhere(_ >= KnnTablesRecallFloor)
    val chosen = math.min(MaxKnnTables,
      math.max(MinKnnTables, if (hit < 0) MaxKnnTables else hit + 1))
    Dedup.logRoute(s"knnTables:$dir",
      if (hit < 0) s"nTables=$chosen (floor UNREACHABLE at max — " +
        "hyperplane LSH outgrown on this corpus)"
      else s"nTables=$chosen of max $MaxKnnTables",
      f"reach@$IvfCalibK=${curve(chosen - 1)}%.3f " +
        f"floor=$KnnTablesRecallFloor planes=$planes")
    (chosen, curve)
  }

  def knnJoin(s: SparkSession, dir: String, k: Int = 3,
      nPlanes: Int = 0, hamming1Probes: Boolean = true,
      nTables: Int = 0): DataFrame = {
    val planes = resolveKnnPlanes(s, dir, nPlanes)
    // LATE MATERIALIZATION (r10 session 3, A/B-proven in tools/E3Probe,
    // last at commit dd46e98; Round10Session3Spec pins the equality):
    // the candidate join shuffles IDs only. The old shape carried the
    // 256-byte embedding on both sides of the (table_id, bucket)
    // exchange — ×nTables on the build side and ×nTables·(nPlanes+1)
    // Hamming-1 probes on the stream side, so every vector's floats
    // crossed the wire ~36+4 times. Now each embedding crosses an
    // exchange O(1) times via two narrow id-keyed joins against the
    // DEDUPED pair set, and the distinct itself runs on 16-byte pairs
    // instead of (pair, double) rows. Output is bit-identical (cosine
    // is a deterministic function of the pair) PROVIDED vec_id is
    // unique in embeddings.parquet (the table's primary key per
    // TESTDATA.md): a duplicated vec_id would fan the deduped pair
    // back out through the re-attach joins and could fill top-k slots
    // with the same neighbor twice, where the old embedding-carrying
    // shape deduped after scoring.
    val tables = resolveKnnTables(s, dir, nTables)
    val b = lshBucketsMulti(s, dir, planes, tables)
      .select("vec_id", "table_id", "bucket")
    val l0 = b.select(col("vec_id").as("src_id"), col("table_id"),
      col("bucket"))
    val l = if (!hamming1Probes) l0
      else b.select(col("vec_id").as("src_id"), col("table_id"),
        explode(probeBuckets(planes)).as("bucket"))
    val r = b.select(col("vec_id").as("nb_id"), col("table_id"),
      col("bucket"))
    // Hot buckets (a templated-content corpus hashing to one signature)
    // are capped via the skew-safe join — no single quadratic task.
    val rawPairs = SkewSafe.cappedEquiJoin(l, r, Seq("table_id", "bucket"),
        xxhash64(col("nb_id")), cap = 1024)
      .filter(col("src_id") =!= col("nb_id"))
      .select("src_id", "nb_id")
    // norms computed once per ROW in the re-attach projections, not per
    // candidate pair (bit-identical — see cosinePreF): on a dup-heavy
    // corpus the deduped pair set is far larger than n, so the per-pair
    // norm recompute dominated the verify stage's FLOPs.
    val e = emb(s, dir).select(col("vec_id"), col("embedding"),
      normF(col("embedding")).as("nrm"))
    val eSrc = e.select(col("vec_id").as("src_id"),
      col("embedding").as("src_emb"), col("nrm").as("src_nrm"))
    val eNb = e.select(col("vec_id").as("nb_id"),
      col("embedding").as("nb_emb"), col("nrm").as("nb_nrm"))
    // Re-attach router: the pair set is O(candidates) while the vector
    // table is O(n) — when the table fits a broadcast, shipping it once
    // beats re-shuffling every pair row with two embedding payloads
    // (sf10: 61 MB table vs ~100 GB of pair exchange — tools/E3Decomp,
    // last at commit dd46e98, measured the shuffle re-attach at 495 s of
    // e3's 476 s total).
    // Join method can't change the result (equi-join on a unique key);
    // above the wall the id-keyed shuffle joins remain the 100 TB shape.
    val (nVec, dim) = embStats(s, dir)
    val attachBytes = nVec * (4L * dim + 48L)
    val broadcastAttach = attachBytes <= AttachBroadcastBytesMax
    if (broadcastAttach) {
      // r16 (VERDICT r15 item 3 — cut e3's candidate volume at the
      // exchange): when the vector table fits the broadcast wall, the
      // candidate MULTISET is scored AT GENERATION through the two
      // broadcast attaches and the cross-table multiplicity (a pair
      // recurs once per LSH table that collides it — ×16 at the
      // calibrated sf10 OR-depth) folds inside the dedup-aware bounded
      // top-k. The pair `distinct` — the largest e3 shuffle at sf10
      // (E3Decomp, last at commit dd46e98: the 16-byte pair exchange
      // carries the full raw
      // multiset) — disappears; a duplicate now costs one repeated
      // cosine against broadcast-resident vectors instead of a trip
      // through the exchange. Output-identical: cosine is a
      // deterministic function of the pair, so top-k-distinct over the
      // multiset equals top-k over the deduped set (R16OptSpec pins it,
      // TopKDistinctSpec pins the operator fold; the e3 oracle is
      // unchanged). Above the wall the id-keyed shuffle attach still
      // requires the dedup first — unchanged, the 100 TB shape.
      Dedup.logRoute("knnJoin", "broadcast attach + generation-time score",
        f"attachBytes=$attachBytes%.3g max=$AttachBroadcastBytesMax")
      val cand = rawPairs
        .join(broadcast(eSrc), Seq("src_id"))
        .join(broadcast(eNb), Seq("nb_id"))
        .select(col("src_id"), col("nb_id"),
          cosinePreF(col("src_emb"), col("src_nrm"),
            col("nb_emb"), col("nb_nrm")).as("cosine"))
      graft.plans.TopKPerGroup.topK(cand, Seq("src_id"), "cosine", k,
        desc = true, tiebreakCols = Seq("nb_id"), distinctRows = true)
    } else {
      val cand = rawPairs.distinct()
        .join(eSrc, Seq("src_id")).join(eNb, Seq("nb_id"))
        .select(col("src_id"), col("nb_id"),
          cosinePreF(col("src_emb"), col("src_nrm"),
            col("nb_emb"), col("nb_nrm")).as("cosine"))
      graft.plans.TopKPerGroup.topK(cand, Seq("src_id"), "cosine", k,
        desc = true, tiebreakCols = Seq("nb_id"))
    }
  }

  /** e3 invariant (recall direction, VERDICT r5 item 2): aggregate
    * recall@k of the LSH kNN join against the EXACT top-k (recomputed by
    * an evenly-blocked all-ordered-pairs join — ground truth, so the
    * quadratic work is deliberate; this query belongs to the invariant
    * set that bench-at-scale excludes). Sources the ANN join never emits
    * (singleton buckets even after probing) count as misses — this is
    * the honest corpus-level recall. Emits one row iff recall < `floor`;
    * oracle: the empty relation.
    *
    * Tie-break note: both sides rank by (cosine desc, nb_id), so equal-
    * cosine ties resolve identically and don't inflate the miss count.
    */
  def knnRecallViolations(s: SparkSession, dir: String, k: Int = 3,
      nPlanes: Int = 0, floor: Double = 0.30, blocks: Int = 8): DataFrame = {
    import s.implicits._
    val ann = knnJoinArtifact(s, dir, k, nPlanes)
      .select(col("src_id"), col("nb_id")).withColumn("hit", lit(1L))
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", normF(col("embedding")))
      .withColumn("blk", pmod(xxhash64(col("vec_id")), lit(blocks)).cast("int"))
    val blockPairs = (for { i <- 0 until blocks; j <- 0 until blocks }
      yield (i, j)).toDF("bi", "bj")
    val l = e.alias("l")
    val r = e.alias("r")
    // r15: the r side used to attach by `bj === r.blk` alone — a join
    // key with only `blocks` distinct values, so the Θ(n²) scoring ran
    // on ≤ 8 tasks of a 32-core box (guide §2.5, synthetic keys with
    // too few distinct values). Both sides now replicate through the
    // broadcast block table and join on the (bi, bj) PAIR — blocks²
    // distinct keys — the cosineNearDupPairsBlocked tiling. Exact at
    // any B (B only tiles the ordered-pair space); rows identical.
    val re = r.join(broadcast(blockPairs), col("r.blk") === col("bj"))
      .select(col("bi").as("rbi"), col("bj").as("rbj"),
        col("r.vec_id").as("r_vec_id"),
        col("r.embedding").as("r_embedding"), col("r.nrm").as("r_nrm"))
    val cand = l.join(broadcast(blockPairs), col("l.blk") === col("bi"))
      .join(re, col("bi") === col("rbi") && col("bj") === col("rbj"))
      .filter(col("l.vec_id") =!= col("r_vec_id"))
      .select(col("l.vec_id").as("src_id"), col("r_vec_id").as("nb_id"),
        cosinePreF(col("l.embedding"), col("l.nrm"),
          col("r_embedding"), col("r_nrm")).as("cosine"))
    val exact = graft.plans.TopKPerGroup.topK(cand, Seq("src_id"), "cosine",
      k, desc = true, tiebreakCols = Seq("nb_id"))
    exact.select("src_id", "nb_id")
      .join(ann, Seq("src_id", "nb_id"), "left")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"),
        count(lit(1)).as("total"))
      // total == 0 (empty exact side) must fail loudly, not vacuously pass
      .filter(col("total") === 0 ||
        col("hits").cast("double") / col("total") < floor)
      .select(lit("recall_at_k").as("metric"),
        (col("hits").cast("double") / col("total")).as("recall"))
  }

  /** x4 invariant (recall direction): recall@k of the multi-table LSH
    * ANN probe vs exact brute-force top-k, pooled over the first
    * `nQueries` vectors — a single query's recall swings with its bucket
    * luck (measured 0.3–0.5 per query at 8 tables), the 10-query pool is
    * stable. Pooled hits/total EQUALS the per-query mean here: every
    * query contributes exactly k exact rows (n ≫ k on every fixture).
    * Both sides rank by (cosine desc, vec_id) so boundary ties resolve
    * identically; the probe uses the same [[probeBuckets]] construction
    * as [[annTopK]]. Emits one row iff recall < `floor` — or iff the
    * exact side is EMPTY (a fixture without vec_ids below nQueries must
    * fail loudly, not pass vacuously). Oracle: the empty relation.
    */
  def annRecallViolations(s: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 20, nPlanes: Int = 0, nTables: Int = 0,
      floor: Double = 0.35): DataFrame = {
    // the 0-sentinels → corpus-resolved counts (see annTopK /
    // resolveKnnTables) so the invariant keeps measuring the geometry
    // the operator actually runs
    val planes = resolveKnnPlanes(s, dir, nPlanes)
    val tables = resolveKnnTables(s, dir, nTables)
    val e = emb(s, dir)
    // exact side: nQueries × n scored pairs, bounded-heap top-k per query
    val qs = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("src_id"), col("embedding").as("q_emb"))
    val exactCand = e.select(col("vec_id").as("nb_id"), col("embedding"))
      .join(broadcast(qs), col("nb_id") =!= col("src_id"))
      .select(col("src_id"), col("nb_id"),
        cosineF(col("embedding"), col("q_emb")).as("cosine"))
    val exact = graft.plans.TopKPerGroup.topK(exactCand, Seq("src_id"),
      "cosine", k, desc = true, tiebreakCols = Seq("nb_id"))
    // ANN side: annTopK's probe shape, restricted to the nQueries sources
    val b = lshBucketsMulti(s, dir, planes, tables)
    val probes = b.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("src_id"), col("embedding").as("q_emb"),
        col("table_id"),
        explode(probeBuckets(planes)).as("bucket"))
    val annCand = probes
      .join(b.select(col("vec_id").as("nb_id"),
        col("embedding").as("nb_emb"), col("table_id"), col("bucket")),
        Seq("table_id", "bucket"))
      .filter(col("src_id") =!= col("nb_id"))
      .select(col("src_id"), col("nb_id"),
        cosineF(col("q_emb"), col("nb_emb")).as("cosine"))
      .distinct()
    val ann = graft.plans.TopKPerGroup.topK(annCand, Seq("src_id"),
      "cosine", k, desc = true, tiebreakCols = Seq("nb_id"))
      .select(col("src_id"), col("nb_id")).withColumn("hit", lit(1L))
    exact.select("src_id", "nb_id")
      .join(ann, Seq("src_id", "nb_id"), "left")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"),
        count(lit(1)).as("total"))
      // total == 0 (empty exact side) must fail loudly, not vacuously pass
      .filter(col("total") === 0 ||
        col("hits").cast("double") / col("total") < floor)
      .select(lit("ann_pooled_recall_at_k").as("metric"),
        (col("hits").cast("double") / col("total")).as("recall"))
  }

  /** ANN top-k via LSH: score only vectors sharing a (table, bucket) key
    * with the query — `nTables` independent hyperplane tables
    * (OR-construction, same recall amplification as [[knnJoin]]) plus
    * the Hamming-1 neighbor buckets per table — then exact cosine
    * re-rank. Measured recall@20 for the fixture query: 0.0–0.2 with one
    * table → 0.45–0.75 with 4 tables (x4r pins the floor). At 100 TB:
    * (table_id, bucket) is a partition/cluster key → the scan prunes to
    * nTables×(nPlanes+1) buckets instead of the full corpus.
    *
    * `nPlanes = 0` (the DEFAULT since r13) auto-sizes to the corpus via
    * [[autoPlanes]]: at a fixed plane count the query's bucket holds
    * n/2^p of the corpus, so per-query candidate work grows LINEARLY
    * with the corpus — the single-query front door has to ride the same
    * sizing as [[knnJoin]] or it quietly degrades into a near-full scan
    * at 100×. The resolved count feeds the derived x4 oracle through
    * the same per-dir map e3 uses.
    */
  def annTopK(s: SparkSession, dir: String, queryId: Long = 0L, k: Int = 20,
      nPlanes: Int = 0, nTables: Int = 0): DataFrame = {
    val planes = resolveKnnPlanes(s, dir, nPlanes)
    val b = lshBucketsMulti(s, dir, planes,
      resolveKnnTables(s, dir, nTables))
    val q = b.filter(col("vec_id") === queryId)
      .select(col("table_id"), col("embedding").as("q_embedding"),
        probeBuckets(planes).as("cand_buckets"))
    b.filter(col("vec_id") =!= queryId)
      .join(broadcast(q), Seq("table_id"))
      .filter(array_contains(col("cand_buckets"), col("bucket")))
      .select(col("vec_id"), col("label"),
        cosineF(col("embedding"), col("q_embedding")).as("cosine"))
      .dropDuplicates("vec_id") // a candidate can collide in several tables
      .orderBy(desc("cosine"), col("vec_id"))
      .limit(k)
  }

  /** Hybrid retrieval: Reciprocal Rank Fusion (Cormack et al., SIGIR
    * 2009) of a lexical BM25 list and a semantic cosine list — the
    * standard two-tower fusion behind RAG retrieval and search-based
    * corpus audits. Each list contributes 1/(rrfK + rank) for its top
    * `n`; docs appearing in only one list get the other term as 0. The
    * doc↔embedding correspondence is the corpus convention doc_id ≡
    * vec_id (the CuratePipeline linkage).
    *
    * Oracle-exactness: ranks are integers (row_number over the rounded
    * r6 scores with id tie-breaks — the rounded keys make the rank
    * total-ordered identically on both engines), and each RRF term is
    * the truncating integer division 1e9 div (rrfK + rank), summed as
    * BIGINT — order-independent, no float anywhere in the fusion.
    *
    * Plan shape at 100 TB: both source lists end in
    * TakeOrderedAndProject (bm25TopK filters query terms inside the
    * token array before explode; cosineTopK is a broadcast-query scan),
    * so the fusion's full-outer join sees 2×n rows total — driver-scale
    * regardless of corpus size. Swap cosineTopK for [[annTopK]]/IVF to
    * make the semantic leg sub-linear; the fusion is unchanged.
    */
  def hybridRrfTopK(s: SparkSession, dir: String, terms: Seq[String],
      queryId: Long = 0L, n: Int = 100, k: Int = 20,
      rrfK: Int = 60): DataFrame = {
    val lex = graft.ext.TextAnalysis.bm25TopK(s, dir, terms, k = n)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("bm25_r6").desc, col("doc_id"))))
      .select(col("doc_id"), col("lex_rank"))
    val sem = cosineTopK(s, dir, queryId, n)
      .withColumn("sem_rank", row_number().over(
        Window.orderBy(col("cosine_r6").desc, col("vec_id"))))
      .select(col("vec_id").as("doc_id"), col("sem_rank"))
    val rrfTerm = (rank: String) => coalesce(
      expr(s"CAST(1000000000 AS BIGINT) div (CAST($rrfK AS BIGINT) + $rank)"),
      lit(0L))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (rrfTerm("lex_rank") + rrfTerm("sem_rank")).as("rrf_nano"))
      .orderBy(col("rrf_nano").desc, col("doc_id"))
      .limit(k)
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998): greedily pick `k` of the top-`n` cosine candidates,
    * each step maximizing wRel·relevance − wDiv·(max similarity to the
    * already-picked set) — the diversity-aware final stage of a
    * retrieval pipeline (RAG context selection, dedup'd search pages).
    * λ = wRel/(wRel+wDiv); the default 7/3 split is λ = 0.7.
    *
    * Determinism: relevance and pairwise similarity are floor-rounded
    * to integer micro-units up front, so every greedy comparison is
    * pure BIGINT arithmetic (7·rel − 3·maxSim), ties to the smallest
    * doc_id — the unrolled rounds replay exactly in a recursive SQL
    * CTE, no float anywhere in the selection.
    *
    * Plan shape at 100 TB: only the candidate generation touches the
    * corpus (broadcast-query scan + TakeOrderedAndProject, the e1
    * shape). Everything after runs on two checkpointed frames bounded
    * by construction (n rows, n·(n−1) pairs — n is a page size, not a
    * corpus size); each of the k rounds is one tiny keyed aggregate,
    * checkpointed so the loop's plan stays flat (the d4 pattern).
    */
  def mmrTopK(s: SparkSession, dir: String, queryId: Long = 0L,
      n: Int = 50, k: Int = 10, wRel: Int = 7, wDiv: Int = 3): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))
    val cands = e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cosraw", cosineF(col("embedding"), col("q_embedding")))
      .orderBy(desc("cosraw"), col("vec_id"))
      .limit(n)
      .select(col("vec_id").as("doc_id"), col("embedding"),
        floor(col("cosraw") * lit(1000000.0) + lit(0.5)).cast("long")
          .as("rel_micro"))
      .localCheckpoint(true)
    val pairs = cands.select(col("doc_id").as("a"), col("embedding").as("ea"))
      .join(cands.select(col("doc_id").as("b"), col("embedding").as("eb")),
        col("a") =!= col("b"))
      .select(col("a"), col("b"),
        floor(cosineF(col("ea"), col("eb")) * lit(1000000.0) + lit(0.5))
          .cast("long").as("sim_micro"))
    // r15: the k greedy rounds used to run as k tiny Spark jobs with a
    // localCheckpoint each (~2 jobs/round of scheduler latency over
    // ≤ n·(n−1) rows). Both inputs are BOUNDED BY CONSTRUCTION — n is a
    // page size (50), pairs n·(n−1) (2 450) — so the selection loop runs
    // driver-side over the two collected tables instead: same
    // engine-computed rel/sim micros (cosineF floors untouched), same
    // pure-BIGINT argmax (7·rel − 3·maxSim, ties to the smallest
    // doc_id), bit-identical rows (R15OptSpec pins vs the unrolled SQL
    // CTE oracle at sf0.001/sf0.01). 2 bounded collects replace ~2k
    // driver jobs; the recursive-CTE oracle is unchanged.
    val relRows = cands.select(col("doc_id"), col("rel_micro")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val simRows = pairs.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    Dedup.unpersistCheckpoint(cands)
    val relMap = relRows.toMap
    val candIds = relRows.map(_._1).sorted
    val selected = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val chosen = scala.collection.mutable.Set[Long]()
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      val remaining = candIds.filterNot(chosen)
      if (remaining.isEmpty) exhausted = true
      else {
        // argmax of mmr_micro, ties to the SMALLEST doc_id — candIds is
        // ascending, so maxBy keeps the first (smallest) on ties only if
        // strict improvement is required; fold explicitly to be exact.
        var bestDoc = -1L
        var bestMmr = Long.MinValue
        remaining.foreach { d =>
          // max over the sims that EXIST, 0 when none do — the exact
          // coalesce(max(sim), 0) semantics of the pre-r15 DataFrame
          // loop (ADVICE r15: a Long.MinValue missing-pair sentinel
          // would overflow the subtraction and invert the selection if
          // a pair ever went missing; today the pair map is complete,
          // so behavior is unchanged)
          var ms = Long.MinValue
          selected.foreach { case (_, b) =>
            simRows.get((d, b)).foreach(v => if (v > ms) ms = v)
          }
          val mmr = wRel.toLong * relMap(d) -
            wDiv.toLong * (if (ms == Long.MinValue) 0L else ms)
          if (mmr > bestMmr) { bestMmr = mmr; bestDoc = d }
        }
        selected += ((r.toLong, bestDoc))
        chosen += bestDoc
        r += 1
      }
    }
    import s.implicits._
    selected.toSeq.toDF("rank", "doc_id")
  }
}
