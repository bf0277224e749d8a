package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Expressions.cosineF

/** Product quantization (Jégou et al. 2011, "Product quantization for
  * nearest neighbor search" — the IVF-PQ backbone of every modern
  * billion-vector ANN stack): split the d-dim embedding into `m`
  * subspaces, k-means each subspace to `ksub` centroids, store each
  * vector as m small codes (here 8 × 16 codes = 8 bytes per 64-dim
  * float vector — a 32× compression). Queries run ADC (asymmetric
  * distance computation): the query stays exact, per-subspace distances
  * to the 16 centroids are precomputed driver-side (a 128-double
  * table), and each database vector's approximate distance is m table
  * lookups — no float vector is ever read at query time.
  *
  * OFFLINE BUILD / ONLINE QUERY split like [[Similarity]]'s IVF and
  * [[Clustering]]: the codebook fit + encoding is a scheduled job
  * (memoized per (dir, m, ksub) in this JVM); queries read the code
  * table only. At 100 TB the code table is the thing that fits in
  * memory/fast storage (8 bytes/vector vs 256), which is the entire
  * point of PQ.
  *
  * Encoding is a PURE PROJECTION (no shuffle): per subspace the 16
  * centroids fold into a least() over (distance, code) structs —
  * lexicographic struct ordering is argmin with deterministic
  * tie-break on code — exactly the stateless-assignment idiom of
  * [[graft.stream.StreamSemDedup]].
  */
object ProductQuant {

  val M = 8      // subspaces over the 64-dim fixture → 8 dims each
  val KSub = 16  // centroids per subspace → 4-bit codes

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  private case class Built(path: String, dsub: Int)

  private val built =
    CorpusMemos.register(
      new java.util.concurrent.ConcurrentHashMap[String, Built]())

  /** Most recent artifact (Verify runs one sf dir per JVM); lets
    * [[graft.SparkEntry.oracleSql]] emit a DuckDB oracle that re-derives
    * the argmin codes from the codebook parquet this JVM wrote.
    */
  @volatile private var lastBuilt: Built = null

  /** argmin over (d2, code) for one subspace's centroid list, as a
    * least() fold; `sub` is the 1-BASED slice start of the subspace.
    */
  private def codeCol(subStart: Int, dsub: Int,
      centroids: Seq[(Int, Array[Double])]): Column = {
    val slice = expr(
      s"transform(slice(embedding, $subStart, $dsub), x -> CAST(x AS DOUBLE))")
    val cands = centroids.map { case (code, c) =>
      val cLit = array(c.toIndexedSeq.map(lit): _*)
      val d2 = aggregate(
        zip_with(slice, cLit, (x, cc) => (x - cc) * (x - cc)),
        lit(0.0), (acc, v) => acc + v)
      struct(d2.as("d2"), lit(code).as("code"))
    }
    least(cands: _*).getField("code")
  }

  /** Build (or reuse) the PQ artifact: `codebooks/` (subspace, code,
    * centroid: array<double>[dsub]) and `codes/` (vec_id, codes:
    * array<int>[m]).
    */
  def pqDir(s: SparkSession, dir: String, m: Int = M,
      ksub: Int = KSub, seed: Long = 42L): String = {
    val b = built.computeIfAbsent(s"$dir|$m|$ksub|$seed", _ => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      import s.implicits._
      val e = emb(s, dir)
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      require(dim % m == 0, s"dim $dim not divisible by m=$m")
      val dsub = dim / m
      // per-subspace codebooks: m seeded fits over the 8-dim slices —
      // each fit is tiny (dsub-dim points), the scan is column-pruned
      val books: Seq[(Int, Int, Array[Double])] = (0 until m).flatMap { j =>
        val sliced = e.select(array_to_vector(
          expr(s"transform(slice(embedding, ${j * dsub + 1}, $dsub)," +
            " x -> CAST(x AS DOUBLE))")).as("fv"))
        new KMeans().setK(ksub).setSeed(seed + j).setMaxIter(5)
          .setFeaturesCol("fv").fit(sliced)
          .clusterCenters.zipWithIndex
          .map { case (c, code) => (j, code, c.toArray) }.toIndexedSeq
      }
      val out = java.nio.file.Files.createTempDirectory("graft-pq").toString
      books.toDF("subspace", "code", "centroid").coalesce(1)
        .write.parquet(s"$out/codebooks")
      val bySub = books.groupBy(_._1)
      val codeCols = (0 until m).map { j =>
        codeCol(j * dsub + 1, dsub,
          bySub(j).map(b => (b._2, b._3)).sortBy(_._1))
      }
      e.select(col("vec_id"), array(codeCols: _*).as("codes"))
        .write.parquet(s"$out/codes")
      // ADC self-match floor calibration (r15, VERDICT r14 item 8): the
      // chained PQ-prefilter threshold used to be a constant justified
      // ONCE on the gate corpus; measure the artifact's own
      // reconstruction floor instead — min cos(v, v̂) over a
      // deterministic hash-thinned sample — and store the derived
      // prefilter threshold next to the codebooks, the calibrateNprobe
      // discipline applied to the last fixed chain constant.
      val cbooks = (0 until m).map(j =>
        bySub(j).sortBy(_._2).map(_._3.toSeq))
      val nVec = e.count()
      val thin = math.max(1L, nVec / SelfFloorSample)
      val selfFloor = e
        .filter(pmod(xxhash64(col("vec_id")), lit(thin)) === 0)
        .join(s.read.parquet(s"$out/codes"), "vec_id")
        .select(selfAdcCosineCol(cbooks, m, dsub).as("c"))
        .agg(min("c"), count(lit(1))).head()
      val (floorCos, nSample) = (selfFloor.getDouble(0), selfFloor.getLong(1))
      val tauPre = ChainTauPreMargin * floorCos
      Seq((floorCos, tauPre, ChainTauPreMargin, nSample))
        .toDF("adc_self_floor", "chain_tau_pre", "margin", "n_sample")
        .coalesce(1).write.parquet(s"$out/calib")
      Dedup.logRoute(s"pqCalibrate:$dir",
        f"adc_self_floor=$floorCos%.3f -> chain_tau_pre=$tauPre%.3f",
        s"margin=$ChainTauPreMargin nSample=$nSample")
      Built(out, dsub)
    })
    lastBuilt = b
    b.path
  }

  /** Self-floor sample cap: the floor is a distribution statistic of
    * the codebooks, saturated by a few thousand draws — at 100 TB the
    * calibration must not re-scan the corpus (the MaxTrainDocs
    * discipline). Thinning is deterministic (xxhash64(vec_id) mod).
    */
  val SelfFloorSample = 2000L

  /** Prefilter-threshold safety margin: a true near-duplicate's
    * quantized cosine sits NEAR the self-reconstruction floor but can
    * dip below it (the near-dup differs from the corpus vector the
    * codes encode), and the floor itself is a sampled min (≥ the true
    * min). 0.75 is the ratio the old fixed constant encoded
    * (0.4 ≈ 0.75 × the 0.53 gate-corpus floor) — now applied to each
    * artifact's own measured floor instead of one corpus's.
    */
  val ChainTauPreMargin = 0.75

  /** Fallback chained-prefilter threshold for a PQ artifact without a
    * calib table (pre-r15 only — every fresh build calibrates): the old
    * fixed constant, kept for exactly the corpus it was justified on.
    */
  val ChainTauPreFallback = 0.4

  private val chainTauPreByRoot =
    CorpusMemos.register(
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]())

  /** cos(v, v-hat) for a (embedding, codes) row against codebook
    * literals — the reconstruction-quality fold the self-floor
    * calibration and the delta re-check share.
    */
  private def selfAdcCosineCol(cbooks: Seq[Seq[Seq[Double]]],
      m: Int, dsub: Int): Column = {
    val norm2 = cbooks.map(_.map(c => c.map(x => x * x).sum))
    val cb: Column = typedLit(cbooks.map(_.toSeq))
    val n2: Column = typedLit(norm2.map(_.toSeq))
    val qd = expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    val dot = (0 until m).map { j =>
      aggregate(
        zip_with(slice(qd, j * dsub + 1, dsub),
          element_at(element_at(cb, j + 1), col("codes").getItem(j) + 1),
          (x, c) => x * c),
        lit(0.0), (acc, v) => acc + v)
    }.reduce(_ + _)
    val xn2 = (0 until m).map(j =>
      element_at(element_at(n2, j + 1), col("codes").getItem(j) + 1))
      .reduce(_ + _)
    val qn2 = aggregate(qd, lit(0.0), (acc, x) => acc + x * x)
    dot / (sqrt(qn2) * sqrt(xn2))
  }

  /** Result of one PQ delta append: the re-measured reconstruction
    * floor and the prefilter threshold now stored in the artifact.
    */
  final case class PqDeltaAppend(root: String, added: Long,
      floorBefore: Double, floorAfter: Double, tauPreAfter: Double)

  /** Incrementally extend a BUILT PQ artifact (r15, VERDICT r14
    * item 2): encode the delta against the FROZEN codebooks (the same
    * deterministic argmin projection as the build — a one-shot encode
    * of the union would emit byte-identical codes), APPEND the code
    * rows (O(delta) write), and re-check the stored self-floor
    * calibration on a hash-thinned delta sample: the artifact floor can
    * only move DOWN when new vectors quantize worse, so the stored
    * floor becomes min(stored, delta floor) and the chained-gate
    * prefilter threshold re-derives from it. The per-root threshold
    * memo is invalidated so gates pick up the re-measured value.
    */
  def pqDeltaAppend(s: SparkSession, root: String,
      delta: DataFrame): PqDeltaAppend = {
    val books = s.read.parquet(s"$root/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val bySub = books.groupBy(_._1)
    val m = bySub.keys.max + 1
    val dsub = books.head._3.length
    val codeCols = (0 until m).map { j =>
      codeCol(j * dsub + 1, dsub,
        bySub(j).map(b => (b._2, b._3)).sortBy(_._1).toSeq)
    }
    val deltaCodes = delta
      .select(col("vec_id"), array(codeCols: _*).as("codes"))
    deltaCodes.write.mode("append").parquet(s"$root/codes")
    val added = delta.count()
    val cbooks = (0 until m).map(j =>
      bySub(j).sortBy(_._2).map(_._3.toSeq).toSeq)
    val thin = math.max(1L, added / SelfFloorSample)
    val deltaRow = delta
      .filter(pmod(xxhash64(col("vec_id")), lit(thin)) === 0)
      .select(col("vec_id"), col("embedding"))
      .join(s.read.parquet(s"$root/codes"), "vec_id")
      .select(selfAdcCosineCol(cbooks, m, dsub).as("c"))
      .agg(min("c"), count(lit(1))).head()
    val (deltaFloor, deltaN) = (deltaRow.getDouble(0), deltaRow.getLong(1))
    val old = s.read.parquet(s"$root/calib").head()
    val (floorBefore, nOld) =
      (old.getAs[Double]("adc_self_floor"), old.getAs[Long]("n_sample"))
    val floorAfter = math.min(floorBefore, deltaFloor)
    val tauPre = ChainTauPreMargin * floorAfter
    import s.implicits._
    Seq((floorAfter, tauPre, ChainTauPreMargin, nOld + deltaN))
      .toDF("adc_self_floor", "chain_tau_pre", "margin", "n_sample")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/calib")
    chainTauPreByRoot.remove(root): Unit
    Dedup.logRoute(s"pqDeltaAppend:$root",
      f"appended $added codes, floor $floorBefore%.3f -> $floorAfter%.3f",
      f"tauPre=$tauPre%.3f deltaSample=$deltaN")
    PqDeltaAppend(root, added, floorBefore, floorAfter, tauPre)
  }

  /** The chained-gate prefilter threshold a PQ artifact was calibrated
    * to at build time (stored in `$root/calib`). Memoized per artifact
    * root; the calibratedNprobe fallback discipline — missing table
    * (checked by path) falls back with a log, a read FAILURE propagates.
    */
  def chainTauPre(s: SparkSession, root: String): Double =
    chainTauPreByRoot.computeIfAbsent(root, _ => java.lang.Double.valueOf {
      val calib = new org.apache.hadoop.fs.Path(s"$root/calib")
      val fs = calib.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(calib))
        s.read.parquet(s"$root/calib").select("chain_tau_pre")
          .head().getDouble(0)
      else {
        Dedup.logRoute(s"chainTauPre:$root",
          "no calib table (pre-r15 artifact) — fixed-constant fallback",
          s"tauPre=$ChainTauPreFallback")
        ChainTauPreFallback
      }
    }).doubleValue()

  /** x14: the code table, one row per (vec_id, subspace, code) — three
    * BIGINTs, so the gate hasher never sees an array column (the r8
    * pandas `sort_values` crash class). The packed array<int> form
    * stays internal to `codes/` for ADC.
    */
  def x14PqCodes(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${pqDir(s, dir)}/codes")
      .select(col("vec_id"),
        posexplode(col("codes")).as(Seq("subspace", "code")))
      .select(col("vec_id"), col("subspace").cast("long").as("subspace"),
        col("code").cast("long").as("code"))

  /** Re-encode the embeddings against the BUILT codebook under an
    * explicit input partitioning — the test surface for the determinism
    * property: encoding is a pure per-row projection (argmin fold with
    * deterministic tie-break), so the code table must be identical under
    * ANY repartitioning. Exercised by ProductQuantSpec over 1..32.
    */
  def encodeWithPartitions(s: SparkSession, dir: String,
      partitions: Int): DataFrame = {
    val root = pqDir(s, dir)
    val e = emb(s, dir)
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val dsub = dim / M
    val books = s.read.parquet(s"$root/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val bySub = books.groupBy(_._1)
    val codeCols = (0 until M).map { j =>
      codeCol(j * dsub + 1, dsub,
        bySub(j).map(b => (b._2, b._3)).sortBy(_._1).toSeq)
    }
    e.repartition(partitions)
      .select(col("vec_id"), array(codeCols: _*).as("codes"))
      .select(col("vec_id"),
        posexplode(col("codes")).as(Seq("subspace", "code")))
      .select(col("vec_id"), col("subspace").cast("long").as("subspace"),
        col("code").cast("long").as("code"))
  }

  /** DuckDB oracle for x14, available once this JVM has built the PQ
    * artifact (Verify runs all queries before dumping oracle_sql.json):
    * re-derives each code as the argmin centroid of its subspace,
    * tie-broken on the smaller code — INDEPENDENTLY of the Spark
    * encoder, through the codebook parquet on disk.
    */
  def x14OracleEntry: Seq[(String, String)] =
    Option(lastBuilt).toSeq.flatMap { b => Seq(
      "x14_pq_codes" ->
        s"""WITH books AS (
              SELECT subspace, code, centroid
              FROM read_parquet('${b.path}/codebooks/*.parquet')),
            sub AS (
              SELECT e.vec_id, t.j AS subspace,
                     list_transform(
                       list_slice(e.embedding, t.j * ${b.dsub} + 1,
                                  t.j * ${b.dsub} + ${b.dsub}),
                       x -> CAST(x AS DOUBLE)) AS sub
              FROM embeddings e CROSS JOIN range($M) t(j)),
            scored AS (
              SELECT s.vec_id, s.subspace, b.code,
                     list_sum(list_transform(range(1, ${b.dsub + 1}),
                       i -> (s.sub[i] - b.centroid[i])
                          * (s.sub[i] - b.centroid[i]))) AS d2
              FROM sub s JOIN books b ON s.subspace = b.subspace)
            SELECT vec_id, CAST(subspace AS BIGINT) AS subspace,
                   CAST(code AS BIGINT) AS code
            FROM scored
            QUALIFY row_number() OVER (
              PARTITION BY vec_id, subspace ORDER BY d2, code) = 1""",
      // x15: ADC shortlist + exact-cosine re-rank, re-derived from the
      // SAME codes/codebooks parquet the engine queries. Summation order
      // is pinned everywhere (list(... ORDER BY subspace) then list_sum
      // = the engine's left fold over subspaces; per-subspace d2 and the
      // cosine are element-ordered folds), so the doubles compare
      // exactly.
      "x15_pq_adc_topk" ->
        s"""WITH books AS (
              SELECT subspace, code, centroid
              FROM read_parquet('${b.path}/codebooks/*.parquet')),
            q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
            dt AS (
              SELECT b.subspace, b.code,
                     list_sum(list_transform(range(1, ${b.dsub + 1}),
                       i -> (CAST(q.embedding[b.subspace * ${b.dsub} + i]
                               AS DOUBLE) - b.centroid[i])
                          * (CAST(q.embedding[b.subspace * ${b.dsub} + i]
                               AS DOUBLE) - b.centroid[i]))) AS d
              FROM books b, q),
            codes AS (
              SELECT c.vec_id, CAST(t.j AS INT) AS subspace,
                     c.codes[CAST(t.j + 1 AS INT)] AS code
              FROM read_parquet('${b.path}/codes/*.parquet') c
              CROSS JOIN range($M) t(j)),
            adc AS (
              SELECT c.vec_id,
                     list_sum(list(dt.d ORDER BY c.subspace)) AS adc_d2
              FROM codes c
              JOIN dt ON dt.subspace = c.subspace AND dt.code = c.code
              WHERE c.vec_id != 0
              GROUP BY c.vec_id),
            short AS (
              SELECT vec_id FROM adc ORDER BY adc_d2, vec_id LIMIT 100)
            SELECT s.vec_id, e.label,
                   (list_sum(list_transform(range(1, len(q.embedding) + 1),
                      i -> CAST(e.embedding[i] AS DOUBLE)
                         * CAST(q.embedding[i] AS DOUBLE)))
                    / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
                         i -> CAST(e.embedding[i] AS DOUBLE)
                            * CAST(e.embedding[i] AS DOUBLE))))
                     * sqrt(list_sum(list_transform(range(1, len(q.embedding) + 1),
                         i -> CAST(q.embedding[i] AS DOUBLE)
                            * CAST(q.embedding[i] AS DOUBLE))))))
                     AS cosine
            FROM short s JOIN embeddings e USING (vec_id), q
            ORDER BY cosine DESC, s.vec_id LIMIT 20""")
    }

  /** x14v violation oracle: (a) every code must be the argmin centroid
    * of its subspace under an INDEPENDENT recomputation (SQL HOFs over
    * the codebook table — not the literal-folded encoder), with a 1e-9
    * band for fold-order ties; (b) the PQ reconstruction (concatenated
    * code centroids) must satisfy DISTRIBUTION-level quality bounds:
    * mean cosine(v, v̂) ≥ `meanFloor` and at most `tailFrac` of vectors
    * below `tailBar`. Per-vector min floors are deliberately NOT the
    * contract — the minimum of n samples from a fixed distribution
    * drifts down as n grows (sf0.01 min ≈ 0.53, and sf1 has 100× the
    * draws), while the mean (measured 0.67) and a 1% tail allowance at
    * 0.4 are scale-stable. Oracle: the empty relation.
    */
  def x14vPqReconstruction(s: SparkSession, dir: String,
      meanFloor: Double = 0.6, tailBar: Double = 0.4,
      tailFrac: Double = 0.01): DataFrame = {
    val root = pqDir(s, dir)
    val e = emb(s, dir)
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val dsub = dim / M
    val codes = s.read.parquet(s"$root/codes")
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("subspace", "code")))
    val books = s.read.parquet(s"$root/codebooks")
    // (a) assigned-vs-nearest per subspace through the codebook TABLE
    val sliced = e.select(col("vec_id"),
      explode(expr(
        s"""transform(sequence(0, ${M - 1}), j ->
           |  struct(j AS subspace,
           |         transform(slice(embedding, j * $dsub + 1, $dsub),
           |                   x -> CAST(x AS DOUBLE)) AS sub))"""
          .stripMargin)).as("s"))
      .select(col("vec_id"), col("s.subspace").as("subspace"),
        col("s.sub").as("sub"))
    val d2 = aggregate(
      zip_with(col("sub"), col("centroid"), (x, c) => (x - c) * (x - c)),
      lit(0.0), (acc, v) => acc + v)
    val scored = sliced.join(broadcast(books), Seq("subspace"))
      .select(col("vec_id"), col("subspace"), col("code"), d2.as("d2"))
    val nearest = scored.groupBy("vec_id", "subspace")
      .agg(min("d2").as("d2_nearest"))
    val assignedD2 = scored.join(codes, Seq("vec_id", "subspace", "code"))
      .select(col("vec_id"), col("subspace"), col("d2").as("d2_assigned"))
    val badCode = assignedD2.join(nearest, Seq("vec_id", "subspace"))
      .filter(col("d2_assigned") > col("d2_nearest") + 1e-9)
      .select(col("vec_id"), lit("code_not_nearest").as("violation"),
        (col("d2_assigned") - col("d2_nearest")).as("delta"))
    // (b) reconstruction quality, distribution-level
    val recon = codes.join(broadcast(books), Seq("subspace", "code"))
      .groupBy("vec_id")
      .agg(flatten(array_sort(collect_list(
        struct(col("subspace"), col("centroid"))))
        .getField("centroid")).as("recon"))
    val cosRecon = aggregate(
      zip_with(expr("transform(embedding, x -> CAST(x AS DOUBLE))"),
        col("recon"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v) /
      (sqrt(aggregate(
        expr("transform(embedding, x -> CAST(x AS DOUBLE))"),
        lit(0.0), (acc, x) => acc + x * x)) *
        sqrt(aggregate(col("recon"),
          lit(0.0), (acc, x) => acc + x * x)))
    val badRecon = e.join(recon, Seq("vec_id"))
      .select(cosRecon.as("cos"))
      .agg(avg(col("cos")).as("mean_cos"),
        (sum(when(col("cos") < tailBar, 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("frac_low"),
        count(lit(1)).as("n"))
      // n == 0 (empty corpus) must fail loudly, not vacuously pass
      .filter(col("n") === 0 || col("mean_cos") < meanFloor ||
        col("frac_low") > tailFrac)
      .select(lit(-1L).as("vec_id"),
        lit("reconstruction_quality").as("violation"),
        col("mean_cos").as("delta"))
    badCode.unionAll(badRecon)
  }

  /** x15: ADC top-k — shortlist by asymmetric distance (m table lookups
    * per vector against the driver-precomputed 128-double distance
    * table; the float vectors are NEVER scanned), then exact cosine
    * re-rank of the `shortlist` candidates only. TakeOrderedAndProject
    * both stages — no global sort, no shuffle of the corpus.
    */
  def x15PqAdcTopK(s: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 20, shortlist: Int = 100): DataFrame = {
    val root = pqDir(s, dir)
    x15PqAdcTopKFrom(s, queryId, k, shortlist,
      fetchQVec(s, dir, queryId), fetchBooks(s, root),
      s.read.parquet(s"$root/codes"), emb(s, dir))
  }

  /** Prefetched-artifact core of [[x15PqAdcTopK]]: identical plan, but
    * the query vector and codebooks arrive as arguments so a pooled
    * caller (x15r — 10 queries) fetches each artifact ONCE instead of
    * paying one q-vector job + one codebook collect per query (r15;
    * guide §5 — driver-side jobs were the invariant's dominant cost).
    */
  private[ext] def x15PqAdcTopKFrom(s: SparkSession,
      queryId: Long, k: Int, shortlist: Int, q: Array[Double],
      books: Map[(Int, Int), Array[Double]],
      codesDf: DataFrame, e: DataFrame): DataFrame = {
    val dsub = q.length / M
    // driver-side ADC table: dt(j)(code) = ||q_j - c_{j,code}||^2
    val dt: IndexedSeq[Column] = (0 until M).map { j =>
      val qj = q.slice(j * dsub, (j + 1) * dsub)
      array((0 until KSub).map { code =>
        val c = books((j, code))
        lit(qj.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)
      }: _*)
    }
    val adc = (0 until M).map(j =>
      element_at(dt(j), col("codes").getItem(j) + 1)).reduce(_ + _)
    val short = codesDf
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), adc.as("adc_d2"))
      .orderBy(col("adc_d2"), col("vec_id")).limit(shortlist)
    val qSide = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    short.join(e, Seq("vec_id")).crossJoin(broadcast(qSide))
      .select(col("vec_id"), col("label"),
        cosineF(col("embedding"), col("q_emb")).as("cosine"))
      .orderBy(desc("cosine"), col("vec_id")).limit(k)
  }

  /** One query vector to the driver (one job). */
  private def fetchQVec(s: SparkSession, dir: String,
      queryId: Long): Array[Double] =
    emb(s, dir).filter(col("vec_id") === queryId)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray

  /** All query vectors below `nQueries` in ONE job. */
  private[ext] def fetchQVecs(s: SparkSession, dir: String,
      nQueries: Int): Map[Long, Array[Double]] =
    emb(s, dir).filter(col("vec_id") < nQueries)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap

  /** The PQ codebooks, one collect. */
  private[ext] def fetchBooks(s: SparkSession,
      root: String): Map[(Int, Int), Array[Double]] =
    s.read.parquet(s"$root/codebooks").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
      .toMap

  /** The IVF centroid table, one collect. */
  private def fetchCentroids(s: SparkSession,
      idx: String): Array[(Int, Seq[Double])] =
    s.read.parquet(s"$idx/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))

  /** x19: the COMPOSED IVF-PQ search — the production billion-vector
    * ANN shape (Jégou et al. 2011 §IV, the IVFADC system): probe the
    * `nprobe` nearest IVF cells (driver-ranked centroid table, the x8
    * step), ADC-score ONLY the codes of vectors living in probed cells
    * (the x15 step restricted by the cell semi-join), then exact-cosine
    * re-rank the shortlist. Composes the two gate-proven halves with
    * one extra compact-key join.
    *
    * Plan shape at 100 TB: the cell-membership scan is partition-pruned
    * to `nprobe` hive partitions and reads ONLY (vec_id, cell) — the
    * float embedding column never leaves parquet there; the code table
    * join carries 8-byte ids + 8-byte codes; the ADC is m table lookups
    * per member (driver-precomputed distance table, no shuffle); exact
    * cosine touches ≤ `shortlist` float vectors. Total float I/O is
    * O(shortlist), independent of corpus size — the IVF-PQ promise.
    *
    * Exactness: same element-ordered double folds as x8/x15, so the
    * artifact-derived DuckDB oracle replays the whole search hash-exact
    * (probe ranking ties to the lower cell; ADC summed in subspace
    * order; shortlist and final ties to the lower vec_id).
    */
  /** ADC-shortlist floor: below ~100 the exact re-rank is too thin even
    * at gate scale (the r10 measured value).
    */
  val MinShortlist = 100

  private val embCountByDir =
    CorpusMemos.register(
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]())

  private def corpusCount(s: SparkSession, dir: String): Long =
    embCountByDir.computeIfAbsent(dir,
      _ => java.lang.Long.valueOf(emb(s, dir).count())).longValue()

  /** Auto ADC shortlist: 1/8 of the expected probed-candidate volume
    * (nprobe · n/nlist), floored at [[MinShortlist]]. A FIXED shortlist
    * makes x19's recall decay with the corpus even when cell recall is
    * calibrated: at sf10 (n=200k, nprobe=58 → ~26k candidates) the
    * shipped 100 delivered recall@10 = 0.26 against the 0.75 cell-recall
    * ceiling, while the measured sweep (AnnRecallProbe, r14, last at
    * commit dd46e98) gave
    * 300→0.37, 1000→0.55, 3000→0.65 — ~1/8 of candidates recovers ~87 %
    * of the reachable ceiling on the WORST-case (near-random) corpus;
    * clustered corpora need less and can pass `shortlist` explicitly.
    * Float I/O stays O(candidates/8) ≈ O(√n·nprobe/8) — the IVF-PQ
    * promise holds (1.6 % of corpus floats at sf10). At gate scale the
    * floor binds (expected candidates ≤ 800), so gate plans and oracles
    * are unchanged.
    */
  def autoShortlist(nprobe: Int, n: Long, nlist: Int): Int =
    math.max(MinShortlist,
      math.ceil(nprobe.toDouble * n / math.max(1, nlist) / 8.0).toInt)

  /** The shortlist most recently resolved against each index artifact —
    * consumed by the x19 oracle's LIMIT (the recordNprobe discipline).
    */
  private val shortlistByIdx =
    CorpusMemos.register(
      new java.util.concurrent.ConcurrentHashMap[String, Integer]())

  private def recordShortlist(idx: String, sl: Int): Unit =
    shortlistByIdx.put(idx, Integer.valueOf(sl)): Unit

  def recordedShortlist(idx: String): Option[Int] =
    Option(shortlistByIdx.get(idx)).map(_.intValue())

  def ivfPqTopK(s: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 20, nlist: Int = 0, nprobe: Int = 0,
      shortlist: Int = 0): DataFrame = {
    val root = pqDir(s, dir)
    val rl = Similarity.resolveNlist(s, dir, nlist)
    val idx = Similarity.ivfIndexDir(s, dir, rl)
    val np = if (nprobe > 0) nprobe
      else Similarity.calibratedNprobe(s, idx)
    Similarity.recordNprobe(idx, np)
    val sl = if (shortlist > 0) shortlist
      else autoShortlist(np, corpusCount(s, dir), rl)
    recordShortlist(idx, sl)
    ivfPqTopKFrom(s, queryId, k, np, sl,
      fetchQVec(s, dir, queryId), fetchCentroids(s, idx),
      fetchBooks(s, root),
      s.read.option("basePath", s"$idx/cells").parquet(s"$idx/cells"),
      s.read.parquet(s"$root/codes"), emb(s, dir))
  }

  /** Prefetched-artifact core of [[ivfPqTopK]] (the x15 pattern): the
    * query vector, centroid table and codebooks arrive as arguments so
    * the pooled x19r caller fetches each ONCE for its 10 queries —
    * previously every per-query plan re-paid one q-vector job, one
    * centroid collect and one codebook collect (~30 driver jobs per
    * x19r evaluation). Plan per query is unchanged.
    */
  private def ivfPqTopKFrom(s: SparkSession,
      queryId: Long, k: Int, np: Int, sl: Int,
      q: Array[Double], centroids: Array[(Int, Seq[Double])],
      books: Map[(Int, Int), Array[Double]],
      cellsDf: DataFrame, codesDf: DataFrame, e: DataFrame): DataFrame = {
    val dsub = q.length / M
    val cells = centroids
      .map { case (cell, c) =>
        (cell, c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum)
      }
      .sortBy { case (cell, d) => (d, cell) }.take(np).map(_._1)
    val members = cellsDf
      .filter(col("cell").isin(cells.toIndexedSeq.map(Integer.valueOf): _*)
        && col("vec_id") =!= queryId)
      .select(col("vec_id"), col("cell"))
    val dt: IndexedSeq[Column] = (0 until M).map { j =>
      val qj = q.slice(j * dsub, (j + 1) * dsub)
      array((0 until KSub).map { code =>
        lit(qj.zip(books((j, code)))
          .map { case (a, b) => (a - b) * (a - b) }.sum)
      }: _*)
    }
    val adc = (0 until M).map(j =>
      element_at(dt(j), col("codes").getItem(j) + 1)).reduce(_ + _)
    val short = codesDf
      .join(members, Seq("vec_id"))
      .select(col("vec_id"), col("cell"), adc.as("adc_d2"))
      .orderBy(col("adc_d2"), col("vec_id")).limit(sl)
    val qSide = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    short.join(e, Seq("vec_id")).crossJoin(broadcast(qSide))
      .select(col("vec_id"), col("label"), col("cell"),
        cosineF(col("embedding"), col("q_emb")).as("cosine"))
      .orderBy(desc("cosine"), col("vec_id")).limit(k)
  }

  /** x19r violation oracle: pooled recall@k of the composed IVF-PQ
    * search vs the exact cosine top-k (the x15r harness with cell
    * pruning in the loop). Cell pruning can drop true neighbors that
    * ADC alone would keep, so the floor sits below x15r's (fixture
    * recall ≈ 0.7-0.9 at nprobe=3 of 8 cells). Fails loudly on an
    * empty exact side. Oracle: the empty relation.
    */
  def x19rIvfPqRecall(s: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 10, shortlist: Int = 0,
      floor: Double = 0.4): DataFrame = {
    val e = emb(s, dir)
    val qs = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("src_id"), col("embedding").as("q_emb"))
    val exactCand = e.select(col("vec_id").as("nb_id"), col("embedding"))
      .join(broadcast(qs), col("nb_id") =!= col("src_id"))
      .select(col("src_id"), col("nb_id"),
        cosineF(col("embedding"), col("q_emb")).as("cosine"))
    val exact = graft.plans.TopKPerGroup.topK(exactCand, Seq("src_id"),
      "cosine", k, desc = true, tiebreakCols = Seq("nb_id"))
    // r15: resolve the index geometry and fetch the shared artifacts
    // ONCE for the pool — per-query [[ivfPqTopK]] calls paid ~3 driver
    // jobs each (q vector, centroids, codebooks) for identical data;
    // the per-query PLAN is unchanged (ivfPqTopKFrom).
    val root = pqDir(s, dir)
    val rl = Similarity.resolveNlist(s, dir, 0)
    val idx = Similarity.ivfIndexDir(s, dir, rl)
    val np = Similarity.calibratedNprobe(s, idx)
    Similarity.recordNprobe(idx, np)
    val sl = if (shortlist > 0) shortlist
      else autoShortlist(np, corpusCount(s, dir), rl)
    recordShortlist(idx, sl)
    val qvecs = fetchQVecs(s, dir, nQueries)
    val centroids = fetchCentroids(s, idx)
    val books = fetchBooks(s, root)
    // r15 opt 2: the RELATIONS are pooled too — each read.parquet call
    // builds a fresh InMemoryFileIndex (one parallel listing job for the
    // hive-partitioned cells dir + a schema read, ~0.3 s of driver time),
    // and the per-query plans re-paid it 3× per query (StageProbe:
    // ~4.2 s of x19r's 6 s was repeated listing/planning). One DataFrame
    // per artifact reuses one FileIndex across the pool.
    val cellsDf = s.read.option("basePath", s"$idx/cells")
      .parquet(s"$idx/cells")
    val codesDf = s.read.parquet(s"$root/codes")
    val got = (0L until nQueries.toLong).map { qid =>
      ivfPqTopKFrom(s, qid, k, np, sl, qvecs(qid),
        centroids, books, cellsDf, codesDf, e)
        .select(lit(qid).as("src_id"), col("vec_id").as("nb_id"))
    }.reduce(_ unionAll _).withColumn("hit", lit(1L))
    exact.select("src_id", "nb_id")
      .join(got, Seq("src_id", "nb_id"), "left")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"),
        count(lit(1)).as("total"))
      .filter(col("total") === 0 ||
        col("hits").cast("double") / col("total") < floor)
      .select(lit("ivfpq_recall_at_k").as("metric"),
        (col("hits").cast("double") / col("total")).as("recall"))
  }

  /** x19 oracle (artifact-derived, the x8/x15 technique composed):
    * replays probe → members → ADC → re-rank from the SAME index and
    * codebook parquet this JVM built. Present only when the engine's
    * x19 run RECORDED its resolved geometry against that index (the
    * same presence discipline as the resolved-planes/tables oracles,
    * ADVICE r14 — artifacts alone, e.g. from an x8/x20-only run, used
    * to default the shortlist LIMIT to 100 and silently diverge from a
    * later auto-resolved run instead of failing loudly).
    */
  def x19OracleEntry: Seq[(String, String)] =
    (Option(lastBuilt), Similarity.builtIvfIndexDir) match {
      case (Some(b), Some(idx))
          if Similarity.recordedNprobe(idx).isDefined &&
            recordedShortlist(idx).isDefined => Seq(
        "x19_ivfpq_topk" ->
          s"""WITH q AS (SELECT embedding AS qe FROM embeddings
                         WHERE vec_id = 0),
             probe AS (
               SELECT c.cell
               FROM read_parquet('$idx/centroids/*.parquet') c, q
               ORDER BY list_sum(list_transform(list_zip(c.centroid, q.qe),
                          p -> (p[1] - CAST(p[2] AS DOUBLE))
                             * (p[1] - CAST(p[2] AS DOUBLE)))), c.cell
               LIMIT ${Similarity.recordedNprobe(idx).get}),
             members AS (
               SELECT e.vec_id, CAST(e.cell AS INT) AS cell
               FROM read_parquet('$idx/cells/**/*.parquet',
                                 hive_partitioning = true) e
               WHERE CAST(e.cell AS INT) IN (SELECT cell FROM probe)
                 AND e.vec_id <> 0),
             books AS (
               SELECT subspace, code, centroid
               FROM read_parquet('${b.path}/codebooks/*.parquet')),
             dt AS (
               SELECT b.subspace, b.code,
                      list_sum(list_transform(range(1, ${b.dsub + 1}),
                        i -> (CAST(q.qe[b.subspace * ${b.dsub} + i]
                                AS DOUBLE) - b.centroid[i])
                           * (CAST(q.qe[b.subspace * ${b.dsub} + i]
                                AS DOUBLE) - b.centroid[i]))) AS d
               FROM books b, q),
             codes AS (
               SELECT c.vec_id, CAST(t.j AS INT) AS subspace,
                      c.codes[CAST(t.j + 1 AS INT)] AS code
               FROM read_parquet('${b.path}/codes/*.parquet') c
               CROSS JOIN range($M) t(j)),
             adc AS (
               SELECT c.vec_id, any_value(m.cell) AS cell,
                      list_sum(list(dt.d ORDER BY c.subspace)) AS adc_d2
               FROM codes c
               JOIN members m USING (vec_id)
               JOIN dt ON dt.subspace = c.subspace AND dt.code = c.code
               GROUP BY c.vec_id),
             short AS (
               SELECT vec_id, cell FROM adc
               ORDER BY adc_d2, vec_id
               LIMIT ${recordedShortlist(idx).get})
             SELECT s.vec_id, e.label, s.cell,
                    (list_sum(list_transform(range(1, len(q.qe) + 1),
                       i -> CAST(e.embedding[i] AS DOUBLE)
                          * CAST(q.qe[i] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(
                          range(1, len(e.embedding) + 1),
                          i -> CAST(e.embedding[i] AS DOUBLE)
                             * CAST(e.embedding[i] AS DOUBLE))))
                      * sqrt(list_sum(list_transform(range(1, len(q.qe) + 1),
                          i -> CAST(q.qe[i] AS DOUBLE)
                             * CAST(q.qe[i] AS DOUBLE))))))
                      AS cosine
             FROM short s JOIN embeddings e USING (vec_id), q
             ORDER BY cosine DESC, s.vec_id LIMIT 20""")
      case _ => Seq.empty
    }

  /** x15r violation oracle: pooled recall@k of the ADC+re-rank search
    * vs the exact cosine top-k over `nQueries` query vectors must meet
    * `floor` (empirical fixture recall ≈ 0.8-1.0 with shortlist 100 over
    * 500 vectors; floor 0.5 with margin — and the sf0.1/sf1 corpus keeps
    * the same per-query candidate geometry). Fails LOUDLY on an empty
    * exact side. Oracle: the empty relation.
    */
  def x15rPqRecall(s: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 10, shortlist: Int = 100,
      floor: Double = 0.5): DataFrame = {
    val e = emb(s, dir)
    val qs = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("src_id"), col("embedding").as("q_emb"))
    val exactCand = e.select(col("vec_id").as("nb_id"), col("embedding"))
      .join(broadcast(qs), col("nb_id") =!= col("src_id"))
      .select(col("src_id"), col("nb_id"),
        cosineF(col("embedding"), col("q_emb")).as("cosine"))
    val exact = graft.plans.TopKPerGroup.topK(exactCand, Seq("src_id"),
      "cosine", k, desc = true, tiebreakCols = Seq("nb_id"))
    // r15: q vectors and codebooks fetched ONCE for the 10-query pool
    // (x15PqAdcTopKFrom — plans unchanged, ~20 driver jobs saved).
    val root = pqDir(s, dir)
    val qvecs = fetchQVecs(s, dir, nQueries)
    val books = fetchBooks(s, root)
    // r15 opt 2: pool the codes RELATION too (see x19rIvfPqRecall) —
    // per-query read.parquet re-paid a listing + schema job each.
    val codesDf = s.read.parquet(s"$root/codes")
    val pq = (0L until nQueries.toLong).map { qid =>
      x15PqAdcTopKFrom(s, qid, k, shortlist, qvecs(qid), books,
        codesDf, e)
        .select(lit(qid).as("src_id"), col("vec_id").as("nb_id"))
    }.reduce(_ unionAll _).withColumn("hit", lit(1L))
    exact.select("src_id", "nb_id")
      .join(pq, Seq("src_id", "nb_id"), "left")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"),
        count(lit(1)).as("total"))
      .filter(col("total") === 0 ||
        col("hits").cast("double") / col("total") < floor)
      .select(lit("pq_adc_recall_at_k").as("metric"),
        (col("hits").cast("double") / col("total")).as("recall"))
  }
}
