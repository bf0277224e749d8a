package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Expressions.{fnv1a64, simhash64}

/** Document deduplication for large-scale training-data pipelines
  * (SURVEY.md §7.4). Five strategies, cheapest-first; all shuffle only on
  * compact keys (hashes / band buckets), never on raw text:
  *
  *   1. exact          — hash-groupBy full text
  *   2. fingerprint    — FNV-1a / MD5 content hash (exact dup via 8-byte key)
  *   3. SimHash        — 64-bit near-dup sketch, Hamming-close pairs
  *   4. MinHash + LSH  — shingle → minhash signature → banded buckets →
  *                       candidate pairs → exact Jaccard verify
  *   5. n-gram Jaccard — exact shingle-set similarity on candidate pairs
  *
  * 100 TB notes: the only all-pairs step (within-bucket pairing) is bounded
  * by bucket size; band hashing spreads uniformly unless the corpus is
  * pathological (boilerplate) — those hot buckets are capped and sub-split
  * by [[SkewSafe.cappedEquiJoin]] so no single task holds a quadratic
  * block (completeness preserved; d8v pins it).
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Sentinel: let the miner choose exact vs capped candidate generation
    * from corpus statistics (the DEFAULT for [[prefixJaccardPairs]] /
    * [[winnowPairs]] — the data decides, a caller no longer has to know
    * the capped path exists to survive 100×).
    */
  val AutoCap: Int = -1

  /** The settings the auto router engages above the wall: cap=64 with
    * the 16 rarest df≥2 prefix tokens per doc — the (64,16) point the
    * sf10 probes measured (completes everywhere the exact join dies;
    * ~87% pair recall with the loss in the weak tail, Round11Spec).
    */
  val AutoCandCap: Int = 64
  val AutoCandTokens: Int = 16

  /** Enumeration-volume threshold (rows) above which the auto router
    * abandons the exact self-join. Grounding (tools/AutoRouteStats, last
    * at commit dd46e98; SCALING.md r12): the exact path emits
    * Σ df·(df−1)/2 candidate-
    * enumeration rows through its first exchange — ~24 bytes each, so
    * 2e9 rows ≈ 48 GB of shuffle scratch BEFORE pair-dedup. Measured
    * d3 volumes: 6.4e6 at sf0.1, 6.7e8 at sf1 (completes comfortably),
    * 6.8e10 at sf10 (the measured death: ~76 GB scratch filled before
    * any output). 2e9 sits 3× above sf1's volume and 34× under the
    * death point — a single-box number; a multi-executor cluster scales
    * it by aggregate scratch, a scratch-poor one tunes it down.
    */
  val AutoEnumRowsMax: Long = 2000000000L

  /** Verify-exchange byte budget for the MinHash-LSH router: the band
    * join's deduped pairs each carry two KB-scale shingle arrays into
    * the exact verify, so the wall arrives in BYTES long before the
    * d3 row threshold (measured r12: sf10's 1.8e8 enumeration rows sat
    * 10× under AutoEnumRowsMax yet the verify spilled past the 76 GB
    * disk). 16 GB is single-box scratch headroom; a cluster scales it
    * by aggregate scratch via the per-call `autoVerifyBytesMax`
    * parameter on [[minhashLshPairs]] / [[prefixJaccardPairs]] /
    * [[winnowPairs]] (ADVICE r12 — mirrors `autoEnumRowsMax`). sf1
    * measures ~MB, sf10 ~230 GB — the threshold sits orders of
    * magnitude from both.
    */
  val AutoVerifyBytesMax: Long = 16L << 30

  /** Σ_key df·(df−1)/2 over a token table — the exact candidate join's
    * output volume upper bound, as ONE compact-key aggregate (double
    * arithmetic: the estimate needs magnitude, not exactness, and df²
    * sums overflow BIGINT on pathological corpora).
    */
  private[graft] def enumRowsEstimate(tok: DataFrame, keyCol: String): Double =
    tok.groupBy(keyCol).agg(count(lit(1)).cast("double").as("df"))
      .agg(coalesce(sum(col("df") * (col("df") - 1) / 2), lit(0.0)).as("e"))
      .head().getDouble(0)

  /** Routing statistics are FROZEN corpus properties (a production
    * pipeline computes them once at ingest alongside table stats), so
    * the auto router memoizes per (corpus, shape) in this JVM — d3,
    * d3's artifact consumers (d4/d9) and d7 each pay the estimate
    * aggregate once, not per query (the ivfIndexDir pattern; measured
    * +1.3 s/call on d3 at sf0.1 unmemoized).
    */
  private val enumEstCache =
    CorpusMemos.register(
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]())

  private def enumRowsEstimateCached(key: String, tok: => DataFrame,
      keyCol: String): Double =
    enumEstCache.computeIfAbsent(key,
      _ => Double.box(enumRowsEstimate(tok, keyCol))).doubleValue()

  private[graft] def statCached(key: String)(stat: => Double): Double =
    enumEstCache.computeIfAbsent(key, _ => Double.box(stat)).doubleValue()

  /** Routing decisions are never silent (ADVICE r12 / the repo's own
    * "no silent caps" principle): whenever an auto front door switches
    * formulation — capped SNM generation, bipartite graph rounds — the
    * decision AND the statistics that drove it go to the log, so a gate
    * corpus drifting over a threshold reads as a routing flip, not an
    * opaque oracle hash mismatch.
    */
  private lazy val routeLogger =
    org.slf4j.LoggerFactory.getLogger("graft.autoroute")
  private[graft] def logRoute(op: String, decision: String,
      detail: String): Unit =
    routeLogger.info(s"$op -> $decision ($detail)")

  /** Exact dedup: one row per distinct text, keeping the smallest doc_id
    * (deterministic — dropDuplicates keeps an arbitrary row).
    */
  def exact(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy("text")
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
      .select("keeper_id", "n_copies")

  /** Content fingerprints: 64-bit FNV-1a (native codegen'd expression) +
    * MD5. Exact-dup detection via 8-byte shuffle keys instead of full text.
    */
  def fingerprints(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      fnv1a64(col("text")).as("fnv64"),
      md5(col("text")).as("md5_hex"))

  /** SimHash near-dup sketch per document. */
  def simhashes(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), simhash64(col("text")).as("simhash"))

  /** SimHash near-dup pairs: Hamming distance ≤ `maxDist`. Candidate
    * generation via 4 rotated 16-bit band keys (pigeonhole: distance ≤ 3
    * guarantees one exact band match), then exact popcount verify.
    * Within-bucket pairing is all-pairs, so band buckets are capped at
    * `bucketCap` rows via [[SkewSafe.cappedEquiJoin]] — a boilerplate
    * corpus (many identical sketches → one giant bucket) spreads across
    * ceil(n/cap) tasks instead of pinning one reducer quadratically, and
    * completeness is preserved (d8v pins it).
    */
  /** Explode a (…, simhash) frame into its 4 rotated 16-bit band keys —
    * the shared candidate-key layout for batch pair mining and the
    * streaming near-dup gate (pigeonhole: Hamming ≤ 3 over 64 bits ⇒ at
    * least one of the 4 bands matches exactly).
    */
  def simhashBands(sh: DataFrame): DataFrame =
    sh.withColumn("bk",
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("simhash"), b * 16)
              .bitwiseAND(lit(0xffffL)).as("key"))): _*)))
      .withColumn("band", col("bk.band"))
      .withColumn("key", col("bk.key"))
      .drop("bk")

  def simhashNearDupPairs(s: SparkSession, dir: String, maxDist: Int = 3,
      bucketCap: Int = 1024): DataFrame =
    simhashPairsOf(simhashes(s, dir), maxDist, bucketCap)

  /** The band-join pair miner over an arbitrary (doc_id, simhash) sketch
    * frame — ONE implementation shared by the d8 gate query and the
    * composed curation pipeline (CuratePipeline stage 4), so a fix to
    * the capped join / band layout / dedup ordering propagates to both.
    */
  def simhashPairsOf(sketches: DataFrame, maxDist: Int = 3,
      bucketCap: Int = 1024): DataFrame = {
    val banded = simhashBands(sketches.select("doc_id", "simhash"))
    val l = banded.select(col("doc_id").as("doc_a"),
      col("simhash").as("sim_a"), col("band"), col("key"))
    val r = banded.select(col("doc_id").as("doc_b"),
      col("simhash").as("sim_b"), col("band"), col("key"))
    SkewSafe.cappedEquiJoin(l, r, Seq("band", "key"),
        xxhash64(col("doc_b")), bucketCap)
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** INCREMENTAL near-dup mining — the batch-ingest shape of the dedup
    * pipeline: mine a NEW batch of documents against an existing corpus
    * without re-mining the corpus. Pairs = (new × corpus) via a band
    * join against the corpus's banded sketch table, plus (new × new)
    * via the band self-join — corpus × corpus pairs are already known
    * from the last run, so at 100 TB each ingest pays O(batch) sketch
    * work and a band join against a (bucketed, band-keyed) corpus
    * table, never O(corpus) re-mining. SimHash banding is deterministic,
    * so incremental ∪ previous ≡ full recompute EXACTLY —
    * IncrementalDedupSpec pins that equivalence.
    *
    * `newDocs` carries (doc_id, text); doc_ids must be disjoint from the
    * corpus's (ingest assigns fresh ids). Output matches
    * [[simhashNearDupPairs]]: (doc_a, doc_b, hamming), doc_a < doc_b.
    */
  def incrementalSimhashPairs(s: SparkSession, corpusDir: String,
      newDocs: DataFrame, maxDist: Int = 3,
      bucketCap: Int = 1024): DataFrame =
    incrementalSimhashPairsOf(simhashes(s, corpusDir), newDocs, maxDist,
      bucketCap)

  /** Same, with the corpus's (doc_id, simhash) sketch table passed
    * directly — the production call shape (the sketch table persists
    * between ingests; re-sketching the corpus per batch would defeat
    * the point).
    */
  def incrementalSimhashPairsOf(corpusSketches: DataFrame,
      newDocs: DataFrame, maxDist: Int = 3,
      bucketCap: Int = 1024): DataFrame = {
    val corpusBands = simhashBands(corpusSketches)
      .select(col("doc_id"), col("simhash"), col("band"), col("key"))
    val newBands = simhashBands(
        newDocs.select(col("doc_id"), simhash64(col("text")).as("simhash")))
      .select(col("doc_id"), col("simhash"), col("band"), col("key"))
    def mine(l: DataFrame, r: DataFrame): DataFrame =
      SkewSafe.cappedEquiJoin(
          l.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a"),
            col("band"), col("key")),
          r.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b"),
            col("band"), col("key")),
          Seq("band", "key"), xxhash64(col("doc_b")), bucketCap)
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= maxDist)
    // new×corpus: ONE un-ordered join (the doc_a < doc_b canonical order
    // can fall either side of the corpus/new id split, so order with
    // least/greatest after the join instead of running both orientations
    // — the corpus-side join is the dominant per-ingest cost)
    val cross = SkewSafe.cappedEquiJoin(
        newBands.select(col("doc_id").as("in_id"),
          col("simhash").as("in_sim"), col("band"), col("key")),
        corpusBands.select(col("doc_id").as("c_id"),
          col("simhash").as("c_sim"), col("band"), col("key")),
        Seq("band", "key"), xxhash64(col("c_id")), bucketCap)
      .filter(col("in_id") =!= col("c_id"))
      .select(least(col("in_id"), col("c_id")).as("doc_a"),
        greatest(col("in_id"), col("c_id")).as("doc_b"),
        bit_count(col("in_sim").bitwiseXOR(col("c_sim"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
    cross.unionByName(mine(newBands, newBands)).distinct()
  }

  /** Incremental MinHash-LSH mining — the Jaccard-metric sibling of
    * [[incrementalSimhashPairs]]: the standing corpus keeps its
    * signature table (doc_id, shingle_hashes, sig) from the last run;
    * an arriving batch computes sketches only for itself and mines
    * new×corpus + new×new through the band join. Banding is
    * deterministic (sub-signature value equality, r10), so incremental
    * ∪ previous ≡ full recompute exactly — IncrementalDedupSpec pins
    * it. At 100 TB the signature table is the persisted dedup index
    * (bucketed on (band, key) like the SimHash one); per ingest this
    * costs O(batch) sketch work + the band join, never O(corpus).
    */
  def incrementalMinhashPairsOf(corpusSigs: DataFrame, newDocs: DataFrame,
      k: Int = 5, numHashes: Int = 32, bands: Int = 8,
      jaccardMin: Double = 0.5, bucketCap: Int = 1024): DataFrame = {
    val perBand = numHashes / bands
    val newSigs = minhashSignatures(shingles(
      newDocs.select(col("doc_id"), col("text")), k), numHashes)
    def banded(sig: DataFrame): DataFrame =
      sig.select(col("doc_id"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            slice(col("sig"), b * perBand + 1, perBand).as("key"))): _*))
          .as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"),
          col("bk.key").as("key"))
    val cBands = banded(corpusSigs)
    val nBands = banded(newSigs)
    def cands(l: DataFrame, r: DataFrame): DataFrame =
      SkewSafe.cappedEquiJoin(
          l.select(col("doc_id").as("doc_a"), col("band"), col("key")),
          r.select(col("doc_id").as("doc_b"), col("band"), col("key")),
          Seq("band", "key"), xxhash64(col("doc_b")), bucketCap)
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
    // same single-join canonicalization as the SimHash incremental miner
    val cross = SkewSafe.cappedEquiJoin(
        nBands.select(col("doc_id").as("in_id"), col("band"), col("key")),
        cBands.select(col("doc_id").as("c_id"), col("band"), col("key")),
        Seq("band", "key"), xxhash64(col("c_id")), bucketCap)
      .filter(col("in_id") =!= col("c_id"))
      .select(least(col("in_id"), col("c_id")).as("doc_a"),
        greatest(col("in_id"), col("c_id")).as("doc_b"))
    val cand = cross
      .unionByName(cands(nBands, nBands))
      .dropDuplicates("doc_a", "doc_b")
    val sets = corpusSigs.select(col("doc_id"), col("shingle_hashes"))
      .unionByName(newSigs.select(col("doc_id"), col("shingle_hashes")))
    verifyCandidates(cand, sets, jaccardMin)
  }

  /** Character shingles (k-gram substrings) hashed to longs — the input to
    * MinHash and Jaccard: one native pass producing the sorted distinct
    * hash set, so downstream intersections are linear merges.
    */
  def shingles(df: DataFrame, k: Int = 5): DataFrame =
    df.withColumn("shingle_hashes",
      graft.functions.Expressions.shingleHashes(col("text"), k))

  /** MinHash signatures: k minima over seeded splitmix64 rehashes (Broder
    * 1997's independent-permutation approximation), computed in ONE pass by
    * the native MinHashSig expression — k HOF transforms would allocate k
    * arrays per row and dominated the sf0.1 bench at 33 s.
    */
  def minhashSignatures(df: DataFrame, numHashes: Int = 32): DataFrame =
    df.select(col("doc_id"), col("shingle_hashes"),
      graft.functions.Expressions.minhashSig(col("shingle_hashes"), numHashes)
        .as("sig"))

  /** MinHash LSH near-dup candidate pairs + exact Jaccard verify.
    * `numHashes` minhashes banded `bands`-ways: docs sharing any band
    * bucket become candidates (join on the band hash — compact key), then
    * exact shingle-set Jaccard filters false positives.
    */
  def minhashLshPairs(s: SparkSession, dir: String, k: Int = 5,
      numHashes: Int = 32, bands: Int = 8, jaccardMin: Double = 0.5,
      bucketCap: Int = 1024, candCap: Int = AutoCap,
      autoEnumRowsMax: Long = AutoEnumRowsMax,
      autoVerifyBytesMax: Long = AutoVerifyBytesMax): DataFrame = {
    val perBand = numHashes / bands
    val sig = minhashSignatures(shingles(docs(s, dir), k), numHashes)
    // Band join carries ONLY (doc_id, band, key) — shipping the shingle
    // arrays through the exploded self-join multiplies shuffle bytes by
    // bands×2; they are attached once per side to the deduped candidates.
    // The key is the EXACT perBand sub-signature (perBand×8 bytes), not a
    // 32-bit hash of it: candidate semantics become collision-free (a
    // murmur collision could admit a cross-bucket pair that then passes
    // verify), and the band step is engine-replayable (the DuckDB oracle
    // joins on the same value lists). Still sketch-sized on the wire.
    // Buckets above bucketCap are sub-split (skew guard, completeness
    // preserved — see SkewSafe.cappedEquiJoin).
    val banded = sig.select(col("doc_id"),
      size(col("shingle_hashes")).cast("long").as("n"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          slice(col("sig"), b * perBand + 1, perBand).as("key"))): _*))
        .as("bk"))
      .select(col("doc_id"), col("n"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    // AutoCap sentinel (r12, the d3/d7 routing applied to the band
    // join): the within-bucket pairing emits Σ_bucket df·(df−1)/2 rows
    // — quadratic in dup-CLUSTER size, because a cluster's members
    // share every band (near-identical signatures). The skew cap only
    // SPREADS that volume across tasks. x3's BINDING constraint is the
    // verify exchange, not the enumeration: each deduped candidate pair
    // attaches TWO KB-scale shingle arrays, so ~2e7 pairs already spill
    // ~230 GB (the measured sf10 death filled the 76 GB disk while the
    // enumeration estimate sat 10× under the d3 row threshold). The
    // router therefore also estimates verify bytes —
    // (enum/bands) · 2 · avg|set| · 8 — and engages the capped
    // generation when either statistic crosses its wall. Bucket
    // identity folds to xxhash64(band, key) for the window — the
    // capped path's accepted 2^-64 collision semantic (exact verify
    // still guards), while the exact path keeps the literal
    // collision-free array key.
    val cap =
      if (candCap == AutoCap) {
        val keyed = banded.select(col("doc_id"),
          xxhash64(col("band"), col("key")).as("h"))
        val statKey = s"mh|$dir|$k|$numHashes|$bands"
        val enumRows = enumRowsEstimateCached(statKey, keyed, "h")
        val avgN = statCached(s"$statKey|avgn")(sig
          .agg(coalesce(avg(size(col("shingle_hashes"))), lit(0.0)))
          .head().getDouble(0))
        val verifyBytes = enumRows / bands * 2.0 * avgN * 8.0
        if (enumRows > autoEnumRowsMax.toDouble ||
            verifyBytes > autoVerifyBytesMax.toDouble) {
          logRoute("minhashLshPairs", s"capped SNM (cap=$AutoCandCap)",
            f"enumRows=$enumRows%.3g max=$autoEnumRowsMax, " +
              f"verifyBytes=$verifyBytes%.3g max=$autoVerifyBytesMax")
          AutoCandCap
        } else 0
      } else candCap
    val cand =
      if (cap > 0)
        capCandidates(snmCandidates(
          banded.select(col("doc_id"), col("n"),
            xxhash64(col("band"), col("key")).as("h")),
          "h", cap, jaccardMin), cap)
      else SkewSafe.cappedEquiJoin(
          banded.select(col("doc_id").as("doc_a"), col("band"), col("key")),
          banded.select(col("doc_id").as("doc_b"), col("band"), col("key")),
          Seq("band", "key"), xxhash64(col("doc_b")), bucketCap)
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
    verifyCandidates(cand, sig.select(col("doc_id"), col("shingle_hashes")),
      jaccardMin)
  }

  /** Connected components over a near-dup pair graph by alternating
    * large-star/small-star CONTRACTION (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014): every node ends up
    * pointing at the smallest doc_id reachable from it — the cluster id.
    * This is the step after pair mining in a real dedup pipeline (pairs
    * alone don't say which docs to keep; clusters + a canonical
    * representative do).
    *
    * Why contraction and not min-label propagation (the r1-r8
    * implementation): propagation re-joins the FULL pair graph against
    * the label table every round for O(diameter) rounds — on a dense
    * duplicate graph (the 100 TB risk case) that is an edge-count-sized
    * shuffle per round over a graph that never shrinks. Star rounds
    * CONTRACT the edge set: after one large+small round a clique
    * collapses to a star, so later rounds shuffle node-count-sized data,
    * and the round bound is O(log n) regardless of diameter or density.
    *
    * Each star op is one hash exchange + in-partition sort (the window
    * min over the node's neighbor list) plus a dedup exchange;
    * localCheckpoint each round truncates the otherwise-doubling
    * iterative plan, and superseded rounds' blocks are unpersisted
    * (session-lifetime pinning starves later queries).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("u")
    // large-star: every neighbor v > u connects to m = min(Γ(u) ∪ {u});
    // small-star: every neighbor v ≤ u, and u itself, connects to m.
    // Both emit one row per undirected-neighbor row — never more edges
    // than 2|E|, and strictly fewer once stars form.
    def star(cur: DataFrame, large: Boolean): DataFrame = {
      val und = cur.union(cur.select(col("v").as("u"), col("u").as("v")))
      val withM = und.withColumn("m",
        least(col("u"), min("v").over(w)))
      val out =
        if (large)
          withM.filter(col("v") > col("u"))
            .select(col("v").as("u"), col("m").as("v"))
        else
          withM.filter(col("v") <= col("u"))
            .select(col("v").as("u"), col("m").as("v"))
            .union(withM.select(col("u"), col("m")))
      out.filter(col("u") =!= col("v")).dropDuplicates("u", "v")
    }
    // convergence = canonical edge set unchanged across a full round,
    // checked as (count, xxhash64 bit_xor) over the checkpointed blocks —
    // a scan-reduce, no extra shuffle, and xor never overflows under
    // ANSI mode; a false-equal needs a ~2^-64 collision on a DEDUPED set
    // of 64-bit hashes
    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var e = edges.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .filter(col("u") =!= col("v")).dropDuplicates("u", "v")
      .localCheckpoint(true)
    var fp = fingerprint(e)
    var iter = 0
    var converged = fp._1 == 0L
    while (!converged && iter < maxIter) {
      val next = star(star(e, large = true), large = false)
        .localCheckpoint(true)
      val nfp = fingerprint(next)
      converged = nfp == fp
      unpersistCheckpoint(e)
      e = next
      fp = nfp
      iter += 1
    }
    // fixpoint is a star forest: every edge is (member, component-min);
    // roots appear only on the v side and label themselves
    e.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .union(e.select(col("v").as("doc_id"), col("v").as("cluster_id")))
      .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))
  }

  /** Release the block-store storage behind an eager localCheckpoint'd
    * frame (safe only when nothing will read that frame again — the RDD's
    * lineage was truncated, so its blocks cannot be recomputed).
    */
  private[ext] def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Near-duplicate clusters: d3's exact pair graph → connected
    * components → (doc_id, cluster_id = min doc_id in component).
    */
  /** The dedup pipeline's shared intermediates, built once per (corpus,
    * k, jaccardMin) and cached AS PARQUET PATHS (session-free, the IVF
    * index pattern): d3 is the MINING stage and keeps computing pairs
    * from scratch — its bench time is the honest build cost — while d4
    * (clustering) and d9 (survivor selection) consume the shared
    * artifacts instead of re-mining the identical pair graph. That is
    * the production pipeline shape: pairs → clusters → survivors is ONE
    * dataflow, and re-running the 20-second mining stage three times per
    * sweep measured redundancy, not operators. Steady-state stage costs
    * are what the bench now reports for d4/d9 (min-of-2 semantics, like
    * every other artifact-backed query).
    */
  /** Session-free parquet artifact of a miner's output, built on first
    * use (see [[ArtifactCache]]). Verifiers consume these instead of
    * re-executing the miner: the artifact IS the result the gate
    * records, so checking it is strictly more faithful than checking a
    * second execution — and each verifier stops paying a full re-mine
    * per sweep.
    */
  private def minerArtifact(s: SparkSession, key: String)
      (build: => DataFrame): DataFrame =
    ArtifactCache.frame(s, s"miner|$key")(build)

  def winnowPairsArtifact(s: SparkSession, dir: String, k: Int, w: Int,
      jaccardMin: Double): DataFrame =
    minerArtifact(s, s"wp|$dir|$k|$w|$jaccardMin")(
      winnowPairs(s, dir, k, w, jaccardMin))

  def simhashPairsArtifact(s: SparkSession, dir: String,
      maxDist: Int): DataFrame =
    minerArtifact(s, s"sp|$dir|$maxDist")(
      simhashNearDupPairs(s, dir, maxDist))

  def minhashPairsArtifact(s: SparkSession, dir: String, k: Int,
      numHashes: Int, bands: Int, jaccardMin: Double): DataFrame =
    minerArtifact(s, s"mp|$dir|$k|$numHashes|$bands|$jaccardMin")(
      minhashLshPairs(s, dir, k, numHashes, bands, jaccardMin))

  /** The d3/d4 pair graph as a readable artifact (see minedPairsPath). */
  def prefixPairsArtifact(s: SparkSession, dir: String, k: Int,
      jaccardMin: Double): DataFrame =
    s.read.parquet(minedPairsPath(s, dir, k, jaccardMin))

  private def minedPairsPath(s: SparkSession, dir: String, k: Int,
      jaccardMin: Double): String =
    ArtifactCache.path(s"pairs|$dir|$k|$jaccardMin")(out =>
      prefixJaccardPairs(s, dir, k, jaccardMin)
        .write.mode("overwrite").parquet(out))

  private def clustersPath(s: SparkSession, dir: String, k: Int,
      jaccardMin: Double): String =
    ArtifactCache.path(s"clusters|$dir|$k|$jaccardMin")(out =>
      connectedComponents(
          s.read.parquet(minedPairsPath(s, dir, k, jaccardMin))
            .select("doc_a", "doc_b"))
        .write.mode("overwrite").parquet(out))

  /** Force-build the shared dedup-pipeline artifacts (pair graph +
    * clusters) for `dir` so consumers measure steady-state stage costs.
    * At gate scale Bench's min-of-2 already reports the warm pass; a
    * one-run scale sweep has no second pass, so without this warm-up
    * d4's first timed call re-pays the entire mining build — measured
    * redundancy, not connected components (sf10 r13: 577 s of which
    * ~560 s was the artifact build d3 had already timed honestly).
    */
  def warmSharedArtifacts(s: SparkSession, dir: String, k: Int = 3,
      jaccardMin: Double = 0.4): Unit = {
    minedPairsPath(s, dir, k, jaccardMin)
    clustersPath(s, dir, k, jaccardMin)
  }

  /** d4: iterative CC is THIS query's operator, so it runs fresh on
    * every call — only the pair-mining input comes from the shared
    * artifact. (Reading the cluster artifact back here would bench a
    * parquet scan, not connected components.)
    */
  def duplicateClusters(s: SparkSession, dir: String, k: Int = 3,
      jaccardMin: Double = 0.4): DataFrame =
    connectedComponents(
      s.read.parquet(minedPairsPath(s, dir, k, jaccardMin))
        .select("doc_a", "doc_b"))

  /** Canonical-representative selection (d9) — the step AFTER clustering
    * in a real dedup pipeline: clusters alone don't say which doc to
    * keep. Per near-dup cluster keep exactly ONE doc — the longest
    * (dedup keeps the most complete variant), smallest doc_id on ties —
    * and every unclustered doc survives as its own keeper. Output:
    * (doc_id, cluster_id, n_members) — the survivor list with its dedup
    * provenance.
    *
    * Plan shape at 100 TB: clusters come from the iterative CC (compact
    * keys); the keeper per cluster is the bounded-heap
    * [[graft.plans.TopKPerGroup]] with k=1 (one exchange on cluster_id,
    * one row of state per cluster — no WindowExec sort); the singleton
    * side is a left-anti join against the (small) clustered-id set.
    */
  def keepBestPerCluster(s: SparkSession, dir: String, k: Int = 3,
      jaccardMin: Double = 0.4): DataFrame = {
    // d9's operator is SURVIVOR SELECTION; clusters are the upstream
    // pipeline artifact (built once per corpus, like the pair graph)
    val clusters = s.read.parquet(clustersPath(s, dir, k, jaccardMin))
    val d = docs(s, dir).select(col("doc_id"), col("n_chars"))
    val sizes = clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"))
    val keepers = graft.plans.TopKPerGroup.topK(
        clusters.join(d, "doc_id"), Seq("cluster_id"), "n_chars", 1,
        desc = true, tiebreakCols = Seq("doc_id"))
      .join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("n_members"))
    val singles = d.join(clusters, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"),
        lit(1L).as("n_members"))
    keepers.unionByName(singles)
  }

  /** Exact Jaccard over pre-sorted distinct shingle arrays `sh_a`/`sh_b`:
    * |A∩B| by native linear merge, |A∪B| = |A|+|B|-|A∩B|.
    */
  private def jaccardOfSorted(cand: DataFrame): DataFrame =
    cand
      .withColumn("common",
        graft.functions.Expressions.sortedIntersectSize(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("common")))

  /** Bound the exact-verify exchange (the d3/d7 100×-scale wall,
    * SCALING.md session 3): keep, per document, only its `cap`
    * closest-size candidates on EACH side (union over both roles), so
    * the pair volume entering the KB-payload verify join is ≤ 2·n·cap
    * instead of quadratic in duplication-cluster size. Candidates rank
    * by shared key-token count DESC (the PPJoin overlap signal, already
    * emitted by the candidate join's pair-dedup for free), then size
    * closeness |n_a − n_b| (J(a,b) ≥ t forces t·|a| ≤ |b| ≤ |a|/t),
    * then partner id — fully deterministic. Runs through
    * [[graft.plans.TopKPerGroup]], so at most `cap` rows per doc per
    * partition ever cross the wire — the cap itself costs no KB
    * payloads.
    *
    * Semantics: output ⊆ the exact pair set (sound — every emitted pair
    * still passes the exact Jaccard verify), and each doc retains its
    * `cap` highest-overlap candidates per role, so a dup cluster of
    * size m ≤ cap+1 is kept completely. ABOVE the cap the retained
    * pairs are the highest-overlap ones per doc — recall on true pairs
    * is heuristic (a doc whose top-cap candidates all fail the verify
    * loses its tail partners); Round11Spec measures that coverage and
    * pins the structural guarantees. cap=0 disables (the exact path,
    * unchanged).
    *
    * Alternative considered and rejected (r11): a gram-level verify
    * (join pair←tokens, count intersections) never ships arrays but
    * emits O(|a|) 24-byte rows per pair through the first join's
    * exchange — ~3× MORE bytes than attaching both arrays once per
    * capped pair. The cap is what bounds the volume; the array verify
    * stays the cheaper tail once pairs are bounded.
    */
  /** Bounded candidate GENERATION for the capped path — the sorted-
    * neighborhood window (Hernández/Stolfo 1995, the classic SNM dedup
    * move) applied per key token: within each token's bucket, docs sort
    * by (set size, doc_id) and each doc pairs only with the next `cap`
    * neighbors, so the token join emits ≤ df·cap rows instead of df²/2.
    * This is what the r11 sf10 probe showed the cap must bound: the
    * per-pair×per-shared-token enumeration (~10¹⁰ rows on the ×100
    * corpus) fills the disk long before the pair-dedup or verify can
    * drop anything — capping AFTER enumeration caps nothing.
    *
    * Recall shape: a dup cluster's members share size (near-identical
    * sets), so they sort ADJACENTLY in every shared token's bucket —
    * the band graph keeps the cluster connected for downstream CC at
    * any cluster size; cross-size pairs (J ≥ t forces sizes within
    * 1/t×) sit near each other by the size-major order. A pair farther
    * than `cap` apart in EVERY shared token's order is lost — the
    * documented approximation of the capped mode.
    *
    * One hash exchange on the key (the same exchange the exact
    * self-join shuffles) + in-partition sort, then a STREAMING
    * mapPartitions slider holding only the last `cap` rows — O(cap)
    * task memory regardless of bucket size. The r13 sf10 sweep proved
    * why this cannot be a `collect_list` WindowExec: WindowExec buffers
    * each key's ENTIRE partition in an ExternalAppendOnlyUnsafeRowArray
    * before evaluating frames, so ONE whale bucket (a fingerprint/token
    * shared by ~10⁵ replicated docs) starved task memory and killed
    * both d3c and the d7 capped route with UNABLE_TO_ACQUIRE_MEMORY in
    * `WindowPartitionEvaluator.fetchNextPartition`. The slider is the
    * textbook SNM pass (Hernández/Stolfo ran it on tape!): emit each
    * row paired with the ≤cap rows before it in (key, n, doc_id) order,
    * reset at key boundaries. mapPartitions is the brief's last resort,
    * and this is the last-resort case — Spark has no bounded-frame
    * window that does not buffer whole partitions. Pair output is
    * identical to the frame formulation: (r, s) within cap in s-at-r's
    * frame ⟺ r in s's trailing buffer, and every downstream column is
    * role-symmetric (least/greatest).
    */
  private def snmCandidates(tok: DataFrame, keyCol: String, cap: Int,
      jaccardMin: Double): DataFrame = {
    val s = tok.sparkSession
    import s.implicits._
    val sorted = tok
      .select(col(keyCol).cast("long").as("k"),
        col("doc_id").cast("long").as("doc_id"),
        col("n").cast("long").as("n"))
      .repartition(col("k"))
      .sortWithinPartitions("k", "n", "doc_id")
      .as[(Long, Long, Long)]
    // Pair orientation (least/greatest), the self-pair drop, and the
    // size-ratio gate run INSIDE the slider lambda, and the two doc
    // sizes pack into one long — so the row entering the pair-dedup
    // exchange is 3 longs, not the 5 the Catalyst formulation shuffled
    // (the r15 shuffle diet: D7ShuffleProbe, last at commit dd46e98,
    // measured the pair exchange as the largest d7 shuffle writer, and
    // every byte here is written
    // once and read twice by the byA/byB cap consumers). Same Long ×
    // Double arithmetic as the old Catalyst filter, so the emitted pair
    // SET is bit-identical. The 31-bit n-pack is guarded: n counts
    // shingles per document — 2^31 shingles would be a 2 GB document.
    val pairs = sorted.mapPartitions { it =>
      var curKey = 0L
      var started = false
      val buf = new scala.collection.mutable.ArrayDeque[(Long, Long)](cap + 1)
      it.flatMap { case (k, doc, n) =>
        if (!started || k != curKey) {
          curKey = k; started = true; buf.clear()
        }
        val out = buf.toVector.flatMap { case (d0, n0) =>
          if (d0 == doc) None // key repeats within one doc (multiset)
          else {
            val (a, na, b, nb) =
              if (d0 < doc) (d0, n0, doc, n) else (doc, n, d0, n0)
            if (na * jaccardMin <= nb && nb * jaccardMin <= na) {
              if (((na | nb) & 0xFFFFFFFF80000000L) != 0L)
                throw new IllegalStateException(
                  s"snmCandidates: doc size $na/$nb overflows the " +
                    "31-bit n-pack")
              Some((a, b, (na << 32) | nb))
            } else None
          }
        }
        buf.append((doc, n))
        if (buf.length > cap) { buf.removeHead(): Unit }
        out
      }
    }.toDF("doc_a", "doc_b", "n_pack")
    pairs
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared_keys"),
        first(col("n_pack")).as("np"))
      .select(col("doc_a"), col("doc_b"), col("shared_keys"),
        shiftright(col("np"), 32).as("n_a"),
        col("np").bitwiseAND(lit(0xFFFFFFFFL)).as("n_b"))
  }

  private def capCandidates(cand: DataFrame, cap: Int): DataFrame =
    if (cap <= 0) cand.select("doc_a", "doc_b")
    else {
      // rank: shared key-token count DESC (the PPJoin overlap signal —
      // already produced by the candidate join for free), then size
      // closeness, then partner id. Negate the count so ONE ascending
      // sort order serves TopKPerGroup's orderCol+tiebreak contract.
      val ranked = cand
        .withColumn("rk", -col("shared_keys"))
        .withColumn("sz_diff", abs(col("n_a") - col("n_b")))
      val byA = graft.plans.TopKPerGroup.topK(ranked, Seq("doc_a"),
        "rk", cap, desc = false, tiebreakCols = Seq("sz_diff", "doc_b"))
      val byB = graft.plans.TopKPerGroup.topK(ranked, Seq("doc_b"),
        "rk", cap, desc = false, tiebreakCols = Seq("sz_diff", "doc_a"))
      byA.select("doc_a", "doc_b").unionByName(byB.select("doc_a", "doc_b"))
        .dropDuplicates("doc_a", "doc_b")
    }

  /** Shared exact-verify tail for every candidate generator (MinHash
    * bands, prefix filter, winnow fingerprints): attach each side's
    * shingle set once to the deduped candidate pairs, compute exact
    * Jaccard by linear merge, threshold.
    */
  private def verifyCandidates(cand: DataFrame, sets: DataFrame,
      jaccardMin: Double): DataFrame = {
    val withSets = cand
      .join(sets.select(col("doc_id").as("doc_a"),
        col("shingle_hashes").as("sh_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"),
        col("shingle_hashes").as("sh_b")), Seq("doc_b"))
    jaccardOfSorted(withSets).filter(col("jaccard") >= jaccardMin)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Exact n-gram Jaccard pairs via PREFIX FILTERING (Chaudhuri et al.
    * SSJoin 2006 / Bayardo et al. AllPairs 2007) — the scale-safe exact
    * set-similarity join. Provably complete, no all-pairs step:
    *
    * Lemma: if |a∩b| ≥ α and both sets are sorted by one global total
    * order, the (|a|−α+1)-prefix of a and (|b|−α+1)-prefix of b share a
    * token (the smallest common element has ≥ α−1 common elements after
    * it, so it sits within the first |x|−α+1 of each). J(a,b) ≥ t implies
    * |a∩b| ≥ t·|a∪b| ≥ t·|x| for both x, so prefix length
    * |x| − ⌊t·|x|⌋ + 1 suffices (⌊·⌋ is conservative vs ⌈·⌉ — immune to
    * float rounding).
    *
    * The global order is (document frequency ASC, hash) — rarest shingles
    * first — so prefixes hold rare tokens and the equi-join on
    * (lang, source, shingle) has small buckets. Candidates then get the
    * exact linear-merge Jaccard verify. 100 TB shape: two compact-key
    * shuffles (df agg, prefix join) + one candidate join — no quadratic
    * block, no broadcast of a whole table.
    */
  def prefixJaccardPairs(s: SparkSession, dir: String, k: Int = 3,
      jaccardMin: Double = 0.2,
      blockCols: Seq[String] = Seq("lang", "source"),
      rarestFirst: Boolean = true,
      compactKeys: Boolean = true,
      candCap: Int = AutoCap,
      candTokens: Int = 0,
      autoEnumRowsMax: Long = AutoEnumRowsMax,
      autoVerifyBytesMax: Long = AutoVerifyBytesMax): DataFrame = {
    val sh = shingles(docs(s, dir), k).select(
      (Seq(col("doc_id")) ++ blockCols.map(col) :+ col("shingle_hashes")): _*)
    val plen = (n: org.apache.spark.sql.Column) =>
      n - floor(lit(jaccardMin) * n) + 1
    // compactKeys (default, the at-scale shape): fold (blockCols…, h)
    // into ONE xxhash64 join key so every token-level exchange (df agg,
    // window sort, prefix self-join) moves 8 bytes of key instead of
    // (lang, source, h) strings — ~2× fewer shuffle/scratch bytes, the
    // lever that matters for the d3 sf10 spill wall (SCALING.md). A
    // 64-bit collision merges two blocks' token buckets and can ADD a
    // candidate pair the literal path would never generate
    // (~2^-64/pair; the exact Jaccard verify discards it unless the
    // docs are genuinely similar across blocks — an accepted
    // one-in-2^64 semantic, same as d11). NULL block values must be
    // handled explicitly: the literal join's `l.c === r.c` is
    // null-FALSE, so null-block docs never pair there — but xxhash64
    // SKIPS null inputs, which would both let null-block docs pair and
    // collide (NULL,"x") with ("x",NULL). Filtering them out up front
    // reproduces the literal semantics exactly (they cannot appear in
    // any candidate either way). compactKeys=false keeps the literal
    // path the equivalence spec compares against. Ordering by (df, jk)
    // instead of (df, h) is just a different global total order —
    // completeness is order-free.
    val jkey = xxhash64((blockCols.map(col) :+ col("h")): _*)
    val blockNotNull = blockCols.map(col(_).isNotNull)
      .foldLeft(lit(true))(_ && _)
    def tokenTable(candTok: Int): DataFrame = if (rarestFirst) {
      val tok0 = sh.select(
        (Seq(col("doc_id"), size(col("shingle_hashes")).cast("long").as("n")) ++
          blockCols.map(col) :+ explode(col("shingle_hashes")).as("h")): _*)
      // compactKeys carries BOTH keys: the folded 8-byte join/bucket key
      // (`h`) and the raw FNV shingle hash (`ho`) as the ORDERING
      // tie-break. Ordering by the raw hash instead of the folded key
      // (r13) keeps every window order replayable by the DuckDB capped
      // oracle through the validated fnvGramSql loop — xxhash64 of a
      // mixed (string, string, long) tuple has no SQL emulation, and
      // the prefix lemma only needs SOME consistent global total order,
      // which (df, raw hash) is (within a doc the block columns are
      // constant, so ho alone breaks every tie).
      val tok =
        if (compactKeys) tok0.filter(blockNotNull)
          .select(col("doc_id"), col("n"), jkey.as("h"), col("h").as("ho"))
        else tok0.withColumn("ho", col("h"))
      // Only REPEATED shingles need their true df: the df=1 long tail (the
      // overwhelming majority of any real corpus) sorts identically whether
      // joined or defaulted, so filtering to df>1 shrinks the frequency
      // table by orders of magnitude — small enough that AQE turns the
      // token-level shuffle join into a broadcast join.
      val dfreq = tok.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") > 1)
      val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      val kept = tok.join(dfreq, Seq("h"), "left").na.fill(1L, Seq("df"))
        .withColumn("rn", row_number().over(byDoc.orderBy("df", "ho")))
        .filter(col("rn") <= plen(col("n")))
      // candTokens (>0, capped mode only): the sf10 probe showed the
      // wall after the SNM window is pair MULTIPLICITY — every pair
      // re-generated once per shared prefix token (~0.6·|doc| times),
      // n·prefixLen·cap rows through the pair-dedup exchange. Two cuts,
      // one free and one bounded: (a) df=1 prefix tokens generate
      // nothing (single-row buckets have no window neighbors) — dropped
      // EXACTLY, zero recall change; (b) of the remaining shared-capable
      // tokens keep the P rarest per doc (re-ranked among df≥2 — the
      // small-bucket discriminators), bounding multiplicity to n·P·cap.
      // A true pair misses only if none of its shared tokens make
      // either doc's rarest-P (Round11Spec measures the loss).
      val kept2 =
        if (candTok > 0)
          kept.filter(col("df") >= 2)
            .withColumn("rn2",
              row_number().over(byDoc.orderBy("df", "ho")))
            .filter(col("rn2") <= candTok)
        else kept
      if (compactKeys) kept2.select("doc_id", "n", "h")
      else kept2.select((Seq(col("doc_id"), col("n")) ++ blockCols.map(col) :+
        col("h")): _*)
    } else {
      val pref = sh.withColumn("n", size(col("shingle_hashes")))
        .select((Seq(col("doc_id"), col("n")) ++ blockCols.map(col) :+
          explode(slice(col("shingle_hashes"), lit(1),
            plen(col("n")).cast("int"))).as("h")): _*)
      if (compactKeys) pref.filter(blockNotNull)
        .select(col("doc_id"), col("n"), jkey.as("h"))
      else pref
    }
    // AutoCap sentinel (the DEFAULT): estimate the exact path's
    // candidate-ENUMERATION volume — Σ_token df·(df−1)/2 over the
    // prefix-kept token table, the rows the token self-join emits before
    // any dedup can drop one — with one compact-key aggregate, and
    // engage the capped generation only above `autoEnumRowsMax` (the
    // Similarity.autoPlanes pattern: data decides, not a knob a caller
    // must know about). Below the wall the result is the EXACT pair set;
    // above it the capped path is what completes at all (r11 sf10 probe:
    // the enumeration fills the disk at ~10¹⁰ rows). The estimate is an
    // upper bound of the join output (size-ratio and doc_id< pruning
    // only shrink it), so routing errs toward survival.
    val (cap, candTok) =
      if (candCap == AutoCap) {
        require(candTokens == 0,
          "candTokens is chosen by the auto router; pass candCap " +
            "explicitly to control it")
        // the literal/unordered paths (compactKeys=false /
        // rarestFirst=false) are equivalence-spec baselines — the SNM
        // cap doesn't apply to them, so auto resolves to exact there
        if (!compactKeys || !rarestFirst) (0, 0)
        else {
          val est = enumRowsEstimateCached(
            s"pj|$dir|$k|$jaccardMin|${blockCols.mkString(",")}",
            tokenTable(0), "h")
          // Verify-byte gate (r13, the x3 lesson extended): the exact
          // verify attaches two KB-scale shingle arrays per DEDUPED
          // candidate pair, so a corpus of FEW but HUGE near-dup docs
          // can pass the row gate yet die in verify bytes. Deduped
          // pairs ≈ enum / multiplicity, where multiplicity (shared
          // prefix tokens per generated pair) is bounded by the prefix
          // length — for the dominating boilerplate-cluster case
          // (identical docs) EVERY prefix token is shared, so
          // enum / ((1−j)·avg|set| + 1) estimates the deduped pair
          // count and each pair carries 2·avg|set|·8 verify bytes.
          val avgN = statCached(s"shavg|$dir|$k")(sh
            .agg(coalesce(avg(size(col("shingle_hashes"))), lit(0.0)))
            .head().getDouble(0))
          val prefixLen = math.max(1.0, (1.0 - jaccardMin) * avgN + 1.0)
          val verifyBytes = est / prefixLen * 2.0 * avgN * 8.0
          if (est > autoEnumRowsMax.toDouble ||
              verifyBytes > autoVerifyBytesMax.toDouble) {
            logRoute("prefixJaccardPairs",
              s"capped SNM (cap=$AutoCandCap tokens=$AutoCandTokens)",
              f"enumRows=$est%.3g max=$autoEnumRowsMax, " +
                f"verifyBytes=$verifyBytes%.3g max=$autoVerifyBytesMax")
            (AutoCandCap, AutoCandTokens)
          } else (0, 0)
        }
      } else (candCap, candTokens)
    val ordered = tokenTable(candTok)
    // size filter: J(a,b) >= t forces t·|a| <= |b| <= |a|/t — prunes
    // candidate pairs between very different-sized sets in the join itself
    val blockEq = if (compactKeys) Nil
      else blockCols.map(c => col(s"l.$c") === col(s"r.$c"))
    val joinCond = (blockEq ++ Seq(
      col("l.h") === col("r.h"), col("l.doc_id") < col("r.doc_id"),
      col("l.n") * lit(jaccardMin) <= col("r.n"),
      col("r.n") * lit(jaccardMin) <= col("l.n")))
      .reduce(_ && _)
    // the pair-dedup is a groupBy either way; counting the rows it
    // collapses yields the shared-prefix-token overlap for free — the
    // cap's primary ranking signal. n_a/n_b (functional on the ids)
    // ride along for the size-closeness tiebreak. The capped path swaps
    // the token self-join for the sorted-neighborhood window
    // ([[snmCandidates]]) — capping must bound GENERATION, not just the
    // verified set (r11 sf10 probe: the pair×shared-token enumeration
    // alone fills the disk).
    require(cap == 0 || compactKeys,
      "candCap requires compactKeys (the SNM window keys on the folded " +
        "block+token hash)")
    require(candTok == 0 || (cap > 0 && rarestFirst),
      "candTokens is a capped-mode knob (needs candCap > 0 and the " +
        "rarest-first prefix order)")
    val cand0 =
      if (cap > 0) snmCandidates(ordered, "h", cap, jaccardMin)
      else ordered.alias("l").join(ordered.alias("r"), joinCond)
        .groupBy(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared_keys"),
          first(col("l.n")).as("n_a"), first(col("r.n")).as("n_b"))
    val cand = capCandidates(cand0, cap)
    verifyCandidates(cand, sh.select(col("doc_id"), col("shingle_hashes")),
      jaccardMin)
  }

  /** Near-dup pair mining over winnowing fingerprints: docs sharing ANY
    * fingerprint become candidates (equi-join on the 8-byte fingerprint —
    * the same compact-key shuffle shape as MinHash bands, but with
    * winnowing's deterministic floor: every pair sharing a ≥ w+k−1-char
    * substring is guaranteed a candidate), then exact shingle-set Jaccard
    * filters to `jaccardMin`. Fingerprints are ~2/(w+1) of the shingle
    * set, so the join input is an order of magnitude smaller than joining
    * raw shingles. Found pairs are by construction a subset of the exact
    * prefix-join pairs at the same (k, jaccardMin) — the wv2 invariant.
    */
  def winnowPairs(s: SparkSession, dir: String, k: Int = 3, w: Int = 8,
      jaccardMin: Double = 0.4,
      blockCols: Seq[String] = Seq("lang", "source"),
      compactKeys: Boolean = true,
      candCap: Int = AutoCap,
      candTokens: Int = 0,
      autoEnumRowsMax: Long = AutoEnumRowsMax,
      autoVerifyBytesMax: Long = AutoVerifyBytesMax): DataFrame = {
    val sh = shingles(docs(s, dir), k).select(
      (Seq(col("doc_id"), col("shingle_hashes")) ++ blockCols.map(col) :+
        graft.functions.Expressions.winnowFingerprints(col("text"), k, w)
          .as("fps")): _*)
    // same (lang, source) blocking as the exact prefix join — candidates
    // never cross blocks, keeping wv2's subset relation exact and the
    // join buckets pruned. compactKeys folds (blockCols…, fp) into one
    // xxhash64 join key (8 bytes crosses the exchange instead of the
    // block strings + fp). A 2^-64 collision can ADD a candidate the
    // literal path would not generate; the exact verify discards it
    // unless the docs are genuinely similar across blocks (accepted
    // 2^-64 semantic, same as d3/d11). Null-block rows are filtered to
    // reproduce the literal join's null-FALSE semantics exactly —
    // xxhash64 would otherwise skip the nulls and let them pair.
    val fp0 = sh.select(
      (Seq(col("doc_id"), size(col("shingle_hashes")).cast("long").as("n"))
        ++ blockCols.map(col) :+ explode(col("fps")).as("fp")): _*)
    val fp = if (compactKeys)
      fp0.filter(blockCols.map(col(_).isNotNull).foldLeft(lit(true))(_ && _))
        .select(col("doc_id"), col("n"),
          xxhash64((blockCols.map(col) :+ col("fp")): _*).as("fp"))
      else fp0
    val blockEq = if (compactKeys) Nil
      else blockCols.map(c => col(s"l.$c") === col(s"r.$c"))
    val joinCond = (blockEq ++ Seq(
      col("l.fp") === col("r.fp"), col("l.doc_id") < col("r.doc_id")))
      .reduce(_ && _)
    // AutoCap sentinel: same data-driven routing as prefixJaccardPairs,
    // over the (smaller) fingerprint table — winnow fingerprints are
    // ~2/(w+1) of the shingles, so this trips later, but a boilerplate-
    // heavy corpus (one hot fingerprint shared by millions of docs) is
    // exactly the df² blow-up the estimate catches.
    val (cap, candTok) =
      if (candCap == AutoCap) {
        require(candTokens == 0,
          "candTokens is chosen by the auto router; pass candCap " +
            "explicitly to control it")
        // the literal path (compactKeys=false) is the equivalence-spec
        // baseline — auto resolves to exact there (see prefixJaccardPairs)
        if (!compactKeys) (0, 0)
        else {
          val statKey = s"wp|$dir|$k|$w|${blockCols.mkString(",")}"
          val est = enumRowsEstimateCached(statKey, fp, "fp")
          // Verify-byte gate (r13, see prefixJaccardPairs): deduped
          // pairs ≈ enum / avg|fps| (identical docs share EVERY
          // fingerprint), each carrying two avg|set|-sized shingle
          // arrays into the exact verify.
          val avgN = statCached(s"shavg|$dir|$k")(sh
            .agg(coalesce(avg(size(col("shingle_hashes"))), lit(0.0)))
            .head().getDouble(0))
          val avgF = statCached(s"$statKey|avgf")(sh
            .agg(coalesce(avg(size(col("fps"))), lit(0.0)))
            .head().getDouble(0))
          val verifyBytes = est / math.max(1.0, avgF) * 2.0 * avgN * 8.0
          if (est > autoEnumRowsMax.toDouble ||
              verifyBytes > autoVerifyBytesMax.toDouble) {
            logRoute("winnowPairs",
              s"capped SNM (cap=$AutoCandCap tokens=$AutoCandTokens)",
              f"enumRows=$est%.3g max=$autoEnumRowsMax, " +
                f"verifyBytes=$verifyBytes%.3g max=$autoVerifyBytesMax")
            (AutoCandCap, AutoCandTokens)
          } else (0, 0)
        }
      } else (candCap, candTokens)
    require(cap == 0 || compactKeys,
      "candCap requires compactKeys (the SNM window keys on the folded " +
        "block+fingerprint hash)")
    require(candTok == 0 || cap > 0,
      "candTokens is a capped-mode knob (needs candCap > 0)")
    // candTokens (capped mode, r13 — the d3 lesson applied to d7): the
    // fingerprint table has one row per (doc, fp), so a replicated
    // corpus still feeds Σ|fps|·cap generation rows into the SNM pass
    // (measured: the d7 capped route at sf10 = 1.1e8 fp rows × 64).
    // Two cuts, one free and one bounded: df=1 fingerprints generate
    // NOTHING (single-row buckets have no neighbors) — dropped exactly,
    // zero recall change; of the shared-capable rest keep the P rarest
    // per doc, bounding generation to n·P·cap. A true pair misses only
    // if none of its shared fingerprints make either doc's rarest-P.
    val fpForSnm =
      if (candTok > 0) {
        val byDoc = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id")
        val dfreq = fp.groupBy("fp").agg(count(lit(1)).as("df"))
          .filter(col("df") > 1)
        fp.join(dfreq, Seq("fp"))
          .withColumn("rn", row_number().over(byDoc.orderBy("df", "fp")))
          .filter(col("rn") <= candTok)
          .select("doc_id", "n", "fp")
      } else fp
    val cand0 =
      if (cap > 0) snmCandidates(fpForSnm, "fp", cap, jaccardMin)
      else fp.alias("l").join(fp.alias("r"), joinCond)
        .groupBy(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared_keys"),
          first(col("l.n")).as("n_a"), first(col("r.n")).as("n_b"))
    val cand = capCandidates(cand0, cap)
    verifyCandidates(cand, sh.select(col("doc_id"), col("shingle_hashes")),
      jaccardMin)
  }

  /** Exact n-gram Jaccard similarity for a bounded candidate set (here:
    * all pairs within the same `(lang, source)` block — kept as the
    * brute-force baseline that [[prefixJaccardPairs]] must equal; the
    * declared d3 query routes through the prefix-filter join). Jaccard
    * over distinct shingle-hash sets equals Jaccard over the substring
    * sets themselves (collision-free at corpus scale), which is what the
    * oracle computes.
    */
  def ngramJaccardPairs(s: SparkSession, dir: String, k: Int = 3,
      jaccardMin: Double = 0.2): DataFrame = {
    val sh = shingles(docs(s, dir), k).select(
      col("doc_id"), col("lang"), col("source"), col("shingle_hashes"))
    val l = sh.alias("l")
    val r = sh.alias("r")
    val cand = l.join(r, col("l.lang") === col("r.lang") &&
        col("l.source") === col("r.source") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        col("l.shingle_hashes").as("sh_a"), col("r.shingle_hashes").as("sh_b"))
    jaccardOfSorted(cand).filter(col("jaccard") >= jaccardMin)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Exact substring-duplication spans (the ExactSubstr dedup of Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", §4.1 — re-expressed relationally): for every document, the
    * maximal character spans whose every k-char window also occurs in at
    * least one OTHER document. Those spans are what that pipeline cuts
    * out of the training text.
    *
    * Shape: positional k-gram explode → groupBy(gram) to find cross-doc
    * grams → join back → per-doc gaps-and-islands merge (one window
    * pass, lag + running sum) → span aggregate. Every shuffle is on a
    * compact key — the gram's 8-byte [[graft.functions.GramHashArray]]
    * hash by default (the paper's suffix array is a single-machine
    * structure; the positional-gram join is the standard distributed
    * equivalent). The window
    * partitions by doc_id, so span assembly never crosses executors.
    * Overlapping or adjacent duplicated windows merge into one span
    * (`pos > prev + k` breaks; positions ascending make lag = running
    * max).
    */
  def dupSpans(s: SparkSession, dir: String, k: Int = 25,
      hashKeys: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // id-repartition BEFORE the ~300× explode: the fixture is one parquet
    // file → one input partition, which would serialize the gram
    // generation and the partial aggregate (same fix as Multimodal's
    // decode passes). Also pre-co-locates docs for the span window.
    //
    // hashKeys=true (default, the at-scale shape): the cross-doc gram
    // matching shuffles an 8-byte GramHashArray hash per position instead
    // of the k-char gram string — ~4× fewer shuffle bytes at k=25 and no
    // per-gram string allocation. Output-identical unless two distinct
    // grams collide in 64 bits (~2^-64/pair; a collision could only add a
    // span); hashKeys=false keeps the literal-string path that the
    // equivalence spec compares against.
    val gramCol =
      if (hashKeys) graft.functions.Expressions.gramHashArray(col("text"), k)
      else graft.functions.Expressions.gramArray(col("text"), k)
    val g = docs(s, dir)
      .filter(length(col("text")) >= k)
      .repartition(col("doc_id"))
      .select(col("doc_id"), posexplode(gramCol))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("gram"))
    val crossDoc = g.groupBy("gram")
      .agg(min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .filter(col("min_doc") =!= col("max_doc"))
      .select("gram")
    val hits = g.join(crossDoc, "gram").select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("brk",
        when(col("pos") > coalesce(lag(col("pos"), 1).over(w), col("pos"))
          + k, lit(1)).otherwise(lit(0)))
      .withColumn("island", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"))
  }

  /** WITHIN-doc self-repetition spans — the complement of [[dupSpans]]
    * (which only counts grams crossing documents): the maximal character
    * spans whose every k-gram already occurred EARLIER in the same
    * document. These are the repeated-paragraph / boilerplate-loop
    * artifacts repetition-removal passes cut (cf. Gopher's repetition
    * filters, which [[TextAnalysis]] t7 scores — this operator locates
    * the actual spans). Keep-first semantics: a position is repeat-
    * covered iff its gram equals a gram at a STRICTLY EARLIER position,
    * so the first occurrence always survives and a cut never removes
    * all copies.
    *
    * Shape: positional gram explode → per-(doc, gram) min-position
    * aggregate (compact 8-byte gram-hash keys, map-side combinable) →
    * self-filter `pos > first_pos` → the same per-doc gaps-and-islands
    * merge as dupSpans. Every exchange is (doc_id, 8-byte hash)-keyed;
    * the span window never crosses executors.
    */
  def selfRepeatSpans(s: SparkSession, dir: String, k: Int = 25,
      hashKeys: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gramCol =
      if (hashKeys) graft.functions.Expressions.gramHashArray(col("text"), k)
      else graft.functions.Expressions.gramArray(col("text"), k)
    val g = docs(s, dir)
      .filter(length(col("text")) >= k)
      .repartition(col("doc_id"))
      .select(col("doc_id"), posexplode(gramCol))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("gram"))
    val repeats = g.groupBy("doc_id", "gram")
      .agg(min("pos").as("first_pos"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select("doc_id", "gram", "first_pos")
    val hits = g.join(repeats, Seq("doc_id", "gram"))
      .filter(col("pos") > col("first_pos"))
      .select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("brk",
        when(col("pos") > coalesce(lag(col("pos"), 1).over(w), col("pos"))
          + k, lit(1)).otherwise(lit(0)))
      .withColumn("island", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"))
  }

  /** The CUT step of ExactSubstr dedup (Lee et al. 2022 §4.1 — after
    * finding duplicated spans, the pipeline removes them from the
    * training text): every document rewritten with its [[dupSpans]]
    * spans spliced out. Returns (doc_id, clean_text, n_cut).
    *
    * Shape: spans aggregate to one sorted array per doc (keyed agg on
    * doc_id), left-join back to the corpus on doc_id, and the splice is
    * a single `aggregate` higher-order fold over the span array — per-row
    * compute, no extra exchange beyond the one doc-keyed join. Spans are
    * non-overlapping and position-sorted by construction (islands
    * merged in dupSpans), which is what lets the fold carry just a
    * cursor. Docs with no spans pass through; a doc fully covered by
    * one span becomes the empty string.
    */
  def cutDupSpans(s: SparkSession, dir: String, k: Int = 25): DataFrame = {
    val spans = dupSpans(s, dir, k)
      .groupBy("doc_id")
      .agg(array_sort(collect_list(
        struct(col("span_start"), col("span_end")))).as("spans"))
    docs(s, dir)
      .join(spans, Seq("doc_id"), "left")
      .withColumn("clean_text",
        when(col("spans").isNull, col("text")).otherwise(expr(
          """aggregate(
               spans,
               struct(CAST(1 AS BIGINT) AS cur, '' AS acc),
               (a, sp) -> struct(
                 sp.span_end + CAST(1 AS BIGINT) AS cur,
                 concat(a.acc, substring(text, CAST(a.cur AS INT),
                   CAST(sp.span_start - a.cur AS INT))) AS acc),
               a -> concat(a.acc,
                 substring(text, CAST(a.cur AS INT), length(text))))""")))
      .select(col("doc_id"), col("clean_text"),
        (length(col("text")) - length(col("clean_text"))).cast("long")
          .as("n_cut"))
  }
}
