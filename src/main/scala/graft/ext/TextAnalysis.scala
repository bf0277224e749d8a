package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Expressions.fnv1a64

/** Text analysis for training-data curation (SURVEY.md §7.4): token
  * counting, quality scoring, language identification, fingerprinting.
  * Everything is built from codegen'd string built-ins + the native FNV
  * expression — no UDFs, so the whole pipeline stays in one
  * WholeStageCodegen span over the scan.
  */
object TextAnalysis {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** floor(x·1e6) with boundary SNAPPING: the DSIR log-ratios
    * floor-quantize a difference of libm ln() results, and a 1-ulp ln
    * divergence between the JVM and the oracle engine can flip the floor
    * when the scaled value sits within ~1e-8 of an integer. Values
    * within 1e-7 micro-units of a boundary (30× the worst accumulated
    * ulp noise of two ln calls + subtract + scale) therefore snap to
    * that boundary INTEGER instead of flooring — both engines implement
    * the identical snap (the SparkEntry `snapFloorMicroSql` helper), so
    * whichever side of the boundary each engine's libm lands on, they
    * agree on the snapped value.
    *
    * Why snap and not raise (the r12 design, reversed per ADVICE r12):
    * the boundary zone is hit with probability ~2e-7 per distinct
    * value, so at the 100 TB scale this code targets (1e8+ distinct
    * log-ratios) a raise_error guard aborts the whole job on BENIGN
    * data with near-certainty. Snapping is total: every input produces
    * a value, and the residual cross-engine risk collapses from the
    * 1e-7-wide flip zone to the measure-~1e-15 edge of the snap
    * tolerance itself (a value has to land within 1 ulp of EXACTLY
    * eps-from-boundary for the engines to disagree about snapping).
    * `floor(scaled + 0.5)` is the nearest integer here — inside the
    * snap zone the fraction is ~0 or ~1, nowhere near the .5 ties both
    * engines would have to agree on.
    */
  private[ext] def floorMicroGuarded(x: Column): Column = {
    val scaled = x * lit(1000000)
    val nearest = floor(scaled + lit(0.5))
    when(abs(scaled - nearest) < lit(1e-7), nearest)
      .otherwise(floor(scaled))
      .cast("long")
  }

  /** Token counts: whitespace tokens + a BPE-ish regex token stream
    * (words / numbers / punctuation runs — the pre-tokenizer shape used by
    * GPT-style byte-pair encoders).
    */
  def tokenCounts(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      size(split(col("text"), " ")).as("ws_tokens"),
      size(regexp_extract_all(col("text"),
        lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"), lit(0))).as("bpe_tokens"))

  /** Quality heuristics: length, word stats, punctuation/digit/space
    * ratios. Scores in [0,1]; downstream filters threshold them.
    */
  def qualityScores(s: SparkSession, dir: String): DataFrame = {
    val nChars = length(col("text"))
    val nTokens = size(split(col("text"), " "))
    docs(s, dir).select(
      col("doc_id"),
      nChars.as("n_chars"),
      nTokens.as("n_tokens"),
      // mean word length: chars excluding separators / tokens
      (floor((nChars - (nTokens - lit(1))).cast("double") / nTokens
        * 10000 + lit(0.5)) / 10000).as("mean_word_len"),
      (floor(length(regexp_replace(col("text"), "[^0-9]", "")).cast("double")
        / nChars * 10000 + lit(0.5)) / 10000).as("digit_ratio"),
      (floor(length(regexp_replace(col("text"), "[^.,;:!?]", "")).cast("double")
        / nChars * 10000 + lit(0.5)) / 10000).as("punct_ratio"))
  }

  /** Unigram language-model quality score — the deterministic stand-in
    * for CCNet/RefinedWeb-style LM perplexity filtering: score(doc) =
    * mean over its tokens of ln p(w), with p estimated from the corpus
    * itself (maximum likelihood; every token is in-vocab by
    * construction, so no smoothing term changes ranks). Low scores =
    * improbable token streams → filter candidates.
    *
    * Plan shape at 100 TB: explode to (doc_id, word), one compact-key
    * aggregation for the frequency table, join words→freq (Spark
    * broadcasts it while it fits; the plan stays a hash join when the
    * vocabulary outgrows that), one groupBy(doc_id) to average. No
    * driver-side vocab materialization.
    */
  def unigramLmScore(s: SparkSession, dir: String): DataFrame = {
    val words = docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val freq = words.groupBy("w").agg(count(lit(1)).as("c"))
    val total = freq.agg(sum("c").as("t"))
    // Integer micro-logprobs: floor(ln(c/t)·1e6) per WORD, summed as
    // BIGINT. A doc-level double average would be summation-order-
    // dependent (Spark partial aggs vs DuckDB's order) and could flip a
    // 6-decimal rounding boundary between engines — the c5 lesson. The
    // per-word floor is a pure function of the integers (c, t); the only
    // residual risk is a word whose ln lands within ~1 ulp of an integer
    // micro boundary, which the t10 margin test pins as absent.
    words.join(freq, "w")
      .crossJoin(broadcast(total))
      .withColumn("lp_micro",
        floor(log(col("c").cast("double") / col("t")) * 1000000).cast("long"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("lp_micro")).as("lm_micro_sum"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every corpus doc
    * by how target-like its token stream is — log w(d) = Σ_tokens
    * [ln p_target(tok) − ln p_raw(tok)] with Laplace-smoothed unigram
    * models over a shared vocabulary. High-weight docs are the
    * importance-resampling pool for targeted pre-training mixes; this is
    * [[unigramLmScore]]'s two-model extension (the t11 relative-gate
    * idea applied between DISTRIBUTIONS rather than within one).
    *
    * `targetFilter` picks the target slice (here: a per-doc content
    * rule, the frozen-eval-slice discipline from CuratePipeline); the
    * raw model is the full corpus, which smooths every in-corpus token.
    *
    * Oracle-exactness: the per-token log-ratio is floor-quantized to
    * 1e-6 as a pure function of the exact integers (tc, qc, Nt, Nq, V)
    * and summed per doc as BIGINT over occurrences — order-independent,
    * the t10 micro-unit pattern. DSIR's hashed-feature variant (mod-B
    * buckets instead of exact vocab) changes only the token→feature
    * key; the exact-vocab form keeps the oracle replayable and the agg
    * keys are compact either way.
    *
    * Plan shape at 100 TB: explode to (doc_id, token); TWO compact-key
    * frequency aggregates (target slice, full corpus) from the same
    * exploded stream; one token-keyed join back (broadcast while the
    * vocab fits, hash join beyond); one groupBy(doc_id) integer sum.
    * Scalar totals ride a broadcast crossJoin. No driver-side vocab.
    */
  def dsirWeights(s: SparkSession, dir: String,
      targetFilter: Column): DataFrame = {
    val words = docs(s, dir)
      .select(col("doc_id"), targetFilter.as("is_t"),
        explode(split(col("text"), " ")).as("w"))
    val freq = words.groupBy("w").agg(
      count(lit(1)).as("qc"),
      sum(when(col("is_t"), 1L).otherwise(0L)).as("tc"))
    val totals = freq.agg(
      sum("qc").as("nq"), sum("tc").as("nt"),
      count(lit(1)).as("v"))
    val lr = log((col("tc") + lit(1)).cast("double") /
        (col("nt") + col("v"))) -
      log((col("qc") + lit(1)).cast("double") / (col("nq") + col("v")))
    words.join(freq, "w")
      .crossJoin(broadcast(totals))
      .withColumn("lr_micro", floorMicroGuarded(lr))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("lr_micro")).as("dsir_micro"))
  }

  /** Hashed-feature DSIR model (the variant the paper actually deploys:
    * token→bucket hashing bounds the model at `buckets` entries no
    * matter how the vocabulary grows): per bucket, the Laplace-smoothed
    * log-ratio ln p_target − ln p_raw, floor-quantized to micro-units.
    * The result is a ≤`buckets`-row ARTIFACT — freeze it at the corpus
    * epoch and score any stream/shard against it without re-reading the
    * corpus (the CuratePipeline frozen-artifact discipline).
    *
    * `buckets` must divide 2^64 (be a power of two) so the bucket of
    * the signed FNV hash equals the unsigned mod — the property that
    * keeps the DuckDB oracle exact.
    */
  def dsirModelHashed(s: SparkSession, dir: String, targetFilter: Column,
      buckets: Int = 1024): DataFrame = {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two, got $buckets")
    val bf = docs(s, dir)
      .select(targetFilter.as("is_t"),
        explode(split(col("text"), " ")).as("w"))
      .select(pmod(fnv1a64(col("w")), lit(buckets.toLong)).as("b"),
        col("is_t"))
      .groupBy("b").agg(count(lit(1)).as("qc"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("tc"))
    val full = s.range(buckets).select(col("id").as("b"))
      .join(bf, Seq("b"), "left")
      .select(col("b"), coalesce(col("qc"), lit(0L)).as("qc"),
        coalesce(col("tc"), lit(0L)).as("tc"))
    val lr = log((col("tc") + lit(1)).cast("double") /
        (col("nt") + lit(buckets))) -
      log((col("qc") + lit(1)).cast("double") / (col("nq") + lit(buckets)))
    full.crossJoin(broadcast(bf.agg(sum("qc").as("nq"), sum("tc").as("nt"))))
      .select(col("b"), floorMicroGuarded(lr).as("lr_micro"))
  }

  /** DSIR importance RESAMPLING — the selection step that makes the
    * weights a training set: sampling k docs without replacement with
    * probability ∝ w(d) is exactly the top-k of log w(d) + Gumbel
    * noise (the Gumbel-top-k trick, Vieira 2014 / Kool et al. 2019 —
    * the method the DSIR paper's resampling stage uses). The "noise"
    * here is a deterministic function of doc_id — xxhash64(doc_id)'s
    * top 53 bits through the inverse-Gumbel transform — so the sample
    * is reproducible across runs, partitionings, and engines (seeded
    * sampling is what a production curation run wants anyway: the
    * selection must be auditable).
    *
    * Exactness: u = (h >>> 11 + 0.5)/2^53 is IEEE-exact (integer cast
    * below 2^53, power-of-two divide); g = −ln(−ln u) floor-quantized
    * to micro-units pairs with ds1's micro log-weights, and the key is
    * their BIGINT sum — ties to smallest doc_id. xxhash64-of-LONG has
    * the validated SQL emulation (x9), so the whole draw replays in
    * the oracle.
    *
    * Plan shape at 100 TB: ds1's aggregates + one map-side key
    * expression + TakeOrderedAndProject — nothing new shuffles.
    */
  def dsirResample(s: SparkSession, dir: String, targetFilter: Column,
      k: Int = 64): DataFrame = {
    val v = shiftrightunsigned(xxhash64(col("doc_id")), 11)
    val u = (v.cast("double") + lit(0.5)) / lit(9007199254740992.0)
    val gMicro = floorMicroGuarded(-log(-log(u)))
    dsirWeights(s, dir, targetFilter)
      .select(col("doc_id"),
        (col("dsir_micro") + gMicro).as("key_micro"))
      .orderBy(col("key_micro").desc, col("doc_id"))
      .limit(k)
  }

  /** The per-ROW DSIR score: one `aggregate` fold over the token array
    * through the frozen bucket→lr_micro model — stateless, no explode,
    * no per-doc shuffle. This is the ONE scoring expression the batch
    * operator and the streaming gate share (the qualityGate/withEntNano
    * pattern). The model rides a dense ARRAY literal indexed by bucket
    * (the qc1/lc1 r15 lesson: a MAP literal's element_at linearly scans
    * all `buckets` entries per token — measured 3–7× on the classifier
    * serving passes at sf10); density is REQUIRED here, so the map
    * delivery's NULL-on-missing-bucket safety net is enforced eagerly
    * instead.
    */
  def dsirScoreCol(model: Map[Long, Long], buckets: Int,
      textCol: String): Column = {
    require(model.size == buckets &&
        (0L until buckets.toLong).forall(model.contains),
      s"dsirScoreCol: model covers ${model.size} of $buckets buckets — " +
        "a missing bucket would mis-score every doc hashing into it; " +
        "build the model with dsirModelHashed (which densifies all " +
        "buckets)")
    val arr = typedLit((0L until buckets.toLong).map(model))
    aggregate(split(col(textCol), " "), lit(0L),
      (acc, w) => acc + element_at(arr,
        pmod(fnv1a64(w), lit(buckets.toLong)).cast("int") + 1))
  }

  /** Score a batch frame against a hashed DSIR model frame: the model
    * is collected ONCE (it is ≤`buckets` rows by construction — the
    * centroid/codebook artifact pattern, not a data-sized collect) and
    * embedded as a frozen dense-array literal, then [[dsirScoreCol]]
    * folds per row — the scored side never shuffles and the
    * corpus-scale model plan executes exactly one job. Completeness is
    * validated on the collected rows (and again inside dsirScoreCol):
    * a bucket missing from the model would mis-score every doc hashing
    * into it. This is the same frozen-literal delivery
    * [[graft.stream.StreamDsir.dsirGate]] uses, so batch and stream
    * score through identical expressions.
    */
  def withDsirHashed(df: DataFrame, model: DataFrame, buckets: Int,
      textCol: String, out: String): DataFrame = {
    val rows = model.select(col("b"), col("lr_micro")).collect()
    val m = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    require(rows.length == buckets && m.size == buckets,
      s"withDsirHashed: model covers ${m.size} of $buckets buckets " +
        s"(${rows.length} rows) - " +
        "build the model with dsirModelHashed (which densifies all " +
        "buckets)")
    df.withColumn(out, dsirScoreCol(m, buckets, textCol))
  }

  /** Language ID by stopword-hit heuristic: count hits from tiny per-
    * language function-word lists over the token stream; argmax wins, ties
    * broken by list order. (N-gram profiles are the classic method —
    * Cavnar & Trenkle 1994 — but function words separate this corpus.)
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "es" -> Seq("el", "la", "los", "y", "es", "una"),
    "zh" -> Seq("的", "是", "了", "在"),
  )

  def langScores(s: SparkSession, dir: String): DataFrame = {
    val tokens = split(col("text"), " ")
    val scored = stopwords.toSeq.sortBy(_._1).foldLeft(docs(s, dir)) {
      case (df, (lang, words)) =>
        df.withColumn(s"score_$lang",
          size(filter(tokens, t => t.isin(words.map(lit(_)): _*))))
    }
    scored.select(col("doc_id"), col("lang").as("labeled_lang"),
      col("score_en"), col("score_de"), col("score_fr"), col("score_es"),
      col("score_zh"))
  }

  /** Argmax language guess from the stopword scores (greatest-wins, fixed
    * tie order en>de>fr>es>zh via strictly-greater chain).
    */
  def langGuess(s: SparkSession, dir: String): DataFrame = {
    val sc = langScores(s, dir)
    val langs = Seq("en", "de", "fr", "es", "zh")
    val best = langs.tail.foldLeft(
      struct(col("score_en").as("s"), lit("en").as("l"))) { (acc, lang) =>
      when(col(s"score_$lang") > acc.getField("s"),
        struct(col(s"score_$lang").as("s"), lit(lang).as("l"))).otherwise(acc)
    }
    sc.withColumn("guess",
        when(best.getField("s") > 0, best.getField("l")).otherwise(lit("und")))
      .select("doc_id", "labeled_lang", "guess")
  }

  /** Full curation pipeline — the composed training-data filter chain:
    * quality gate (length + token count + digit ratio) → language gate
    * (stopword argmax = en) → exact dedup (min-doc_id keeper per text) →
    * token accounting. One declarative plan: Catalyst fuses the gates into
    * the scan, the only shuffle is the dedup groupBy.
    */
  def curationPipeline(s: SparkSession, dir: String, minTokens: Int = 20,
      maxDigitRatio: Double = 0.2): DataFrame = {
    val tokens = split(col("text"), " ")
    val nTokens = size(tokens)
    val digitRatio =
      length(regexp_replace(col("text"), "[^0-9]", "")).cast("double") /
        length(col("text"))
    def score(lang: String) = size(filter(tokens,
      t => t.isin(stopwords(lang).map(lit(_)): _*)))
    // argmax == en (fold order en>de>fr>es>zh: en wins ties)
    val isEnglish = score("en") > 0 &&
      Seq("de", "fr", "es", "zh").map(l => score(l) <= score("en"))
        .reduce(_ && _)
    docs(s, dir)
      .filter(nTokens >= minTokens && digitRatio <= maxDigitRatio &&
        isEnglish)
      .groupBy("text")
      .agg(min("doc_id").as("doc_id"),
        min(nTokens).cast("long").as("ws_tokens"))
      .select("doc_id", "ws_tokens")
  }

  /** BPE-style merge-candidate mining: the most frequent ADJACENT token
    * pairs over the corpus token stream — the scoring step of every
    * byte-pair-encoding merge round (Sennrich et al. 2016), lifted to
    * the word level the way tokenizer trainers batch it. Pair explode →
    * compact-key count → bounded top-k; at 100 TB the partial aggregate
    * does nearly all the work map-side (pair vocabulary ≪ stream).
    */
  def bpeMergePairs(s: SparkSession, dir: String, k: Int = 50): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        filter(split(col("text"), " "), w => length(w) > 0).as("words"))
      .filter(size(col("words")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(words) - 2), " +
          "i -> struct(words[i] AS w1, words[i + 1] AS w2))")).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .orderBy(col("n_pair").desc, col("w1"), col("w2"))
      .limit(k)

  /** Vocabulary building: global token counts and document frequency, top
    * `size` by (count desc, token) — the tokenizer-training precursor. The
    * explode shuffles one row per token occurrence; at 100 TB pre-aggregate
    * per partition first (Catalyst's partial aggregation already does
    * exactly that for the count).
    */
  def vocabulary(s: SparkSession, dir: String, size: Int = 1000): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("term_freq"),
        countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("term_freq").desc, col("token"))
      .limit(size)

  /** TF-IDF top terms per document: tf = in-doc count, idf = ln(N/df),
    * top `k` per doc by score. Two shuffles (token agg, doc window) —
    * both on compact keys. ln of identical doubles is identical on both
    * engines; the floor-round keeps the oracle exact.
    */
  def tfidfTopTerms(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val toks = docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val n = docs(s, dir).count()
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = toks.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("tfidf_r6").desc, col("token"))
    tf.join(df, "token")
      .withColumn("tfidf_r6",
        floor(col("tf") * log(lit(n.toDouble) / col("df")) * 1000000 + 0.5)
          / 1000000)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("token"), col("tfidf_r6"))
  }

  /** Okapi BM25 ranked retrieval (Robertson et al., TREC-3; the idf form
    * is Lucene's non-negative variant ln(1 + (N-df+0.5)/(df+0.5))): score
    * every document against a fixed bag of query terms, return the top
    * `k` by score. This is the retrieval primitive behind search-based
    * decontamination and targeted corpus audits ("which training docs
    * match this eval query"), complementing t5's per-doc TF-IDF terms.
    *
    * Oracle-exactness: per-term contributions are floor-rounded to 1e-6
    * and summed as LONG micro-units, so the per-doc score is an integer
    * sum — order-independent, bit-identical on Spark and DuckDB (a raw
    * double sum over terms would depend on aggregation order).
    *
    * Plan shape at 100 TB: the token stream is filtered to the query
    * terms INSIDE the array (`filter` lambda) before explode, so the
    * exploded stream carries only matching occurrences (|terms| ≪ dl per
    * doc); dl rides along from the scan, so tf needs one compact-key
    * aggregation and no corpus re-join; df derives from tf (a handful of
    * rows, broadcast); the final top-k is TakeOrderedAndProject. Corpus
    * constants N/avgdl are two exact longs from one scalar aggregate.
    */
  def bm25TopK(s: SparkSession, dir: String, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75, k: Int = 50): DataFrame = {
    val corpus = docs(s, dir)
    // one scalar aggregate: exact longs → one double division, identical
    // to the oracle's CAST(sum AS DOUBLE)/count(*)
    val stats = corpus
      .agg(sum(size(split(col("text"), " "))).as("tot"),
        count(lit(1)).as("n"))
      .head()
    val nDocs = stats.getLong(1)
    val avgdl = stats.getLong(0).toDouble / nDocs
    val tf = corpus
      .select(col("doc_id"), size(split(col("text"), " ")).as("dl"),
        explode(filter(split(col("text"), " "),
          t => t.isin(terms: _*))).as("token"))
      .groupBy("doc_id", "dl", "token")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val denom = col("tf") +
      lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / lit(avgdl))
    val contrib = idf * (col("tf") * (lit(k1) + lit(1.0))) / denom
    tf.join(broadcast(df), "token")
      .select(col("doc_id"),
        floor(contrib * 1000000 + lit(0.5)).cast("long").as("c"))
      .groupBy("doc_id")
      .agg((sum(col("c")).cast("double") / lit(1000000.0)).as("bm25_r6"))
      .orderBy(col("bm25_r6").desc, col("doc_id"))
      .limit(k)
  }

  /** Shannon character entropy over a fixed alphabet (a-z, space, other) —
    * the compression-proxy quality signal (low-entropy text = repeated
    * boilerplate / character spam; used alongside t7's token repetition
    * ratio the way Gopher/Dolma pair character- and token-level filters).
    *
    * Oracle-exactness: per-class contributions (k/n)·ln(n/k) are computed
    * from exact integer counts with an identical expression shape on both
    * engines, floor-quantized to 1e-9 nano-units per CLASS, and summed as
    * BIGINT — order-independent (the t10/bm1 micro-unit pattern).
    *
    * Plan shape at 100 TB: zero shuffles. Per-class counts come from 27
    * `replace` passes fused into one codegen'd projection over the scan
    * (no per-character explode — a char-level explode would shuffle one
    * row per BYTE of corpus); entropy folds the 28-element count array
    * in-expression.
    */
  /** Append the entropy nano-unit column to any frame — the ONE code
    * path behind the t14 batch operator and the streaming quality gate
    * (both surfaces must score identically). Staged through temp
    * columns so the 27-replace count array is computed ONCE (the
    * single-expression form recomputes it inside the concat and was
    * measured 1.7× slower at sf0.1).
    */
  def withEntNano(df: DataFrame, textCol: String,
      out: String): DataFrame = {
    val alphaSql = (('a' to 'z').map(c => s"'$c'") :+ "' '")
      .mkString("array(", ", ", ")")
    df
      .withColumn("__ent_n", length(col(textCol)).cast("long"))
      .withColumn("__ent_ks", expr(
        s"transform($alphaSql, c -> CAST(length($textCol) - " +
          s"length(replace($textCol, c, '')) AS BIGINT))"))
      .withColumn("__ent_ks2", expr(
        "__ent_ks || array(__ent_n - aggregate(__ent_ks, " +
          "CAST(0 AS BIGINT), (a, x) -> a + x))"))
      .withColumn(out, expr(
        """aggregate(__ent_ks2, CAST(0 AS BIGINT), (a, k) -> a +
          |  CASE WHEN k > 0
          |    THEN CAST(floor((CAST(k AS DOUBLE) / __ent_n)
          |           * ln(CAST(__ent_n AS DOUBLE) / k)
          |           * 1000000000.0) AS BIGINT)
          |    ELSE CAST(0 AS BIGINT) END)""".stripMargin))
      .drop("__ent_ks", "__ent_ks2")
  }

  def charEntropy(s: SparkSession, dir: String): DataFrame =
    withEntNano(docs(s, dir), "text", "ent_nano").select(
      col("doc_id"),
      col("__ent_n").as("n_chars"),
      col("ent_nano"))

  /** The APPLY step of byte-pair encoding at the word level: take the 50
    * merge rules [[bpeMergePairs]] learns (ranked by frequency, ties by
    * pair), and rewrite every document's token stream by applying each
    * rule in rank order — all non-overlapping occurrences left-to-right,
    * exactly the tokenizer-trainer merge semantics (Sennrich et al. 2016).
    *
    * Mechanism: tokens are wrapped as `|tok|` and joined (`|a||b||c|`),
    * so merge (a,b) is the literal string replace `|a||b|` → `|a+b|`:
    * token boundaries can't false-match inside a token, a consumed token
    * can't merge twice, and the scan-left-resume-after-match semantics of
    * `replace` on BOTH engines is exactly BPE's non-overlapping pass.
    * The oracle replays the identical fold with a recursive CTE over the
    * SQL-recomputed merge table. Each merge shrinks the encoded string by
    * exactly 1 char (`|a||b|` → `|a+b|`), so the merged-token count needs
    * no re-split.
    *
    * The 50-row merge table is collected to the driver to build the
    * replace chain (bounded, the centroid-load pattern); the 50 chained
    * replaces then run as one codegen'd map-only projection — no shuffle
    * beyond the one inside the merge miner itself.
    */
  def bpeEncode(s: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val merges = bpeMergePairs(s, dir, k).collect()
      .map(r => (r.getString(0), r.getString(1)))
    // PRECONDITION (fail loudly, never corrupt): the `|tok|` wrapping is
    // boundary-safe only when no token contains the '|' delimiter — a
    // pipe inside a corpus token lets a merge rule match across token
    // boundaries, silently corrupting enc_md5/n_after (and the oracle
    // would replay the same corruption, hiding it). Both the 50 driver-
    // side merge tokens and every corpus token are checked; the corpus
    // check is a codegen'd branch fused into the wrap projection (the
    // raise_error arm is load-bearing, so Catalyst cannot prune it).
    merges.foreach { case (w1, w2) =>
      require(!w1.contains("|") && !w2.contains("|"),
        s"bpeEncode: merge token contains the '|' delimiter: ($w1, $w2)")
    }
    val base = docs(s, dir)
      .withColumn("words",
        filter(split(col("text"), " "), w => length(w) > 0))
      .withColumn("n_before", size(col("words")).cast("long"))
      .withColumn("s",
        when(exists(col("words"), w => w.contains("|")),
          raise_error(concat(lit("bpeEncode: doc_id="), col("doc_id"),
            lit(" has a token containing the '|' delimiter"))))
        .otherwise(
          concat(lit("|"), array_join(col("words"), "||"), lit("|"))))
      .withColumn("len0", length(col("s")).cast("long"))
    val encoded = merges.foldLeft(base) { case (df, (w1, w2)) =>
      df.withColumn("s",
        replace(col("s"), lit(s"|$w1||$w2|"), lit(s"|$w1+$w2|")))
    }
    encoded.select(
      col("doc_id"),
      col("n_before"),
      (col("n_before") - (col("len0") - length(col("s")))).as("n_after"),
      md5(col("s")).as("enc_md5"))
  }

  /** The real ITERATIVE BPE merge loop (Sennrich et al. 2016, algorithm
    * 1, at the word level): each round counts adjacent pairs over the
    * CURRENT corpus, takes the single most frequent pair (ties by
    * (w1, w2) — fully deterministic), applies it everywhere, and
    * RECOUNTS — because each merge changes adjacent-pair frequencies,
    * which is exactly what [[bpeMergePairs]]' one-shot count cannot see
    * (its "top-50 merges" are the round-1 frequencies, not what a
    * trainer learns). Merged tokens are `w1+w2` and participate in
    * later rounds, so multi-token words grow the standard BPE way.
    *
    * Distributed shape (the pageRankUntil loop discipline): per round
    * ONE compact-key aggregate for the pair count (partial map-side —
    * pair vocabulary ≪ stream), a TakeOrderedAndProject argmax (1 row
    * to the driver — bounded), one codegen'd map-only `replace` over
    * the corpus, and a localCheckpoint with supersession-unpersist so
    * round r never replays rounds 1..r−1 and holds one corpus-sized
    * block. At 100 TB each round is corpus-linear — the honest cost of
    * BPE training, which is why production trainers run it on a
    * frequency-collapsed word table; that collapse is [[vocabulary]]
    * and composes here unchanged.
    *
    * Exactness: counts are exact integers; the argmax total order
    * (n_pair DESC, w1, w2 — binary string compare on both engines) and
    * the `|tok|`-delimited replace (non-overlapping left-to-right, the
    * [[bpeEncode]] mechanism with the same pipe-delimiter guard) replay
    * identically in the unrolled DuckDB oracle.
    */
  private def bpeTrainLoop(s: SparkSession, dir: String,
      rounds: Int): (Seq[(Int, String, String, Long)], DataFrame) = {
    val base = docs(s, dir)
      .withColumn("words",
        filter(split(col("text"), " "), w => length(w) > 0))
      .withColumn("n_before", size(col("words")).cast("long"))
      .withColumn("s",
        when(exists(col("words"), w => w.contains("|")),
          raise_error(concat(lit("bpeTrain: doc_id="), col("doc_id"),
            lit(" has a token containing the '|' delimiter"))))
        .otherwise(
          concat(lit("|"), array_join(col("words"), "||"), lit("|"))))
      .withColumn("len0", length(col("s")).cast("long"))
      .select("doc_id", "n_before", "len0", "s")
    // r16 (VERDICT r15 item 7 — halve the jobs per round): the eager
    // per-round localCheckpoint ran its own materialization job BEFORE
    // the round's count job could start, so every round paid two
    // scheduler round-trips for one corpus pass. The checkpoint is now
    // LAZY and the count job itself materializes it (the count's full
    // aggregate computes every partition, which is what lazy local
    // checkpointing needs to truncate lineage), so each round is ONE
    // job: count+argmax over the freshly-checkpointed corpus. The
    // superseded round's blocks are released only AFTER the new
    // checkpoint is materialized — unpersisting earlier would free
    // blocks the lazy checkpoint still reads (localCheckpoint truncates
    // lineage, so they are not recomputable). The final round's replace
    // stays a lazy one-layer tail over the last checkpoint (plan depth
    // stays flat; no extra block, no extra job). Counts, argmax order,
    // and replaces are untouched — merges and the encoded corpus are
    // bit-identical (the v4/v5 oracles replay the same unrolled rounds).
    var corpus = base
    var ckpt: DataFrame = null
    var prevCkpt: DataFrame = null
    val merges =
      scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var r = 1
    var drained = false
    // a failing round (e.g. the '|' guard firing in the count job) must
    // not leave its own or the previous round's checkpoint registered
    try {
      while (r <= rounds && !drained) {
        ckpt = corpus.localCheckpoint(false)
        val top = ckpt
          .select(split(expr("substring(s, 2, length(s) - 2)"), "\\|\\|")
            .as("t"))
          .filter(size(col("t")) >= 2)
          .select(explode(expr(
            "transform(sequence(0, size(t) - 2), " +
              "i -> struct(t[i] AS w1, t[i + 1] AS w2))")).as("p"))
          .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
          .agg(count(lit(1)).as("n_pair"))
          .orderBy(col("n_pair").desc, col("w1"), col("w2"))
          .limit(1).collect()
        if (prevCkpt != null) Dedup.unpersistCheckpoint(prevCkpt)
        prevCkpt = ckpt
        if (top.isEmpty) { drained = true; corpus = ckpt }
        else {
          val (w1, w2) = (top(0).getString(0), top(0).getString(1))
          merges += ((r, w1, w2, top(0).getLong(2)))
          corpus = ckpt.withColumn("s",
            replace(col("s"), lit(s"|$w1||$w2|"), lit(s"|$w1+$w2|")))
          r += 1
        }
      }
    } catch { case t: Throwable =>
      Seq(ckpt, prevCkpt).filter(_ != null).distinct
        .foreach(Dedup.unpersistCheckpoint)
      throw t
    }
    (merges.toSeq, corpus)
  }

  /** The learned merge table (rk, w1, w2, n_pair) — n_pair is the
    * pair's frequency IN ITS OWN ROUND's corpus, the number a one-shot
    * count cannot produce past round 1.
    */
  def bpeTrainMerges(s: SparkSession, dir: String,
      rounds: Int = 8): DataFrame = {
    val (merges, corpus) = bpeTrainLoop(s, dir, rounds)
    Dedup.unpersistCheckpoint(corpus)
    import s.implicits._
    merges.toDF("rk", "w1", "w2", "n_pair")
  }

  /** The corpus encoded with the GENUINELY-LEARNED merges — after round
    * N the loop's corpus state IS the encode (each round already applied
    * its merge everywhere), so this is [[bpeEncode]] re-pointed at the
    * iterative trainer's output instead of the one-shot approximation.
    * Same output contract as bpeEncode: each merge shrinks the encoded
    * string by exactly 1 char, so n_after needs no re-split.
    */
  def bpeTrainEncode(s: SparkSession, dir: String,
      rounds: Int = 8): DataFrame =
    bpeTrainLoop(s, dir, rounds)._2.select(
      col("doc_id"),
      col("n_before"),
      (col("n_before") - (col("len0") - length(col("s"))))
        .as("n_after"),
      md5(col("s")).as("enc_md5"))

  /** Document fingerprints: FNV-1a content hash (native expression) + MD5,
    * plus a shingle-set sketch hash (order-insensitive content signature —
    * robust to token reordering, unlike the rolling hash).
    */
  def fingerprints(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      fnv1a64(col("text")).as("fnv64"),
      md5(col("text")).as("md5_hex"),
      xxhash64(sort_array(array_distinct(split(col("text"), " ")))).as("bag_hash"))

  /** Gopher-style rule gate (Rae et al. 2021, "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", table A1 — the
    * published heuristic rule set C4/MassiveText-class pipelines apply
    * before training): word-count window, mean-word-length window,
    * minimum stopword evidence. Every rule is evaluated in INTEGER
    * arithmetic (`3·n ≤ total_chars ≤ 10·n` instead of a float mean), so
    * the flags are engine-exact. One codegen'd projection over the scan —
    * no shuffle at all; at 100 TB this is a map-only pass.
    */
  /** The composed Gopher kept-flag as one reusable boolean SQL
    * expression over `textCol` — shared by the batch operator's `kept`
    * column and the streaming quality gate.
    */
  def gopherKeptSql(textCol: String, minWords: Int = 30,
      maxWords: Int = 100000): String = {
    val words = s"filter(split($textCol, ' '), w -> length(w) > 0)"
    s"""(size($words) >= $minWords AND size($words) <= $maxWords
       | AND aggregate(transform($words, w -> length(w)), 0,
       |       (acc, x) -> acc + x) >= size($words) * 3
       | AND aggregate(transform($words, w -> length(w)), 0,
       |       (acc, x) -> acc + x) <= size($words) * 10
       | AND size(filter($words,
       |       w -> w IN ('the', 'a', 'of', 'and', 'in', 'to'))) >= 2)"""
      .stripMargin
  }

  def gopherRules(s: SparkSession, dir: String,
      minWords: Int = 30, maxWords: Int = 100000): DataFrame =
    docs(s, dir)
      .withColumn("words",
        filter(split(col("text"), " "), w => length(w) > 0))
      .withColumn("n_words", size(col("words")).cast("long"))
      .withColumn("total_chars", expr(
        "CAST(aggregate(transform(words, w -> length(w)), 0, " +
          "(acc, x) -> acc + x) AS BIGINT)"))
      .select(
        col("doc_id"), col("n_words"),
        (col("n_words") >= minWords && col("n_words") <= maxWords)
          .cast("int").as("ok_len"),
        (col("total_chars") >= col("n_words") * 3 &&
          col("total_chars") <= col("n_words") * 10)
          .cast("int").as("ok_mwl"),
        (size(filter(col("words"),
          w => w.isin("the", "a", "of", "and", "in", "to"))) >= 2)
          .cast("int").as("ok_stop"))
      .withColumn("kept",
        (col("ok_len") === 1 && col("ok_mwl") === 1 && col("ok_stop") === 1)
          .cast("int"))

  /** PII regexes shared by detect + redact. Kept to the RE2-compatible
    * subset (no lookaround, no backrefs) so the same pattern strings run
    * byte-identically under Java regex (Spark) and RE2 (the DuckDB
    * oracle) — the compatibility constraint any multi-engine scrubbing
    * pipeline lives under.
    */
  private[ext] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[ext] val PhoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
  private[ext] val Ipv4Re =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** The redaction chain as a reusable column — ORDER IS LOAD-BEARING
    * (emails first, else their host dots feed the IPv4 regex). The one
    * definition behind [[piiRedact]], the curation pipeline's stage 2,
    * and its spec, so the order/placeholders can never drift.
    */
  def redact(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")

  /** PII detection + redaction — the scrub pass every web-scale training
    * corpus runs before model consumption (emails, phone numbers, IPv4
    * addresses → typed placeholder tags). The fixture text is PII-free
    * word soup, so the query first embeds deterministic doc_id-derived
    * PII into each row; the oracle SQL performs the IDENTICAL
    * construction, which means the regex match/replace semantics — the
    * operator under test — must agree exactly on every row.
    *
    * Order matters and is pinned: emails first (an email's domain would
    * otherwise feed the IPv4-ish dot runs), then phones, then IPs. All
    * three passes are codegen'd string expressions over one scan — no
    * UDF, one WholeStageCodegen span, trivially data-parallel at 100 TB.
    */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val raw = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" from 10."), (col("doc_id") % 256).cast("string"), lit(".0.1"))
    docs(s, dir)
      .withColumn("raw", raw)
      .select(
        col("doc_id"),
        regexp_count(col("raw"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("raw"), lit(PhoneRe)).cast("long").as("n_phones"),
        // IP count BEFORE redaction: on the raw text the email's host
        // dots are protected by the literal letters, so the count is the
        // true v4 addresses.
        regexp_count(col("raw"), lit(Ipv4Re)).cast("long").as("n_ips"),
        redact(col("raw")).as("clean"))
  }
}
