package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Expressions.cosineF

/** Round-10 session-3 exchange-volume rewrites: every compact-key /
  * late-materialization path must be output-identical to the literal
  * shape it replaced (the 64-bit collision argument is probabilistic;
  * these pins make the fixture-level equality a regression gate).
  */
class Round10Session3Spec extends SparkSpec {

  private def identical(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame, what: String): Unit = {
    // exceptAll both ways = exact MULTISET equality (a set-based
    // union-distinct check would pass when one side duplicates a row
    // and the other adds a spurious one)
    assert(a.exceptAll(b).isEmpty, s"$what: rows only in the first side")
    assert(b.exceptAll(a).isEmpty, s"$what: rows only in the second side")
  }

  /** The pre-r10s3 e3 shape: embeddings ride through the (table_id,
    * bucket) candidate exchange on both sides, Hamming-1 probes explode
    * the left side, and `distinct` runs on (pair, cosine).
    */
  private def knnJoinEmbeddingCarrying(dir: String, k: Int, nPlanes: Int,
      nTables: Int): DataFrame = {
    val probes = array((col("bucket") +: (0 until nPlanes).map(i =>
      col("bucket").bitwiseXOR(lit(1L << i)))): _*)
    val b = Similarity.lshBucketsMulti(spark, dir, nPlanes, nTables)
    val l = b.select(col("vec_id").as("src_id"),
      col("embedding").as("src_emb"), col("table_id"),
      explode(probes).as("bucket"))
    val r = b.select(col("vec_id").as("nb_id"),
      col("embedding").as("nb_emb"), col("table_id"), col("bucket"))
    val cand = SkewSafe.cappedEquiJoin(l, r, Seq("table_id", "bucket"),
        xxhash64(col("nb_id")), cap = 1024)
      .filter(col("src_id") =!= col("nb_id"))
      .select(col("src_id"), col("nb_id"),
        cosineF(col("src_emb"), col("nb_emb")).as("cosine"))
      .distinct()
    graft.plans.TopKPerGroup.topK(cand, Seq("src_id"), "cosine", k,
      desc = true, tiebreakCols = Seq("nb_id"))
  }

  test("d3: compact xxhash64(lang,source,shingle) join keys mine pairs " +
      "identical to the literal 3-column keys") {
    val dir = sf("sf0.01")
    identical(
      Dedup.prefixJaccardPairs(spark, dir, k = 3, jaccardMin = 0.4,
        compactKeys = true),
      Dedup.prefixJaccardPairs(spark, dir, k = 3, jaccardMin = 0.4,
        compactKeys = false),
      "d3 compactKeys")
  }

  test("d7: compact xxhash64(lang,source,fp) join keys mine pairs " +
      "identical to the literal 3-column keys") {
    val dir = sf("sf0.01")
    identical(
      Dedup.winnowPairs(spark, dir, k = 3, w = 8, jaccardMin = 0.4,
        compactKeys = true),
      Dedup.winnowPairs(spark, dir, k = 3, w = 8, jaccardMin = 0.4,
        compactKeys = false),
      "d7 compactKeys")
  }

  test("d12: span cut splices duplicated spans out, passes clean docs " +
      "through, and empties a fully-covered doc") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-d12").toString
    val block = "0123456789" * 4 // 40 chars shared between docs 1 and 2
    Seq(
      (1L, ("u" * 30) + block + ("v" * 30), "s"),
      (2L, ("w" * 20) + block + ("y" * 10), "s"),
      (3L, "entirely original text that is long enough to gram", "s"),
      (4L, block, "s")) // fully covered -> empty
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cut = Dedup.cutDupSpans(spark, dir, k = 25)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(cut(1L) == (("u" * 30) + ("v" * 30), 40L), cut(1L).toString)
    assert(cut(2L) == (("w" * 20) + ("y" * 10), 40L), cut(2L).toString)
    assert(cut(3L) ==
      (("entirely original text that is long enough to gram", 0L)))
    assert(cut(4L) == (("", 40L)), cut(4L).toString)
    // conservation: clean length + chars cut == original length, per doc
    val bad = Dedup.cutDupSpans(spark, dir, k = 25)
      .join(spark.read.parquet(s"$dir/documents.parquet"), "doc_id")
      .filter(org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("clean_text")) +
        org.apache.spark.sql.functions.col("n_cut") =!=
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text")))
      .count()
    assert(bad == 0L)
  }

  test("d13: self-repeat spans keep the first occurrence, merge " +
      "overlapping repeats, and ignore cross-doc-only duplication") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-d13").toString
    val block = "abcdefghij0123456789ABCDE" // 25 chars, k = 25
    Seq(
      // block at 1, repeated at 41 and 81 (non-adjacent): two repeat
      // spans, first occurrence NOT marked
      (1L, block + ("u" * 15) + block + ("v" * 15) + block, "s"),
      // self-overlap: "zz...z" run — every gram equals the one before
      // it, so positions 2..6 are repeat-covered: one span 2..30
      (2L, ("z" * 30), "s"),
      // cross-doc duplication only (same text as doc 4, no within-doc
      // repeats): NO self-repeat spans
      (3L, "entirely original text that is long enough." + ("w" * 5), "s"),
      (4L, "entirely original text that is long enough." + ("w" * 5), "s"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val spans = Dedup.selfRepeatSpans(spark, dir, k = 25)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(spans == Seq((1L, 41L, 65L), (1L, 81L, 105L), (2L, 2L, 30L)),
      spans.toString)
    // hashed and literal gram paths agree on the real fixture — at the
    // SHIPPED k = 12, where the comparison is non-vacuous (578 spans;
    // k = 25 finds zero self-repeats on this corpus)
    val dirF = sf("sf0.01")
    val hashed = Dedup.selfRepeatSpans(spark, dirF, k = 12, hashKeys = true)
    val literal = Dedup.selfRepeatSpans(spark, dirF, k = 12,
      hashKeys = false)
    assert(hashed.count() > 0, "vacuous equivalence: zero spans at k=12")
    identical(hashed, literal, "d13 hashKeys")
  }

  test("compact keys reproduce the literal join's NULL-block semantics: " +
      "null-lang docs never pair, and (null, x) does not collide with " +
      "(x, null)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-nullb").toString
    val t = "the quick brown fox jumps over the lazy dog again and again"
    Seq(
      (1L, t, Option.empty[String], Option("web"), 60L),
      (2L, t, Option.empty[String], Option("web"), 60L),
      (3L, t, Option("web"), Option.empty[String], 60L),
      (4L, t + " x", Option("en"), Option("web"), 62L),
      (5L, t + " y", Option("en"), Option("web"), 62L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    for (compact <- Seq(true, false)) {
      val pairs = Dedup.prefixJaccardPairs(spark, dir, k = 3,
          jaccardMin = 0.4, compactKeys = compact)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // docs 1/2 (identical, lang NULL) and 1/3-2/3 ((null,web) vs
      // (web,null)) must NOT pair under either path; 4/5 must.
      assert(pairs == Set((4L, 5L)), s"compact=$compact: $pairs")
    }
    for (compact <- Seq(true, false)) {
      val pairs = Dedup.winnowPairs(spark, dir, k = 3, w = 4,
          jaccardMin = 0.4, compactKeys = compact)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((4L, 5L)), s"winnow compact=$compact: $pairs")
    }
  }

  test("autoPlanes sizes the LSH partition to the corpus: constant " +
      "bucket occupancy, clamped, and knnJoin(nPlanes=0) routes " +
      "through it") {
    // n/2^p ≈ targetBucket ⇒ doubling n adds one plane
    assert(Similarity.autoPlanes(1000, 32) + 1 ==
      Similarity.autoPlanes(2000, 32))
    assert(Similarity.autoPlanes(20000) == 10)   // 20k/32 → 2^10
    assert(Similarity.autoPlanes(200000) == 13)  // 200k/32 → 2^13
    assert(Similarity.autoPlanes(1) == 4)        // clamp floor
    assert(Similarity.autoPlanes(Long.MaxValue) == 24) // clamp ceiling
    // sentinel routing: auto at this corpus must equal the explicit call
    // at the computed plane count (same seed ⇒ same buckets ⇒ same knn)
    val dir = sf("sf0.001")
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val auto = Similarity.knnJoin(spark, dir, k = 3, nPlanes = 0)
    val explicit = Similarity.knnJoin(spark, dir, k = 3,
      nPlanes = Similarity.autoPlanes(n))
    assert(auto.unionByName(explicit).distinct().count() == auto.count())
    assert(auto.count() == explicit.count())
  }

  test("e3: late-materialized kNN join (IDs through the candidate " +
      "exchange, embeddings re-attached to the deduped pair set) equals " +
      "the embedding-carrying shape") {
    val dir = sf("sf0.01")
    identical(
      Similarity.knnJoin(spark, dir, k = 3, nPlanes = 8,
        hamming1Probes = true, nTables = 4),
      knnJoinEmbeddingCarrying(dir, k = 3, nPlanes = 8, nTables = 4),
      "e3 late materialization")
  }
}
