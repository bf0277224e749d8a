package graft.tools

import org.apache.spark.sql.functions._

/** Scale-up corpus generator for slope measurements (VERDICT r5 item 6).
  *
  * The driver testdata stops at sf0.1; proving the heavy-tail operators
  * (d3/d4/d7/wv2/e3) scale linearly needs a 10× corpus. This job reads
  * the sf0.1 `documents`/`embeddings` tables and writes a `scale`×
  * version that PRESERVES the distributions the operators are sensitive
  * to, so output sizes (pair counts, cluster counts) grow ~linearly and
  * a time slope is interpretable:
  *
  *  - documents: every original survives (doc_id × scale); synthetic
  *    rows sample words from the original vocabulary with per-doc seeded
  *    splitmix streams, word count copied from their base doc (length
  *    distribution preserved), lang/source copied (stratification
  *    preserved). Exact duplicates are injected at the ORIGINAL corpus's
  *    dup rate (~8 groups / 5000 docs), not one-per-doc — a naive
  *    copy-with-suffix generator would explode near-dup pair counts
  *    quadratically and fake a super-linear slope.
  *  - embeddings: per-label mean/stddev are estimated from the original
  *    clusters; synthetic vectors are center + seeded Gaussian noise,
  *    labels keep the original proportions.
  *
  * Deterministic: all randomness is splitmix64 streams keyed by the new
  * row id. Usage:
  *   sbt "runMain graft.tools.ScaleGen <outDir> [scale] [srcDir]"
  */
object ScaleGen {

  private def mix(a: Long, b: Long): Long =
    graft.functions.SplitMix.mix2(a, b)

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/root/repo/scaledata/sf1")
    val scale = args.lift(1).map(_.toInt).getOrElse(10)
    val srcDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    // events.ts has shipped as both parquet timestamp[ns] and
    // timestamp[us]; the session reads the ns form as INT64 and the
    // write-back re-emits whichever shape came in — the query layer's
    // dtype-adaptive EventsTable.load consumes either.
    val spark = graft.Sessions.getOrCreate("graft-scalegen", corpus = Some(srcDir))
    import spark.implicits._

    // ---- documents -------------------------------------------------------
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)]
    val vocab = docs.flatMap(_._2.split(' ')).distinct().collect().sorted
    val nDocs = docs.count()
    // original exact-dup rate: groups per doc (sf0.1: 8 / 5000)
    val dupGroups = docs.groupByKey(_._2).count().filter(_._2 > 1).count()
    val dupEvery = math.max(2, (nDocs.toDouble / math.max(1, dupGroups)).toInt)
    val vocabB = spark.sparkContext.broadcast(vocab)
    docs.flatMap { case (id, text, lang, source, nChars) =>
      val words = text.split(' ')
      (0 until scale).map { rep =>
        val nid = id * scale + rep
        if (rep == 0) (nid, text, lang, source, nChars)
        else if (mix(nid, 0xd0c5L) % dupEvery == 0) {
          // exact duplicate of the base doc, at the original dup rate
          (nid, text, lang, source, nChars)
        } else {
          val v = vocabB.value
          val sb = new StringBuilder
          var i = 0
          while (i < words.length) {
            if (i > 0) sb.append(' ')
            sb.append(v(java.lang.Math.floorMod(mix(nid, i.toLong), v.length)))
            i += 1
          }
          val t = sb.toString
          (nid, t, lang, source, t.length.toLong)
        }
      }
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    // ---- embeddings ------------------------------------------------------
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label").cast("int"))
      .as[(Long, Array[Float], Int)]
    val stats = emb.toDF("vec_id", "embedding", "label")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(avg("x").as("mu"), stddev_pop("x").as("sd"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (lbl, rows) =>
        val byDim = rows.sortBy(_.getInt(1))
        (lbl, (byDim.map(_.getDouble(2)), byDim.map(_.getDouble(3))))
      }
    val statsB = spark.sparkContext.broadcast(stats)
    emb.flatMap { case (id, v, label) =>
      (0 until scale).map { rep =>
        val nid = id * scale + rep
        if (rep == 0) (nid, v, label)
        else {
          val (mu, sd) = statsB.value(label)
          val out = new Array[Float](v.length)
          var d = 0
          while (d < v.length) {
            // Box–Muller from two splitmix streams — deterministic gaussian
            val u1 = (java.lang.Math.floorMod(mix(nid, d * 2L), 1000000L)
              + 1L) / 1000001.0
            val u2 = java.lang.Math.floorMod(mix(nid, d * 2L + 1), 1000000L) /
              1000000.0
            val g = math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
            out(d) = (mu(d) + sd(d) * g).toFloat
            d += 1
          }
          (nid, out, label)
        }
      }
    }.toDF("vec_id", "embedding", "label")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // ---- relational tables + events (r7: full-operator-set sweeps) -------
    // TPC-H's own SF scaling model: FACT and per-entity tables grow, the
    // nation/region dimensions stay fixed. Each replica `rep` is the base
    // relation with every entity key remapped k → k·scale+rep — 10
    // disjoint "parallel universes", so referential integrity, per-key
    // degree distributions and selectivities are preserved EXACTLY and a
    // linear operator must show a ~scale× time slope. No cross-replica
    // joins exist by construction (keys are disjoint mod scale).
    val rep = explode(sequence(lit(0), lit(scale - 1))).as("rep")
    def remap(k: String): org.apache.spark.sql.Column =
      (col(k) * scale + col("rep")).as(k)
    def scaleTable(name: String, keyCols: Seq[String]): Unit = {
      val src = spark.read.parquet(s"$srcDir/$name.parquet")
      val others = src.columns.filterNot(keyCols.contains).map(col)
      src.select(col("*"), rep)
        .select(keyCols.map(remap) ++ others: _*)
        .select(src.columns.map(col): _*) // original column order
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    scaleTable("customer", Seq("c_custkey"))
    scaleTable("supplier", Seq("s_suppkey"))
    scaleTable("part", Seq("p_partkey"))
    scaleTable("orders", Seq("o_orderkey", "o_custkey"))
    scaleTable("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    scaleTable("events", Seq("event_id", "user_id"))
    for (dim <- Seq("region", "nation"))
      spark.read.parquet(s"$srcDir/$dim.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$dim.parquet")

    // the corpus at outDir just changed: EVERY per-corpus memo in this
    // JVM (broadcast-gate statistics, resolved index geometries,
    // calibrated nprobe/table counts, artifact paths) is stale — drop
    // them all through the shared registry (ADVICE r14; r13 cleared
    // only the JoinHints statistic)
    graft.ext.CorpusMemos.clearAll()

    val nd = spark.read.parquet(s"$outDir/documents.parquet").count()
    val ne = spark.read.parquet(s"$outDir/embeddings.parquet").count()
    val nl = spark.read.parquet(s"$outDir/lineitem.parquet").count()
    val nv = spark.read.parquet(s"$outDir/events.parquet").count()
    println(s"[scalegen] wrote $outDir: documents=$nd embeddings=$ne " +
      s"lineitem=$nl events=$nv (scale=$scale from $srcDir)")
    spark.stop()
  }
}
