package graft

/** Runnable composed curation pipeline: gates → redact → exact dedup →
  * near-dup prune → decontaminate → pack, printing one JSON line of
  * per-stage (docs, tokens) metrics and optionally writing the packed
  * corpus.
  *
  * Usage: runMain graft.CurateMain <sfDir> [outDir]
  */
object CurateMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1)
    val spark = Sessions.getOrCreate("graft-curate", corpus = Some(sfDir))
    val t0 = System.nanoTime()
    val (packed, metrics) = graft.ext.CuratePipeline.curate(spark, sfDir)
    outDir.foreach(d => packed.write.mode("overwrite").parquet(d))
    if (outDir.isEmpty) packed.write.mode("overwrite").format("noop").save()
    val secs = (System.nanoTime() - t0) / 1e9
    val stages = metrics.map(m =>
      s""""${m.stage}":{"docs":${m.docs},"tokens":${m.tokens}}""")
      .mkString(",")
    println(f"""{"metric":"curate","sec":$secs%.2f,$stages,"sf":"$sfDir"}""")
    spark.stop()
  }
}
