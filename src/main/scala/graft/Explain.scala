package graft

/** Plan auditor: prints the formatted physical plan of queries so scan
  * pushdown, broadcast choices and whole-stage-codegen spans can be
  * reviewed.
  *
  * Coverage is BY CONSTRUCTION: the default set is every key of
  * `SparkEntry.queries` minus an explicit, justified exclusion list —
  * a new query is plan-audited automatically, so the "every query is
  * explained" claim in BASELINE.md cannot rot (the r5 p15/h1 gap).
  *
  * Usage: sbt "runMain graft.Explain [sfDir] [query ...]"
  */
object Explain {

  /** Queries whose plan is driver-side trivial or duplicated elsewhere.
    * Keep this list SHORT and justified — anything not here gets
    * explained by default.
    */
  val excluded: Set[String] = Set.empty

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted.filterNot(excluded)
    val spark = Sessions.getOrCreate("graft-explain", corpus = Some(sfDir),
      logLevel = "ERROR")
    var failed = List.empty[String]
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable =>
        failed ::= n
        println(s"EXPLAIN FAILED: ${e.getMessage}")
      }
    }
    println(s"\n== explained ${names.length - failed.length}/${names.length}" +
      (if (failed.nonEmpty) s"; FAILED: ${failed.reverse.mkString(",")}" else ""))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
