package graft

/** Print one SparkEntry query's result — for eyeballing an operator's
  * output (or an invariant's violation rows) without the Verify sweep.
  *
  * Usage: sbt "runMain graft.ShowQ <query> [sfDir] [maxRows]"
  */
object ShowQ {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: ShowQ <query> [sfDir] [maxRows]\n" +
        s"queries: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val name = args(0)
    if (!SparkEntry.queries.contains(name)) {
      System.err.println(s"unknown query '$name'; valid: " +
        SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    }
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val maxRows = args.lift(2).map(_.toInt).getOrElse(50)
    val spark = Sessions.getOrCreate("graft-showq", corpus = Some(sfDir))
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.show(maxRows, truncate = false)
    println(s"[showq] $name rows=${df.count()}")
    spark.stop()
  }
}
