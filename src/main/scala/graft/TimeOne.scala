package graft

/** Single-query timing harness: warm session, N timed runs of one
  * SparkEntry query to a noop sink. For iterating on one operator without
  * paying the full Bench sweep.
  *
  * Usage: sbt "runMain graft.TimeOne <query> [sfDir] [iters]"
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val iters = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = Sessions.getOrCreate("graft-timeone", corpus = Some(sfDir))
    spark.range(1000000).selectExpr("sum(id)").collect()
    val fn = SparkEntry.queries(name)
    val times = (1 to iters).map { _ =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"[timeone] $name ${times.map(t => f"$t%.2f").mkString(" ")} " +
      f"min=${times.min}%.2f")
    spark.stop()
  }
}
