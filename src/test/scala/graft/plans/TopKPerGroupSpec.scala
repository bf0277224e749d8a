package graft.plans

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The custom bounded-heap top-k-per-group operator must (a) equal the
  * row_number window formulation row-for-row, and (b) plan WITHOUT a
  * WindowExec or per-group sort — two TopKPerGroupExec passes around one
  * hash exchange.
  */
class TopKPerGroupSpec extends SparkSpec {

  private def randomDf(n: Int, groups: Int, seed: Long) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    // duplicate values on purpose: rank-k ties must be broken by the
    // tiebreak column identically in both formulations
    (1 to n).map(i =>
      (rnd.nextInt(groups).toLong, i.toLong, rnd.nextInt(40).toDouble))
      .toDF("g", "id", "v")
  }

  test("equals row_number window formulation, including rank-k ties") {
    val df = randomDf(5000, 23, seed = 7)
    for (k <- Seq(1, 3, 10)) {
      val got = TopKPerGroup.topK(df, Seq("g"), "v", k,
          desc = true, tiebreakCols = Seq("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val w = Window.partitionBy("g").orderBy(col("v").desc, col("id"))
      val expect = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k).drop("rn")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expect, s"k=$k: missing=${expect -- got} extra=${got -- expect}")
    }
  }

  test("ascending order and multi-column grouping") {
    val df = randomDf(2000, 7, seed = 11)
      .withColumn("g2", (col("id") % 3).cast("long"))
    val got = TopKPerGroup.topK(df, Seq("g", "g2"), "v", 2,
        desc = false, tiebreakCols = Seq("id"))
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1))).toSet
    val w = Window.partitionBy("g", "g2").orderBy(col("v"), col("id"))
    val expect = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1))).toSet
    assert(got == expect)
  }

  test("plans as partial+final heap passes with one exchange, no window/sort") {
    val df = randomDf(1000, 5, seed = 3)
    val q = TopKPerGroup.topK(df, Seq("g"), "v", 4, tiebreakCols = Seq("id"))
    // operator presence: pre-AQE plan (executedPlan under AQE is a leaf
    // wrapper that collect{} can't see into)
    val sp = q.queryExecution.sparkPlan
    val heapPasses = sp.collect { case e: TopKPerGroupExec => e }
    assert(heapPasses.map(_.partial).sorted == Seq(false, true),
      s"expected partial+final TopKPerGroupExec, got:\n$sp")
    assert(sp.collect { case w: WindowExec => w }.isEmpty)
    // exchange count: disable AQE so executedPlan is concrete
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q2 = TopKPerGroup.topK(df, Seq("g"), "v", 4, tiebreakCols = Seq("id"))
      val ep = q2.queryExecution.executedPlan
      assert(ep.collect { case a: AdaptiveSparkPlanExec => a }.isEmpty)
      val exchanges = ep.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1, s"expected exactly 1 exchange:\n$ep")
      val sorts = ep.collect {
        case s: org.apache.spark.sql.execution.SortExec => s }
      assert(sorts.isEmpty, s"bounded-heap plan must not sort:\n$ep")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("spill path: tiny threshold flushes the partial map and spills the " +
      "final map to sorted runs, results stay exact") {
    val aqePrev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set(TopKPerGroup.SpillThresholdKey, "64")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // 2000 groups / 4 reduce tasks ≈ 500 groups × k rows per task — far
      // past the 64-row threshold, so both passes must take their bounded-
      // memory fallback and still match the window oracle exactly
      val df = randomDf(20000, 2000, seed = 43)
      val q = TopKPerGroup.topK(df, Seq("g"), "v", 5,
        desc = true, tiebreakCols = Seq("id"))
      val got = q.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val w = Window.partitionBy("g").orderBy(col("v").desc, col("id"))
      val expect = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5).drop("rn")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expect,
        s"spill path diverged: missing=${(expect -- got).take(5)} " +
        s"extra=${(got -- expect).take(5)}")
      // the final pass must actually have spilled (metric counts runs)
      val execs = q.queryExecution.executedPlan.collect {
        case e: TopKPerGroupExec => e }
      val finalSpills = execs.filter(!_.partial).map(_.metrics("spillCount").value).sum
      val partialFlushes = execs.filter(_.partial).map(_.metrics("spillCount").value).sum
      assert(finalSpills > 0, s"final pass never spilled (threshold=64)")
      assert(partialFlushes > 0, s"partial pass never flushed (threshold=64)")
    } finally {
      spark.conf.unset(TopKPerGroup.SpillThresholdKey)
      spark.conf.set("spark.sql.adaptive.enabled", aqePrev)
    }
  }

  test("byte threshold trips on wide rows long before the row threshold") {
    spark.conf.set(TopKPerGroup.SpillThresholdBytesKey, "4096")
    val aqePrev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // ~1 KB payload per row: a row count alone would never flush here
      val df = randomDf(2000, 200, seed = 29)
        .withColumn("pad", concat_ws("", (1 to 16).map(_ => col("id").cast("string")): _*))
        .withColumn("pad", rpad(col("pad"), 1024, "x"))
      val q = TopKPerGroup.topK(df, Seq("g"), "v", 3, tiebreakCols = Seq("id"))
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val w = Window.partitionBy("g").orderBy(col("v").desc, col("id"))
      val expect = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expect)
      val execs = q.queryExecution.executedPlan.collect {
        case e: TopKPerGroupExec => e }
      assert(execs.map(_.metrics("spillCount").value).sum > 0,
        "wide rows never tripped the byte threshold")
    } finally {
      spark.conf.unset(TopKPerGroup.SpillThresholdBytesKey)
      spark.conf.set("spark.sql.adaptive.enabled", aqePrev)
    }
  }

  test("rows within a group are emitted best-first (WindowExec order parity)") {
    // both with and without spilling: the user-visible intra-group order
    // must be the window order
    for (threshold <- Seq(None, Some("32"))) {
      threshold.foreach(t => spark.conf.set(TopKPerGroup.SpillThresholdKey, t))
      try {
        val df = randomDf(4000, 17, seed = 5)
        val rows = TopKPerGroup.topK(df, Seq("g"), "v", 6,
          desc = true, tiebreakCols = Seq("id")).collect()
        rows.groupBy(_.getLong(0)).foreach { case (g, grp) =>
          val inOrder = grp.map(r => (r.getDouble(2), r.getLong(1))).toSeq
          val sorted = inOrder.sortBy { case (v, id) => (-v, id) }
          assert(inOrder == sorted,
            s"group $g (spill=$threshold) not best-first: $inOrder")
        }
      } finally threshold.foreach(_ =>
        spark.conf.unset(TopKPerGroup.SpillThresholdKey))
    }
  }

  test("column resolution is case-insensitive like the DataFrame API") {
    val df = randomDf(200, 3, seed = 2)
    val got = TopKPerGroup.topK(df, Seq("G"), "V", 2, tiebreakCols = Seq("ID"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expect = TopKPerGroup.topK(df, Seq("g"), "v", 2, tiebreakCols = Seq("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expect)
    val err = intercept[IllegalArgumentException] {
      TopKPerGroup.topK(df, Seq("nope"), "v", 2)
    }
    assert(err.getMessage.contains("not in"))
  }

  test("k >= group size returns whole groups; empty input returns nothing") {
    import spark.implicits._
    val df = Seq((1L, 1L, 1.0), (1L, 2L, 2.0), (2L, 3L, 3.0))
      .toDF("g", "id", "v")
    assert(TopKPerGroup.topK(df, Seq("g"), "v", 100,
      tiebreakCols = Seq("id")).count() == 3)
    val empty = df.filter(col("g") < 0)
    assert(TopKPerGroup.topK(empty, Seq("g"), "v", 3,
      tiebreakCols = Seq("id")).count() == 0)
  }

  test("float group keys: -0.0 and 0.0 land in one group (normalized)") {
    import spark.implicits._
    val df = Seq((0.0, 1L, 5.0), (-0.0, 2L, 4.0), (0.0, 3L, 3.0),
      (-0.0, 4L, 2.0), (1.5, 5L, 1.0))
      .toDF("g", "id", "v")
    val got = TopKPerGroup.topK(df, Seq("g"), "v", 2,
        desc = true, tiebreakCols = Seq("id"))
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    // one logical group for 0.0/-0.0 → its top-2 is (1,5.0),(2,4.0);
    // a split-group bug would also emit (3,3.0),(4,2.0)
    assert(got == Set((1L, 5.0), (2L, 4.0), (5L, 1.0)),
      s"float keys split or mis-grouped: $got")
  }

  test("partial pass bounds what crosses the shuffle to k rows per partition-group") {
    val df = randomDf(4000, 2, seed = 19).repartition(4)
    val q = TopKPerGroup.topK(df, Seq("g"), "v", 3, tiebreakCols = Seq("id"))
    // count rows the partial (map-side) pass emits: execute just that stage
    val sp = q.queryExecution.sparkPlan
    val partial = sp.collect {
      case e: TopKPerGroupExec if e.partial => e }.head
    val emitted = partial.execute().count()
    // ≤ k × groups × partitions, versus 4000 input rows
    assert(emitted <= 3 * 2 * 4,
      s"partial pass leaked $emitted rows into the shuffle")
    assert(q.count() == 3 * 2)
  }
}
