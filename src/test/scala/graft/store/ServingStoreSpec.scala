package graft.store

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** ServingStore semantics + the sliding-window assignment property from
  * SURVEY.md §5.4.
  */
class ServingStoreSpec extends SparkSpec {

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  test("dropPartitionsBefore removes only expired partitions (retention)") {
    implicit val s = spark
    import spark.implicits._
    val store = new ServingStore(tmp("ret-store"))
    store.appendLogPartitioned("t", Seq(
      ("a", "2024-06-01", 1.0), ("b", "2024-06-02", 2.0),
      ("c", "2024-06-03", 3.0)).toDF("id", "dt", "v"), "dt")
    store.dropPartitionsBefore("t", "dt", "2024-06-02")
    val dts = store.table("t").select("dt").collect()
      .map(r => String.valueOf(r.get(0))).sorted
    assert(dts.toSeq == Seq("2024-06-02", "2024-06-03"))
  }

  test("overwrite replaces the whole table atomically") {
    implicit val s = spark
    import spark.implicits._
    val store = new ServingStore(tmp("ow-store"))
    val dir = Paths.get(store.root, "t")
    def pointer() = Files.readString(dir.resolve("_current")).trim
    store.overwrite("t", Seq((1, "x")).toDF("id", "v"))
    store.overwrite("t", Seq((2, "y"), (3, "z")).toDF("id", "v"))
    val previous = pointer()
    store.overwrite("t", Seq((4, "w"), (5, "u")).toDF("id", "v"))
    assert(store.table("t").count() == 2)
    // orphan-snapshot GC with one swap of grace: the first snapshot is gone
    val entries = Files.list(dir)
    try assert(entries.iterator().asScala.map(_.getFileName.toString).toSet ==
      Set("_current", pointer(), previous))
    finally entries.close()
  }

  test("append-log sink tolerates replays; compact restores exactly-once") {
    implicit val s = spark
    import spark.implicits._
    val store = new ServingStore(tmp("log-store"))
    store.appendLog("log", Seq(("a", 1.0), ("b", 2.0)).toDF("id", "v"))
    store.appendLog("log", Seq(("b", 2.0), ("c", 3.0)).toDF("id", "v")) // replayed b
    assert(store.table("log").count() == 4, "log keeps duplicates")
    assert(store.tableDeduped("log", "id").count() == 3)
    store.compact("log", "id")
    assert(store.table("log").count() == 3, "compaction rewrote the snapshot")
    assert(store.table("log").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("a", "b", "c"))
  }

  test("versioned append-log: latest epoch wins, compaction preserves it") {
    implicit val s = spark
    import spark.implicits._
    val store = new ServingStore(tmp("vlog-store"))
    store.appendLogVersioned("t", Seq(("w1", 10.0), ("w2", 20.0)).toDF("id", "v"), 1L)
    store.appendLogVersioned("t", Seq(("w1", 11.0)).toDF("id", "v"), 2L) // correction
    val latest = store.tableCurrent("t", "id").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(latest == Map("w1" -> 11.0, "w2" -> 20.0))
    store.compactVersioned("t", "id")
    assert(store.table("t").count() == 2)
    store.appendLogVersioned("t", Seq(("w2", 21.0)).toDF("id", "v"), 3L)
    assert(store.tableCurrent("t", "id").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap ==
      Map("w1" -> 11.0, "w2" -> 21.0))
  }

  test("snapshot-pointer swap: readers always resolve a complete snapshot") {
    implicit val s = spark
    import spark.implicits._
    val store = new ServingStore(tmp("snap-store"))
    // plain layout first (append log), then compact → snapshot layout
    store.appendLog("t", Seq(("a", 1.0), ("a", 1.0), ("b", 2.0)).toDF("id", "v"))
    store.compact("t", "id")
    val dir = Paths.get(store.root, "t")
    assert(Files.isRegularFile(dir.resolve("_current")), "pointer file missing")
    val snap1 = Files.readString(dir.resolve("_current")).trim
    assert(snap1.startsWith(".snap-"))
    assert(store.table("t").count() == 2)
    // appends land in the current snapshot; a further swap repoints and
    // keeps the superseded snapshot for ONE swap of grace (in-flight readers
    // may still be scanning it), collecting it on the swap after that
    store.appendLog("t", Seq(("c", 3.0)).toDF("id", "v"))
    assert(store.table("t").count() == 3)
    store.compact("t", "id")
    val snap2 = Files.readString(dir.resolve("_current")).trim
    assert(snap2 != snap1)
    assert(Files.exists(dir.resolve(snap1)),
      "superseded snapshot deleted immediately — in-flight readers would break")
    assert(store.table("t").count() == 3)
    store.compact("t", "id")
    val snap3 = Files.readString(dir.resolve("_current")).trim
    assert(!Files.exists(dir.resolve(snap1)), "2-swaps-old snapshot not GC'd")
    assert(Files.exists(dir.resolve(snap2)), "grace snapshot GC'd too early")
    assert(store.table("t").count() == 3)
    // migration cleanup: plain-layout data files at the root survive the
    // first swap (they are that swap's "previous snapshot") and go on the next
    val stray = Files.list(dir)
    try assert(!stray.anyMatch(p => p.getFileName.toString.startsWith("part-")))
    finally stray.close()
    assert(snap3 != snap2)
  }

  test("tableCurrent: versioned log resolves latest epoch, plain log dedups") {
    implicit val s = spark
    import spark.implicits._
    val store = new ServingStore(tmp("cur-store"))
    store.appendLogVersioned("vt", Seq(("k", 1.0)).toDF("id", "v"), 1L)
    store.appendLogVersioned("vt", Seq(("k", 2.0)).toDF("id", "v"), 2L)
    assert(store.tableCurrent("vt", "id").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toSeq == Seq("k" -> 2.0))
    store.appendLog("pt", Seq(("k", 1.0), ("k", 1.0)).toDF("id", "v"))
    assert(store.tableCurrent("pt", "id").count() == 1)
  }

  test("janitor: retention drops old chart partitions, compaction dedupes logs") {
    implicit val s = spark
    import spark.implicits._
    import graft.schema.Schemas.Tables
    val store = new ServingStore(tmp("janitor-store"))
    // chart: the production topology — append-log-partitioned with a
    // replayed micro-batch (duplicate doc_id) and one expired partition
    store.appendLogPartitioned(Tables.ChartData, Seq(
      ("a", "2024-06-01", 1.0), ("b", "2024-06-03", 2.0))
      .toDF("doc_id", "dt", "v"), "dt")
    store.appendLogPartitioned(Tables.ChartData, Seq(
      ("b", "2024-06-03", 2.0), ("c", "2024-06-03", 3.0))
      .toDF("doc_id", "dt", "v"), "dt")
    // stats: versioned log with a correction
    store.appendLogVersioned(Tables.Stats, Seq(("w1", 1.0)).toDF("doc_id", "v"), 1L)
    store.appendLogVersioned(Tables.Stats, Seq(("w1", 2.0)).toDF("doc_id", "v"), 2L)
    JanitorMain.run(store,
      java.time.Instant.parse("2024-06-03T01:00:00Z"), keepHours = 2)
    val chart = store.table(Tables.ChartData).collect()
    assert(chart.map(r => String.valueOf(r.getAs[Any]("dt"))).distinct.toSeq ==
      Seq("2024-06-03"), "expired partition survived retention")
    assert(chart.map(_.getAs[String]("doc_id")).sorted.toSeq == Seq("b", "c"),
      "replayed chart rows survived compaction")
    val statsRows = store.table(Tables.Stats).collect()
    assert(statsRows.length == 1 && statsRows.head.getAs[Double]("v") == 2.0,
      "versioned compaction did not keep latest epoch")
  }

  test("property: every event lands in exactly window/slide sliding windows") {
    import spark.implicits._
    // 10-minute window, 1-minute slide → every event in exactly 10 windows
    val gen = Gen.chooseNum(0L, 100000000L)
    val samples = (0 until 20).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)))
    val df = samples.distinct.map(sec => java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(sec))).toDF("ts")
    // window() in a non-agg select expands to one row per assigned window
    val counts = df.select(col("ts"),
      window(col("ts"), "10 minutes", "1 minute")).groupBy("ts").count()
      .collect()
    assert(counts.forall(_.getLong(1) == 10L),
      s"events not in exactly 10 sliding windows: ${counts.mkString(",")}")
  }
}
