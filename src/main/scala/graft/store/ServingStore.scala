package graft.store

import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor,
  StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Keyed serving store: Parquet tables with merge-on-key (upsert) semantics.
  *
  * Replaces the reference's Elasticsearch serving layer (SURVEY.md §1.3).
  * The reference writes with `es.write.operation=upsert` keyed on an
  * application-generated `doc_id` (batch_processor.py:142-148) and
  * `es.write.operation=index` (overwrite-by-id) from streaming foreachBatch
  * (stream_processor.py:92-105). Both are idempotent-by-key; we reproduce
  * that with an anti-join merge + snapshot-pointer swap:
  *
  *   new_table = old_table ANTI JOIN incoming ON key  UNION ALL  incoming
  *
  * Snapshot layout: a rewritten table holds its data in a hidden
  * `.snap-<id>` subdirectory named by the `_current` pointer file (both
  * invisible to Spark's file listing). A swap writes the new snapshot
  * beside the old one and atomically replaces the pointer (single `rename`
  * of a file — POSIX-atomic), so a concurrent reader always resolves a
  * complete snapshot and a crash at any point leaves the previous snapshot
  * intact. Single-writer per table is assumed (streaming sinks are —
  * foreachBatch epochs are serialized per query); readers need no
  * coordination.
  *
  * 100 TB posture: merge-on-write costs O(table) per batch — correct for
  * small/complete-mode tables, wrong for big append streams. The O(batch)
  * paths ([[appendLog]] / [[appendLogVersioned]] + janitor [[compact]])
  * are the streaming defaults; [[upsertPartitioned]] day-partitions so a
  * batch merge touches only the event-dates it contains.
  */
final class ServingStore(val root: String)(implicit val spark: SparkSession) {

  private def tableDir(table: String): Path = Paths.get(root, table)

  /** Close-safe directory listing (Files.list holds an fd until closed —
    * exists() runs every micro-batch, so a leak exhausts the process).
    */
  private def withList[T](dir: Path)(f: java.util.stream.Stream[Path] => T): T = {
    val s = Files.list(dir)
    try f(s) finally s.close()
  }

  private def currentPointer(dir: Path): Option[String] = {
    val f = dir.resolve("_current")
    if (Files.isRegularFile(f)) Some(Files.readString(f).trim).filter(_.nonEmpty)
    else None
  }

  /** The directory actually holding data files: the current snapshot if the
    * table uses snapshot layout, else the table dir itself (plain layout —
    * append logs and partitioned tables).
    */
  private def dataDir(table: String): Path = {
    val dir = tableDir(table)
    currentPointer(dir).map(dir.resolve).getOrElse(dir)
  }

  def exists(table: String): Boolean = {
    val dir = dataDir(table)
    Files.isDirectory(dir) && withList(dir)(
      _.anyMatch(p => p.getFileName.toString.endsWith(".parquet") ||
        p.getFileName.toString.startsWith("part-") ||
        (Files.isDirectory(p) && !p.getFileName.toString.startsWith("."))))
  }

  /** Read a table; empty DataFrame with the given schema if absent. */
  def table(name: String): DataFrame = {
    require(exists(name), s"ServingStore table '$name' does not exist under $root")
    spark.read.parquet(dataDir(name).toString)
  }

  def tableOr(name: String, fallback: => DataFrame): DataFrame =
    if (exists(name)) table(name) else fallback

  /** Serving view of a table regardless of which sink fed it: versioned
    * logs resolve latest-epoch-per-key, plain logs dedup replays, merged
    * snapshots pass through.
    */
  def tableCurrent(name: String, keyCol: String): DataFrame =
    current(table(name), keyCol)

  /** [[tableCurrent]] over an already-resolved (possibly filtered) read of
    * a table, so the table is listed and its schema resolved once. A filter
    * must keep or drop all rows of a key alike.
    */
  def current(t: DataFrame, keyCol: String): DataFrame =
    if (t.columns.contains("_epoch")) latestByEpoch(t, keyCol)
    else t.dropDuplicates(keyCol)

  /** A cheap change token for a table: the `_current` pointer plus the
    * relative path and size of every data file Spark would list. Every
    * store write lands under fresh file names (a new snapshot, a new part
    * file, a new partition directory), so equal tokens mean equal contents.
    * `None` when the table does not exist.
    */
  def version(name: String): Option[ServingStore.Version] = {
    val pointer = currentPointer(tableDir(name))
    val dir = pointer.fold(tableDir(name))(tableDir(name).resolve)
    if (!Files.isDirectory(dir)) None
    else {
      val files = Vector.newBuilder[(String, Long)]
      // hidden subtrees are skipped, not walked: in-flight `_temporary`
      // task output appears and vanishes while a sink commits
      Files.walkFileTree(dir, new SimpleFileVisitor[Path] {
        override def preVisitDirectory(d: Path,
            a: BasicFileAttributes): FileVisitResult =
          if (d == dir || visible(d)) FileVisitResult.CONTINUE
          else FileVisitResult.SKIP_SUBTREE
        override def visitFile(f: Path,
            a: BasicFileAttributes): FileVisitResult = {
          if (visible(f)) files += dir.relativize(f).toString -> a.size
          FileVisitResult.CONTINUE
        }
      })
      Some(ServingStore.Version(pointer, files.result().sorted))
    }
  }

  /** The names Spark's file listing keeps: hidden (`.x`) and metadata
    * (`_x`) names are skipped, except `_`-prefixed partition directories.
    */
  private def visible(p: Path): Boolean = {
    val n = p.getFileName.toString
    !n.startsWith(".") && (!n.startsWith("_") || n.contains("="))
  }

  /** Upsert `incoming` into `name` keyed on `keyCol`. Last write wins per
    * key within a batch is resolved by the caller (incoming must be unique
    * per key — enforced here with dropDuplicates on the key for safety, as
    * ES bulk upsert also collapses to one doc per id).
    */
  def upsert(name: String, keyCol: String, incoming: DataFrame): Unit = {
    val incomingDedup = incoming.dropDuplicates(keyCol)
    val merged =
      if (!exists(name)) incomingDedup
      else {
        // keep old rows whose key is NOT being replaced
        table(name).join(incomingDedup.select(keyCol), Seq(keyCol), "left_anti")
          .unionByName(incomingDedup)
      }
    atomicSwapWrite(name, merged)
  }

  /** Day-partitioned upsert for the chart-data table: the incoming batch
    * only touches the event-dates it contains, so we merge and swap just
    * those partition directories (the 100 TB path — a micro-batch never
    * rewrites history). The merged data is written ONCE (to staging,
    * partitioned); installing it is per-partition directory renames, not a
    * second data write. Reproduces the reference's daily rolling index
    * `crypto_ohlcv_1m_chartdata-YYYY-MM-DD` (stream_processor.py:153-155),
    * but partitioned by EVENT date, not processing date (SURVEY.md §4.3.6).
    */
  def upsertPartitioned(name: String, keyCol: String, partCol: String,
      incoming: DataFrame): Unit = {
    val dir = tableDir(name)
    if (Files.isDirectory(dir)) recoverRetiredPartitions(dir, partCol)
    val incomingDedup = incoming.dropDuplicates(keyCol)
    if (!exists(name)) {
      incomingDedup.write.partitionBy(partCol)
        .mode(SaveMode.Overwrite).parquet(dir.toString)
    } else {
      val touched = incomingDedup.select(partCol).distinct()
        .collect().map(_.get(0))
      val old = spark.read.option("basePath", dir.toString)
        .parquet(dir.toString)
        .filter(col(partCol).isin(touched.toIndexedSeq: _*)) // partition-pruned scan
      val merged = old
        .join(incomingDedup.select(keyCol), Seq(keyCol), "left_anti")
        .unionByName(incomingDedup)
      // materialize the merge ONCE into staging (the plan reads the very
      // partitions we are about to replace), then install each touched
      // partition with directory renames.
      val staging = dir.resolveSibling(dir.getFileName.toString + ".staging")
      deleteRecursively(staging)
      merged.write.partitionBy(partCol).mode(SaveMode.Overwrite)
        .parquet(staging.toString)
      withList(staging) { entries =>
        entries.forEach { p =>
          val fn = p.getFileName.toString
          if (fn.startsWith(partCol + "=")) {
            val target = dir.resolve(fn)
            val retired = dir.resolve("." + fn + ".retired")
            deleteRecursively(retired)
            if (Files.exists(target))
              Files.move(target, retired, StandardCopyOption.ATOMIC_MOVE)
            Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
            deleteRecursively(retired)
          }
        }
      }
      deleteRecursively(staging)
    }
  }

  /** Crash recovery for [[upsertPartitioned]]'s install sequence: a crash
    * between "move live partition to `.X.retired`" and "install staging copy"
    * leaves the partition absent from the table with the retired dir holding
    * the only copy — a later merge would silently drop those rows. On entry
    * we restore any orphaned retired dir whose target is missing (crash
    * mid-install) and drop retired dirs whose target exists (crash after a
    * successful install, before cleanup).
    */
  private def recoverRetiredPartitions(dir: Path, partCol: String): Unit =
    withList(dir) { entries =>
      val retired = new scala.collection.mutable.ArrayBuffer[Path]
      entries.forEach { p =>
        val fn = p.getFileName.toString
        if (fn.startsWith("." + partCol + "=") && fn.endsWith(".retired"))
          retired += p
      }
      retired.foreach { p =>
        val fn = p.getFileName.toString
        val target = dir.resolve(fn.stripPrefix(".").stripSuffix(".retired"))
        if (Files.exists(target)) deleteRecursively(p)
        else Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
      }
    }

  /** Retention sweep: drop partitions of `name` whose `partCol` value is
    * strictly older than `keepFrom` (ISO date string). Reproduces the
    * reference's 2 h ILM delete on chartdata-* (README.md:74-82) as a
    * janitor job over partition directories — a pure metadata operation,
    * no data scan.
    */
  def dropPartitionsBefore(name: String, partCol: String, keepFrom: String): Unit = {
    val dir = dataDir(name)
    if (!Files.isDirectory(dir)) return
    withList(dir) { entries =>
      entries.forEach { p =>
        val fn = p.getFileName.toString
        if (fn.startsWith(partCol + "=") &&
            fn.stripPrefix(partCol + "=") < keepFrom) {
          deleteRecursively(p)
        }
      }
    }
  }

  /** Append-log sink: O(batch) per micro-batch — each batch lands as new
    * files, duplicates (foreachBatch replays) are tolerated in the log and
    * removed by [[compact]] or at read time via [[tableDeduped]]. This is
    * the high-throughput streaming DEFAULT: the merge-on-write [[upsert]]
    * costs O(partition) per batch, which dominates micro-batch latency
    * once partitions outgrow batches (measured in StreamBench).
    */
  def appendLog(name: String, incoming: DataFrame): Unit =
    incoming.write.mode(SaveMode.Append).parquet(dataDir(name).toString)

  /** Day-partitioned append-log: O(batch) appends that land inside
    * `partCol=` partition directories — the 100 TB layout for the chart
    * stream (reads prune by date, [[dropPartitionsBefore]] retention stays
    * a directory delete).
    */
  def appendLogPartitioned(name: String, incoming: DataFrame,
      partCol: String): Unit =
    incoming.write.partitionBy(partCol).mode(SaveMode.Append)
      .parquet(dataDir(name).toString)

  /** Read the append-log with exactly-once semantics restored: keep one row
    * per key, newest file wins is not defined — so the log must be
    * value-deterministic per key (true for our doc_id-keyed candles, where
    * a replay writes identical values).
    */
  def tableDeduped(name: String, keyCol: String): DataFrame =
    table(name).dropDuplicates(keyCol)

  /** Compaction: rewrite the log as one deduped snapshot (run periodically
    * or by a janitor; readers see either the old or the new snapshot —
    * pointer swap). Writer coordination: pause appends during compaction
    * (single-writer assumption) or appends between the snapshot read and
    * the pointer swap are lost.
    */
  def compact(name: String, keyCol: String,
      partCol: Option[String] = None): Unit =
    atomicSwapWrite(name, tableDeduped(name, keyCol), partCol)

  /** Epoch-tagged append-log for UPDATE-mode sinks: each batch appends with
    * its epoch id; the latest epoch per key wins at read. This extends the
    * O(batch) log pattern to sinks whose values change per key (window
    * corrections), where plain dedup can't pick the newest.
    */
  def appendLogVersioned(name: String, incoming: DataFrame, epochId: Long): Unit =
    appendLog(name, incoming.withColumn("_epoch", lit(epochId)))

  /** Latest-epoch-wins read over a versioned log. */
  def tableLatestByEpoch(name: String, keyCol: String): DataFrame =
    latestByEpoch(table(name), keyCol)

  private def latestByEpoch(t: DataFrame, keyCol: String): DataFrame =
    newestPerKey(t, keyCol, "_epoch").drop("_epoch")

  /** One row per `keyCol`: the one with the greatest `orderCol`. */
  private def newestPerKey(t: DataFrame, keyCol: String,
      orderCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(col(orderCol).desc)
    t.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Compact to the newest row per key by an EVENT-TIME column — for
    * latest-style sinks fed by the append log, where replayed batches
    * carry DIFFERENT values per key (a later candle supersedes an earlier
    * one) and `dropDuplicates`'s arbitrary keeper could durably persist a
    * stale row. row_number over (key, orderCol desc) picks the newest
    * deterministically; ties on orderCol (same event re-appended) are
    * value-identical so the arbitrary tiebreak is safe.
    */
  def compactLatestBy(name: String, keyCol: String, orderCol: String,
      partCol: Option[String] = None): Unit =
    atomicSwapWrite(name, newestPerKey(table(name), keyCol, orderCol), partCol)

  /** Compact a versioned log to its latest-epoch snapshot (epoch column
    * retained so further appends keep working).
    */
  def compactVersioned(name: String, keyCol: String): Unit =
    atomicSwapWrite(name, newestPerKey(table(name), keyCol, "_epoch"))

  /** Full overwrite (for `es.write.operation=index` complete-mode sinks on
    * tiny tables, e.g. latest-candle-per-symbol — complete mode re-emits
    * the whole state every batch, so a merge-read would be wasted work).
    */
  def overwrite(name: String, df: DataFrame): Unit =
    atomicSwapWrite(name, df)

  /** Write df as a new hidden `.snap-<id>` directory, then atomically
    * repoint `_current` (one POSIX file rename). Readers resolving the
    * pointer before the swap keep reading the old complete snapshot; after,
    * the new one — there is no window where the table is absent or partial.
    * A crash leaves the old pointer (and possibly an orphan snapshot dir,
    * removed by the next successful swap).
    *
    * The superseded snapshot is NOT deleted at swap time: a reader that
    * resolved the pointer just before the swap may still be mid-scan on its
    * files (serving collects run concurrently with 15–60 s sink cadences).
    * It is garbage-collected on the NEXT swap — one full swap interval of
    * grace, orders of magnitude longer than any serving query. Plain-layout
    * files from a migration get the same one-swap grace.
    */
  private def atomicSwapWrite(name: String, df: DataFrame,
      partCol: Option[String] = None): Unit = {
    val dir = tableDir(name)
    Files.createDirectories(dir)
    val oldSnap = currentPointer(dir)
    val snap = ".snap-" + java.util.UUID.randomUUID().toString.take(8)
    val w = df.write.mode(SaveMode.Overwrite)
    partCol.fold(w)(c => w.partitionBy(c)).parquet(dir.resolve(snap).toString)
    val tmp = dir.resolve("._current.tmp")
    Files.writeString(tmp, snap)
    Files.move(tmp, dir.resolve("_current"), StandardCopyOption.ATOMIC_MOVE)
    // GC everything except the new snapshot, the pointer, and (grace period
    // for in-flight readers) the snapshot we just superseded. With no prior
    // snapshot (migration from plain layout) the root data files ARE the
    // previous snapshot — they survive this swap and go on the next one.
    withList(dir) { entries =>
      val stale = new scala.collection.mutable.ArrayBuffer[Path]
      entries.forEach { p =>
        val fn = p.getFileName.toString
        val keep = fn == "_current" || fn == snap ||
          oldSnap.contains(fn) || (oldSnap.isEmpty && !fn.startsWith(".snap-"))
        if (!keep) stale += p
      }
      stale.foreach(deleteRecursively)
    }
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

object ServingStore {

  /** [[ServingStore.version]]'s token: equal tokens, equal table contents. */
  final case class Version(pointer: Option[String], files: Vector[(String, Long)])
}
