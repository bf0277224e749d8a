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
  * small/complete-mode tables, wrong for big append streams. [[upsert]]
  * now serves only the batch layer's full `run`. The streaming sinks are
  * the O(batch) paths ([[appendLogPartitioned]] / [[appendLogVersioned]]),
  * deduplicated at read and by the janitor's [[compact]] /
  * [[compactVersioned]]. The hourly batch appends too ([[appendLog]]):
  * it writes only keys provably absent from the table, so the merge would
  * be a no-op. It finds its frontier in a [[sideFile]] that it trusts only
  * while the file's recorded [[version]] is the table's current one, so
  * the in-order batch reads no data file of the table.
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

  /** Read a table; fails (`IllegalArgumentException`) if it does not
    * exist — check [[exists]] first where absence is expected.
    */
  def table(name: String): DataFrame = {
    require(exists(name), s"ServingStore table '$name' does not exist under $root")
    spark.read.parquet(dataDir(name).toString)
  }

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
  def version(name: String): Option[ServingStore.Version] =
    dataFiles(name).map { case (pointer, dir, files) =>
      ServingStore.Version(pointer,
        files.map { case (f, a) => dir.relativize(f).toString -> a.size }.sorted)
    }

  /** Whether `name` holds data files that no snapshot swap wrote: files
    * appended into its current snapshot after the swap that made it current
    * (modified later than the `_current` pointer, at the file system's
    * timestamp resolution), or any data file of a table in plain layout.
    * False for an absent table.
    */
  def holdsAppends(name: String): Boolean = dataFiles(name).exists {
    case (None, _, files) => files.nonEmpty
    case (Some(_), _, files) =>
      val swapped = Files.getLastModifiedTime(tableDir(name).resolve("_current"))
      files.exists(_._2.lastModifiedTime.compareTo(swapped) > 0)
  }

  /** `name`'s `_current` pointer, its data directory and every data file
    * Spark would list under it; `None` when the data directory is absent.
    */
  private def dataFiles(name: String)
      : Option[(Option[String], Path, Vector[(Path, BasicFileAttributes)])] = {
    val pointer = currentPointer(tableDir(name))
    val dir = pointer.fold(tableDir(name))(tableDir(name).resolve)
    if (!Files.isDirectory(dir)) None
    else {
      val files = Vector.newBuilder[(Path, BasicFileAttributes)]
      // hidden subtrees are skipped, not walked: in-flight `_temporary`
      // task output appears and vanishes while a sink commits
      Files.walkFileTree(dir, new SimpleFileVisitor[Path] {
        override def preVisitDirectory(d: Path,
            a: BasicFileAttributes): FileVisitResult =
          if (d == dir || visible(d)) FileVisitResult.CONTINUE
          else FileVisitResult.SKIP_SUBTREE
        override def visitFile(f: Path,
            a: BasicFileAttributes): FileVisitResult = {
          if (visible(f)) files += f -> a
          FileVisitResult.CONTINUE
        }
      })
      Some((pointer, dir, files.result()))
    }
  }

  /** Payload of side file `file` of table `name` if it was written for
    * `current` (the table's [[version]] as the caller just read it) and
    * reads back intact; `None` when it is absent, was written for another
    * version, or is truncated or corrupt.
    *
    * A side file is a small driver-side file kept in the table directory
    * under a hidden name, outside any snapshot: Spark's listing, [[exists]]
    * and [[version]] do not see it. A snapshot swap's GC deletes it (the
    * swap changes the version anyway).
    */
  def sideFile(name: String, file: String,
      current: ServingStore.Version): Option[Array[Byte]] = {
    val f = tableDir(name).resolve("." + file)
    if (!Files.isRegularFile(f)) return None
    val bytes = Files.readAllBytes(f)
    val d = ServingStore.DigestBytes
    if (bytes.length < 2 * d) return None
    val body = java.util.Arrays.copyOfRange(bytes, 0, bytes.length - d)
    val sealedOk = java.util.Arrays.equals(ServingStore.sha256(body),
      java.util.Arrays.copyOfRange(bytes, bytes.length - d, bytes.length))
    val forCurrent = java.util.Arrays.equals(current.digest,
      java.util.Arrays.copyOfRange(body, 0, d))
    if (sealedOk && forCurrent) Some(java.util.Arrays.copyOfRange(body, d, body.length))
    else None
  }

  /** Write side file `file` of table `name`, tagged with the version it
    * describes: the driver writes a temporary file and renames it into
    * place atomically (no Spark job). Layout: version digest, payload,
    * SHA-256 of both.
    */
  def writeSideFile(name: String, file: String, version: ServingStore.Version,
      payload: Array[Byte]): Unit = {
    val dir = tableDir(name)
    Files.createDirectories(dir)
    val body = version.digest ++ payload
    val tmp = dir.resolve(s".$file.tmp")
    Files.write(tmp, body ++ ServingStore.sha256(body))
    Files.move(tmp, dir.resolve("." + file), StandardCopyOption.ATOMIC_MOVE)
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
    * the high-throughput streaming path: the merge-on-write [[upsert]]
    * costs O(table) per batch, which dominates micro-batch latency once
    * tables outgrow batches (measured by StreamBench's merge mode, last
    * present at commit dd46e98).
    */
  def appendLog(name: String, incoming: DataFrame): Unit =
    incoming.write.mode(SaveMode.Append).parquet(dataDir(name).toString)

  /** Day-partitioned append-log: O(batch) appends that land inside
    * `partCol=` partition directories — the 100 TB layout for the chart
    * stream (reads prune by date, [[dropPartitionsBefore]] retention stays
    * a directory delete). Reproduces the reference's daily rolling index
    * `crypto_ohlcv_1m_chartdata-YYYY-MM-DD` (stream_processor.py:153-155),
    * partitioned by EVENT date, not processing date (SURVEY.md §4.3.6).
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

  private def latestByEpoch(t: DataFrame, keyCol: String): DataFrame =
    newestEpochPerKey(t, keyCol).drop("_epoch")

  /** One row per `keyCol`: the one with the greatest `_epoch`. */
  private def newestEpochPerKey(t: DataFrame, keyCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(col("_epoch").desc)
    t.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Compact a versioned log to its latest-epoch snapshot (epoch column
    * retained so further appends keep working).
    */
  def compactVersioned(name: String, keyCol: String): Unit =
    atomicSwapWrite(name, newestEpochPerKey(table(name), keyCol))

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
  final case class Version(pointer: Option[String], files: Vector[(String, Long)]) {
    /** SHA-256 of the token, as side files record it. */
    def digest: Array[Byte] = sha256((pointer.getOrElse("") +: files.map {
      case (f, size) => s"$f\t$size"
    }).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private val DigestBytes = 32

  private def sha256(b: Array[Byte]): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
}
