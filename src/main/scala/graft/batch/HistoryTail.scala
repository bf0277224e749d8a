package graft.batch

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream,
  DataOutputStream}

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

import graft.plans.TopKPerGroup
import graft.schema.Schemas
import graft.store.ServingStore

/** The historical table's side index: per (symbol, timeframe), the last
  * [[HistoryTail.Rows]] stored rows as `(timestamp, open, high, low, close,
  * volume)`, oldest first (a null timestamp first, as the SMA window orders
  * it), plus the table's schema. That is all an in-order hourly batch needs
  * from the store: the frontier (the newest tail timestamp), the SMA-30
  * lookback, and the stored values a re-delivered candle is checked
  * against.
  *
  * It is kept as a [[ServingStore.sideFile]] tagged with the table version
  * it describes, and trusted only while that version is current. Anything
  * else reads as stale and costs one top-k pass over the table: a crash
  * between an append and the index write, a compaction, an external write,
  * or a store written before the index existed.
  */
final case class HistoryTail(schema: StructType,
    tails: Map[(String, String), Vector[Row]]) {
  import HistoryTail.Key

  /** The key's stored rows, oldest first; empty for a key the table lacks. */
  def lookback(key: Key): Vector[Row] = tails.getOrElse(key, Vector.empty)

  /** The key's newest stored timestamp; `None` for a key the table lacks. */
  def frontier(key: Key): Option[Long] =
    lookback(key).lastOption.filterNot(_.isNullAt(0)).map(_.getLong(0))

  /** Per key whose table rows reach below its tail: the oldest timestamp
    * the tail holds. An incoming row older than that can only be checked
    * against the table itself.
    */
  def floors: Map[Key, Long] = tails.collect {
    case (k, t) if t.size == HistoryTail.Rows && !t.head.isNullAt(0) =>
      k -> t.head.getLong(0)
  }

  /** Whether a candle the tail holds a row for (at or below its key's
    * frontier, not below its floor) is re-delivered changed: the driver's
    * form of [[HistoryTail.storedDiffers]], under the same rule.
    */
  def changed(key: Key, candle: Row): Boolean = {
    val ts = candle.getLong(0)
    lookback(key).find(r => !r.isNullAt(0) && r.getLong(0) == ts) match {
      case None => true
      case Some(s) => s.isNullAt(1) || (1 to 5).exists { i =>
        !s.isNullAt(i) && !candle.isNullAt(i) && {
          val (a, b) = (s.getDouble(i), candle.getDouble(i))
          a != b && !(a.isNaN && b.isNaN)
        }
      }
    }
  }

  /** The index after appending rows newer than their key's frontier,
    * given per key in ascending timestamp order.
    */
  def append(fresh: Map[Key, Seq[Row]]): HistoryTail =
    copy(tails = tails ++ fresh.map { case (k, rows) =>
      k -> (lookback(k) ++ rows).takeRight(HistoryTail.Rows)
    })
}

object HistoryTail {
  type Key = (String, String)

  /** Rows kept per key: the lookback of the SMA-30 frame
    * (`rowsBetween(-29, 0)` in [[OhlcvBatchJob.withSmaFeatures]]).
    */
  val Rows = 29
  private val File = "history-tail"
  private val Format = 1
  /** Description of the rebuild's Spark jobs. */
  val RebuildJobs = "rebuild the historical tail index"

  /** The index of the historical table at `version`, the table's
    * [[ServingStore.version]] as the caller just read it: the stored one
    * when it was written for that version, else rebuilt and stored.
    */
  def current(store: ServingStore, version: ServingStore.Version): HistoryTail =
    store.sideFile(Schemas.Tables.Historical, File, version).flatMap(decode)
      .getOrElse(rebuild(store, version))

  /** Store `index`, the index of the table at `before` plus one appended
    * file, if that is what the table now holds: the same snapshot, every
    * file of `before`, and one file more. Any other write in between (a
    * compaction's swap, another append) leaves the stored index stale, so
    * the next run rebuilds it from the table rather than trusting rows the
    * table may have lost.
    */
  def writeAfterAppend(store: ServingStore, index: HistoryTail,
      before: ServingStore.Version): Unit = {
    val now = store.version(Schemas.Tables.Historical).get
    if (now.pointer == before.pointer && now.files.size == before.files.size + 1 &&
        now.files.diff(before.files).size == 1)
      store.writeSideFile(Schemas.Tables.Historical, File, now, encode(index))
  }

  /** The re-delivery rule. An incoming candle at or below its key's
    * frontier is changed when the table lacks its `doc_id`, stores it with
    * a null open, or stores any OHLCV value that differs where both sides
    * are non-null (NaN equals NaN, as Spark's `=!=` on doubles has it). A
    * changed candle cannot be patched by a frontier-filtered pass, so the
    * batch falls back to a full run.
    *
    * This is the Spark form, for candles older than their key's tail: the
    * rows of `incoming` (normalized candles) that are changed, reading only
    * the table rows of `pairs`. [[HistoryTail.changed]] is the driver form
    * for candles the tail holds; the two must agree.
    */
  def storedDiffers(store: ServingStore, incoming: DataFrame,
      pairs: Seq[Row]): DataFrame = {
    val stored = store.table(Schemas.Tables.Historical)
      .filter(pairs.map(p => col("symbol") === p.getString(0) &&
        col("timeframe") === p.getString(1)).reduce(_ || _))
      .select(col("doc_id"), col("open").as("_so"),
        col("high").as("_sh"), col("low").as("_sl"),
        col("close").as("_sc"), col("volume").as("_sv"))
    OhlcvBatchJob.withDocId(incoming)
      .join(stored, Seq("doc_id"), "left")
      .filter(col("_so").isNull ||
        col("_so") =!= col("open") || col("_sh") =!= col("high") ||
        col("_sl") =!= col("low") || col("_sc") =!= col("close") ||
        col("_sv") =!= col("volume"))
  }

  /** One top-k pass over the table, stored as the index of `version`. */
  private def rebuild(store: ServingStore,
      version: ServingStore.Version): HistoryTail = {
    val sc = store.spark.sparkContext
    val description = "spark.job.description"
    val outer = sc.getLocalProperty(description)
    sc.setLocalProperty(description, RebuildJobs)
    val index = try {
      val hist = store.table(Schemas.Tables.Historical)
      // timestamps are unique per key (doc_id is keyed on them), so no
      // tiebreak column is needed; descending order puts nulls last
      val rows = TopKPerGroup.topK(hist, Seq("symbol", "timeframe"),
          "timestamp", Rows, desc = true)
        .select(Seq("symbol", "timeframe", "timestamp", "open", "high", "low",
          "close", "volume").map(col): _*)
        .collect()
      HistoryTail(hist.schema, rows.groupBy(r => (r.getString(0), r.getString(1)))
        .map { case (k, rs) =>
          k -> rs.map(r => Row.fromSeq(r.toSeq.drop(2))).toVector.sortBy(r =>
            if (r.isNullAt(0)) (0, 0L) else (1, r.getLong(0)))
        })
    } finally sc.setLocalProperty(description, outer)
    store.writeSideFile(Schemas.Tables.Historical, File, version, encode(index))
    index
  }

  private def encode(t: HistoryTail): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(Format)
    out.writeUTF(t.schema.json)
    out.writeInt(t.tails.size)
    t.tails.foreach { case ((symbol, timeframe), rows) =>
      out.writeUTF(symbol)
      out.writeUTF(timeframe)
      out.writeInt(rows.size)
      rows.foreach { r =>
        out.writeByte((0 until 6).filter(r.isNullAt).map(1 << _).sum)
        if (!r.isNullAt(0)) out.writeLong(r.getLong(0))
        (1 until 6).filterNot(r.isNullAt).foreach(i => out.writeDouble(r.getDouble(i)))
      }
    }
    out.flush()
    bytes.toByteArray
  }

  private def decode(b: Array[Byte]): Option[HistoryTail] = Try {
    val in = new DataInputStream(new ByteArrayInputStream(b))
    require(in.readInt() == Format, "unknown history tail format")
    val schema = DataType.fromJson(in.readUTF()).asInstanceOf[StructType]
    val tails = Vector.fill(in.readInt()) {
      val key = (in.readUTF(), in.readUTF())
      key -> Vector.fill(in.readInt()) {
        val nulls = in.readByte()
        Row.fromSeq((0 until 6).map { i =>
          if ((nulls & (1 << i)) != 0) null
          else if (i == 0) in.readLong()
          else in.readDouble()
        })
      }
    }.toMap
    require(in.available() == 0, "trailing bytes after the history tail")
    HistoryTail(schema, tails)
  }.toOption
}
