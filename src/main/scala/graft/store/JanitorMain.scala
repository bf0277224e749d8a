package graft.store

import java.time.Instant

import org.apache.spark.sql.SparkSession

import graft.schema.Schemas
import graft.stream.Retention

/** Maintenance main — the cron-invoked janitor role the reference fills
  * with an ES ILM policy (2 h chartdata delete, README.md:74-82) plus the
  * compaction Elasticsearch does implicitly through segment merges:
  *
  *   1. retention: drop chart partitions older than the keep horizon
  *      (directory deletes, no data scan);
  *   2. compaction: rewrite the chart and stats append-log sinks to
  *      deduped snapshots so the O(batch) streaming write path doesn't
  *      accumulate replay duplicates and small files forever (log+compact
  *      is the Delta pattern in plain parquet — ServingStore.compact /
  *      compactVersioned), and fold the historical table's hourly appended
  *      files into one snapshot (every history read lists them) when an
  *      hourly batch appended any since the table's last swap.
  *
  * One-shot by design: schedule it like the reference schedules crawls
  * (crontab, README.md:156-160). Single-writer assumption: run it when
  * the streaming job and the hourly batch are paused, or accept losing
  * appends that land between a log read and its pointer swap (documented
  * in compact). History compaction must not overlap the hourly batch: a
  * candle file appended in that gap is lost from the table. The batch
  * then leaves its tail index stale (HistoryTail.writeAfterAppend), so the
  * next hourly run rebuilds it from the table and appends re-delivered
  * candles again instead of trusting a frontier past the lost ones.
  *
  * Usage: sbt "runMain graft.store.JanitorMain <storeDir> [keepHours]"
  */
object JanitorMain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: JanitorMain <storeDir> [keepHours=2]")
    val keepHours = if (args.length > 1) args(1).toLong else 2L
    implicit val spark: SparkSession = graft.Sessions.getOrCreate("graft-janitor")
    run(new ServingStore(args(0)), Instant.now(), keepHours)
    println(s"[janitor] OK store=${args(0)}")
    spark.stop()
  }

  /** The sweep itself, separated from session lifecycle for tests. */
  def run(store: ServingStore, now: Instant, keepHours: Long = 2L): Unit = {
    Retention.sweepChartData(store, now, keepHours)
    println(s"[janitor] retention swept ${Schemas.Tables.ChartData} " +
      s"(keep $keepHours h)")
    // Compact the two append-fed stream sinks: chart (append-log, one file
    // set per 15 s micro-batch plus foreachBatch replay duplicates) to a
    // deduped day-partitioned snapshot, stats (epoch-versioned log) to its
    // latest epoch per window. Latest is not touched: q1 overwrites it
    // whole every batch, so it never accumulates.
    if (store.exists(Schemas.Tables.ChartData)) {
      store.compact(Schemas.Tables.ChartData, "doc_id", Some("dt"))
      println(s"[janitor] compacted ${Schemas.Tables.ChartData}")
    }
    if (store.exists(Schemas.Tables.Stats)) {
      store.compactVersioned(Schemas.Tables.Stats, "doc_id")
      println(s"[janitor] compacted versioned ${Schemas.Tables.Stats}")
    }
    // History: runIncremental appends one file per hourly batch, and
    // ServingStore.version walks every file on each history request. The
    // swap invalidates the batch's tail index and the next runIncremental
    // rebuilds it, so a table no batch appended to since its last swap is
    // left as it is.
    if (store.holdsAppends(Schemas.Tables.Historical)) {
      store.compact(Schemas.Tables.Historical, "doc_id")
      println(s"[janitor] compacted ${Schemas.Tables.Historical}")
    }
  }
}
