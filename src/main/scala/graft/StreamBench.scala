package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.ingest.FixtureGen
import graft.store.ServingStore
import graft.stream.OhlcvStreamJob

/** Speed-layer throughput bench: N producer-shaped candles through the
  * full three-query fan-out (latest + windowed stats + partitioned chart)
  * into the serving store. Prints one JSON line:
  * {"metric":"stream_candles_per_sec","value":...,"candles":N,...}
  *
  * Usage: sbt "runMain graft.StreamBench [nCandles] [nSymbols] [batchSize]"
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(20000)
    val nSymbols = args.drop(1).headOption.map(_.toInt).getOrElse(4)
    implicit val spark: SparkSession =
      Sessions.getOrCreate("graft-streambench", logLevel = "ERROR")
    import spark.implicits._

    val t0 = 1717200000000L
    val symbols = (0 until nSymbols).map(i => s"SYM$i/USDT")
    val candlesPerSymbol = n / nSymbols
    val messages = symbols.flatMap { sym =>
      FixtureGen.candles(sym, t0, 60000L, candlesPerSymbol)
        .map(c => FixtureGen.streamJson(sym, "1m", c))
    }

    val store = new ServingStore(Files.createTempDirectory("sb-store").toString)
    val mem = MemoryStream[String](1)(implicitly, spark.sqlContext)
    val qs = OhlcvStreamJob.start(OhlcvStreamJob.parse(mem.toDF()), store,
      Files.createTempDirectory("sb-ckpt").toString)
    // split into micro-batches of ~2000 to exercise incremental state
    val batchSize = args.drop(2).headOption.map(_.toInt).getOrElse(2000)
    val batches = messages.grouped(batchSize).toSeq
    val start = System.nanoTime()
    try {
      batches.foreach { b =>
        mem.addData(b: _*)
        qs.foreach(_.processAllAvailable())
      }
    } finally qs.foreach(_.stop())
    val sec = (System.nanoTime() - start) / 1e9
    val total = messages.size
    val latest = store.table(graft.schema.Schemas.Tables.Latest).count()
    store.compact(graft.schema.Schemas.Tables.ChartData, "doc_id", Some("dt"))
    val chart = store.table(graft.schema.Schemas.Tables.ChartData).count()
    val stats = store.tableCurrent(graft.schema.Schemas.Tables.Stats, "doc_id").count()
    println(s"""{"metric":"stream_candles_per_sec","value":${(total / sec).round},""" +
      s""""candles":$total,"batches":${batches.size},"seconds":${f"$sec%.1f"},""" +
      s""""latest_rows":$latest,"chart_rows":$chart,"stats_windows":$stats}""")
    spark.stop()
  }
}
