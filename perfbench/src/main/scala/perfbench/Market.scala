package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.batch.OhlcvBatchJob
import graft.ingest.FixtureGen
import graft.ingest.FixtureGen.Candle
import graft.ml.{Forecaster, GbtLagModel}
import graft.store.ServingStore
import graft.stream.OhlcvStreamJob

/** The generated market behind the serving workloads, and the values every
  * route must serve for it, computed here from the generated candles alone.
  *
  * Sizes are fixed; the seed moves `now`, base prices and every price path.
  * Eight symbols carry two years of 1h history (17 520 rows each), so
  * `range=all` hits the route's 10 000-row cap while 1m/3m/6m/1y stay below
  * it; the speed tables hold the last 24 h of 1m candles.
  */
final class Market(seed: Long, startMinute: Int = 0, historyHours: Int = Market.HistoryHours) {
  import Market._

  private val rng = new scala.util.Random(seed)
  /** `now` as the dashboard sees it: `startMinute` past an hour, on a day
    * moved by the seed. History ends with the last complete hour before it.
    */
  val now: Instant = Instant.parse("2025-01-01T00:00:00Z")
    .plusSeconds(3600L * 24 * java.lang.Math.floorMod(seed, 365L) + 60L * startMinute)
  val nowMs: Long = now.toEpochMilli
  /** Open time of the hour `now` falls in. */
  val hourMs: Long = nowMs - startMinute * MinuteMs

  private val basePrice: Map[String, Double] =
    Symbols.map(s => s -> (1000.0 + rng.nextInt(50000))).toMap

  /** 1h candles, oldest first; the last one opens an hour before `hourMs`. */
  val hourly: Map[String, IndexedSeq[Candle]] = Symbols.map { s =>
    s -> FixtureGen.candles(s, hourMs - historyHours * HourMs, HourMs,
      historyHours, basePrice(s)).toIndexedSeq
  }.toMap

  /** 1m candles for the last 24 h, continuing each symbol's last close. */
  val minutes: Map[String, IndexedSeq[Candle]] = Symbols.map { s =>
    s -> FixtureGen.candles(s, nowMs - SpeedMinutes * MinuteMs, MinuteMs,
      SpeedMinutes, hourly(s).last.close).toIndexedSeq
  }.toMap

  /** The hourly candle of hour `hour` after the history (0 = the hour `now`
    * falls in), as the hourly updater delivers it once the hour closes.
    */
  def hourlyUpdate(symbol: String, hour: Int): Candle =
    FixtureGen.candles(symbol, hourMs + hour * HourMs, HourMs, 1,
      hourly(symbol).last.close).head

  /** Minute candle `k` after `now` (k = 0 opens at `now`). */
  def liveMinute(symbol: String, k: Int, prevClose: Double): Candle =
    FixtureGen.candles(symbol, nowMs + k * MinuteMs, MinuteMs, 1,
      prevClose).head

  // ---- building the store --------------------------------------------------

  /** Batch layer: history CSVs through `OhlcvBatchJob.run`. */
  def loadHistory(spark: SparkSession, store: ServingStore, dir: Path): Long = {
    val paths = Symbols.map(s => FixtureGen.writeCsv(dir.toString,
      FixtureGen.historicalFileName(s, "1h"), hourly(s)))
    OhlcvBatchJob.run(spark, paths, store)
  }

  /** GBT bundles for the two symbols the predict route serves. */
  def saveModels(spark: SparkSession, dir: Path): Unit =
    ModelSymbols.foreach { case (s, window) =>
      val closes = hourly(s).takeRight(TrainCloses).map(_.close).toArray
      GbtLagModel.save(GbtLagModel.trainBundle(spark, closes, window,
        maxIter = TrainIters), dir.resolve(s"${s}_1h").toString)
    }

  def loadModel(spark: SparkSession, dir: Path, symbol: String): Forecaster.Bundle =
    GbtLagModel.load(spark, dir.resolve(s"${symbol}_1h").toString)

  // ---- expected values -----------------------------------------------------

  /** (timestamp s, close, sma7, sma30) rows of the historical table. */
  def historicalRows(extraHours: Int): Map[String, IndexedSeq[(Long, Double, Double, Double)]] =
    Symbols.map { s =>
      val cs = hourly(s) ++ (0 until extraHours).map(h => hourlyUpdate(s, h))
      val closes = cs.map(_.close)
      def sma(i: Int, n: Int): Double = {
        val lo = math.max(0, i - n + 1)
        var sum = 0.0; var j = lo
        while (j <= i) { sum += closes(j); j += 1 }
        sum / (i - lo + 1)
      }
      s -> cs.indices.map(i =>
        (cs(i).timestamp / 1000, closes(i), sma(i, 7), sma(i, 30)))
    }.toMap

  /** Rows the historical route returns for `range` (ascending, capped). */
  def historicalRange(rows: IndexedSeq[(Long, Double, Double, Double)],
      range: String, atMs: Long): IndexedSeq[(Long, Double, Double, Double)] = {
    val days = RangeDays.getOrElse(range, -1)
    val from = if (days < 0) Long.MinValue else atMs / 1000 - days.toLong * 86400
    rows.filter(_._1 >= from).take(HistoryCap)
  }
}

object Market {
  val Symbols: Seq[String] = Seq("BTC_USDT", "ETH_USDT", "SOL_USDT",
    "BNB_USDT", "XRP_USDT", "ADA_USDT", "DOGE_USDT", "DOT_USDT")
  /** Window sizes of the predict route: app.py's BTC=5, ETH=24. */
  val ModelSymbols: Seq[(String, Int)] = Seq("BTC_USDT" -> 5, "ETH_USDT" -> 24)
  val Ranges: Seq[String] = Seq("1m", "3m", "6m", "1y", "all")
  val RangeDays: Map[String, Int] =
    Map("1m" -> 30, "3m" -> 90, "6m" -> 180, "1y" -> 365)
  val HourMs = 3600000L
  val MinuteMs = 60000L
  val HistoryHours = 2 * 365 * 24
  val SpeedMinutes = 24 * 60
  val HistoryCap = 10000
  val ChartWindowMin = 35L
  val TrainCloses = 300
  val TrainIters = 2

  def streamSymbol(s: String): String = s.replace('_', '/')
  def urlSymbol(s: String): String = s.replace('_', '-')

  def json(symbol: String, c: Candle): String =
    FixtureGen.streamJson(streamSymbol(symbol), "1m", c)

  /** The stream job's input: a directory of JSON-lines files read as a
    * `value` column, the shape `OhlcvStreamJob.parse` takes from Kafka. A
    * MemoryStream cannot feed the job's three queries at different trigger
    * rates (each query's commit truncates the shared buffer), a file source
    * can: each query tracks its own offsets.
    */
  def startStream(spark: SparkSession, incoming: Path, store: ServingStore,
      ckpt: Path, triggers: OhlcvStreamJob.Triggers): Seq[StreamingQuery] =
    OhlcvStreamJob.start(OhlcvStreamJob.parse(spark.readStream.text(incoming.toString)),
      store, ckpt.toString, triggers)

  /** Land one file of messages in the stream's input directory atomically
    * (written under a hidden name, then renamed).
    */
  def feed(incoming: Path, name: String, lines: Seq[String]): Unit = {
    val tmp = incoming.resolve(s".$name.tmp")
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.move(tmp, incoming.resolve(s"$name.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** q1/q2/q3 of `OhlcvStreamJob.start`, in its return order. */
  val StreamNames: Seq[String] = Seq("latest", "stats", "chart")

  /** Latest 10-min/1-min sliding window of a symbol's candles:
    * (windowEnd ms, avg, min, max, count).
    */
  def latestWindow(cs: Seq[Candle]): (Long, Double, Double, Double, Long) = {
    val end = (cs.map(_.timestamp).max / MinuteMs) * MinuteMs + 10 * MinuteMs
    val in = cs.filter(c => c.timestamp >= end - 10 * MinuteMs && c.timestamp < end)
    val closes = in.map(_.close)
    (end, closes.sum / closes.length, closes.min, closes.max, closes.length.toLong)
  }

  def newDir(root: Path, name: String): Path =
    Files.createDirectories(root.resolve(name))
}
