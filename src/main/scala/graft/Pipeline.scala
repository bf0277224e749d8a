package graft

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.SparkSession

import graft.api.Api
import graft.batch.OhlcvBatchJob
import graft.ingest.FixtureGen
import graft.schema.Schemas
import graft.store.ServingStore

/** End-to-end pipeline driver: the SURVEY.md §7.2 minimum slice as a
  * runnable main. Generates crawler-shaped OHLCV CSVs, runs the batch job
  * (scan → regex metadata → SMA features → keyed upsert), then serves the
  * reference's API queries and a recursive forecast off the store.
  *
  * Usage: sbt "runMain graft.Pipeline [workDir]"
  */
object Pipeline {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      Files.createTempDirectory("graft-pipeline").toString)
    implicit val spark: SparkSession = Sessions.getOrCreate("graft-pipeline")

    // 1. ingest: paginated crawl (S9 contract — cursor pages of 1000,
    // bounded retries) against a deterministic in-memory exchange, then
    // crawler-shaped CSV (S7)
    // crawler writes locally, ships to the lake dir (S7+S8), batch scans
    // the lake — the reference's local→HDFS→scan flow
    val localDir = s"$work/crawler_local"
    val rawDir = s"$work/raw_historical_data"
    val t0 = 1717200000000L // 2024-06-01T00:00:00Z
    for (sym <- Seq("BTC_USDT", "ETH_USDT")) {
      val exchange = FixtureGen.candles(sym, t0, 3600000L, 24 * 40)
      val crawled = ingest.Paginator.crawl(
        (since, limit) => exchange.filter(_.timestamp >= since).take(limit),
        sinceMs = t0, untilMs = t0 + 24L * 40 * 3600000L, stepMs = 3600000L)
      val local = FixtureGen.writeCsv(localDir,
        FixtureGen.historicalFileName(sym, "1h"), crawled)
      ingest.FileShip.put(local, rawDir)
    }
    FixtureGen.writeCsv(rawDir,
      FixtureGen.updateFileName("BTC_USDT", "1h", t0 + 960L * 3600000L),
      FixtureGen.candles("BTC_USDT", t0 + 958L * 3600000L, 3600000L, 3))

    // 2. batch layer
    val store = new ServingStore(s"$work/store")
    val n = OhlcvBatchJob.run(spark, Seq(rawDir), store)
    println(s"[pipeline] batch upserted rows: $n")
    println(s"[pipeline] historical table count: " +
      store.table(Schemas.Tables.Historical).count())

    // 3. serving API
    val api = new Api(store)
    val now = Instant.ofEpochMilli(t0 + 960L * 3600000L)
    println("[pipeline] historical pairs:")
    api.historicalPairs().show(false)
    println("[pipeline] historicalData(BTC_USDT,1h,range=1m) tail:")
    val hist = api.historicalData("BTC_USDT", "1h", "1m", now)
    api.historicalSeries(hist).orderBy(org.apache.spark.sql.functions
      .desc("label")).show(5, truncate = false)

    // 4. forecast (M1-M4): MLlib GBT over lag windows + recursive 24 steps.
    // Train → persist → load-for-serving (the reference's artifact flow,
    // app.py:211-218): serving uses the loaded pair, never a refit scaler.
    val history = api.lastCloses("BTC_USDT", "1h", 500)
    // window=5 for BTC_USDT — the serving config HttpApi validates
    // against at load (reference app.py:203-206)
    val trained = graft.ml.GbtLagModel.trainBundle(spark, history,
      windowSize = 5, maxIter = 10)
    // artifact name = <symbol>_<timeframe>, the key ServeMain's predict
    // route resolves (HttpApi.loadBundle)
    graft.ml.GbtLagModel.save(trained, s"$work/models/BTC_USDT_1h")
    val gbt = graft.ml.GbtLagModel.load(spark, s"$work/models/BTC_USDT_1h")
    val fc = api.predict("BTC_USDT", "1h", gbt, stepMs = 3600000L)
    println(s"[pipeline] GBT forecast first 3 of ${fc.length}: " +
      fc.take(3).map(f => f"${f.timestampMs}:${f.predictedPrice}%.4f").mkString(", "))

    // 5. endpoint JSON (reference response shapes, app.py:184-189,240)
    val histJson = graft.api.Responses.historicalData("BTC_USDT", "1h",
      api.historicalData("BTC_USDT", "1h", "1m", now)
        .collect().takeRight(2).toSeq)
    println(s"[pipeline] historical_data JSON tail-2: " +
      histJson.take(400))
    println(s"[pipeline] predict JSON head: " +
      graft.api.Responses.predictions(fc.take(2)))

    println(s"[pipeline] OK work=$work")
    spark.stop()
  }
}
