package graft.store

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.api.Api
import graft.ingest.FixtureGen
import graft.schema.Schemas.Tables
import graft.stream.OhlcvStreamJob

/** The janitor over the store the stream job actually writes: compaction
  * changes files, never what the routes serve, and leaves the
  * overwrite-fed latest table alone.
  */
class JanitorTopologySpec extends SparkSpec {

  private val t0 = 1717200000000L // 2024-06-01T00:00:00Z

  private def js(sym: String, minute: Int, close: Double): String =
    FixtureGen.streamJson(sym, "1m", FixtureGen.Candle(t0 + minute * 60000L,
      close - 1, close + 1, close - 2, close, 5.0))

  test("janitor after OhlcvStreamJob.start: served rows unchanged, latest untouched") {
    implicit val s = spark
    import spark.implicits._
    val store = new ServingStore(Files.createTempDirectory("janitor-topo").toString)
    val mem = MemoryStream[String](41)(implicitly, spark.sqlContext)
    val qs = OhlcvStreamJob.start(OhlcvStreamJob.parse(mem.toDF()), store,
      Files.createTempDirectory("janitor-topo-ckpt").toString)
    val first = Seq(js("BTC/USDT", 1, 100.0), js("BTC/USDT", 2, 101.0),
      js("ETH/USDT", 1, 50.0))
    try {
      // batch 2 replays batch 1 (at-least-once delivery); batch 3 lands in
      // windows batch 1 already emitted, so q2 re-emits them (a correction)
      Seq(first, first, Seq(js("BTC/USDT", 3, 104.0), js("ETH/USDT", 2, 49.0)))
        .foreach { b =>
          mem.addData(b: _*)
          qs.foreach(_.processAllAvailable())
        }
    } finally qs.foreach(_.stop())

    val api = new Api(store)
    val now = Instant.ofEpochMilli(t0 + 10 * 60000L)
    def served(): Seq[Seq[Row]] = Seq("BTC/USDT", "ETH/USDT").flatMap { sym =>
      Seq(api.latestCandle(sym), api.latestStats(sym), api.chartData1m(sym, now))
        .map(_.collect().toSeq)
    }
    val before = served()
    assert(before.forall(_.nonEmpty), s"a route served nothing: $before")
    val latestVersion = store.version(Tables.Latest)
    assert(latestVersion.exists(_.pointer.isDefined), "latest has no _current pointer")
    val (chartRaw, statsRaw) =
      (store.table(Tables.ChartData).count(), store.table(Tables.Stats).count())

    JanitorMain.run(store, now)

    assert(store.table(Tables.ChartData).count() < chartRaw,
      "chart compaction removed no replayed row")
    assert(store.table(Tables.Stats).count() < statsRaw,
      "stats compaction removed no superseded window")
    assert(store.version(Tables.Latest) == latestVersion,
      "the janitor rewrote the overwrite-fed latest table")
    assert(served() == before)
  }
}
