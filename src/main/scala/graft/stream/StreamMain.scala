package graft.stream

import org.apache.spark.sql.SparkSession

import graft.store.ServingStore

/** Production speed-layer entry point (T7): Kafka OHLCV topic → parse →
  * three concurrent queries at the reference's cadences → serving store,
  * blocking on `awaitAnyTermination` (stream_processor.py:178) so any
  * query failure surfaces and terminates the job.
  *
  * Launch via spark-submit with the kafka connector on the classpath:
  *
  *   spark-submit --class graft.stream.StreamMain \
  *     --packages org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2 \
  *     graft.jar /data/graft-store
  *
  * args: [storeRoot] [checkpointRoot]; broker/topic via GRAFT_KAFKA_BOOTSTRAP
  * / GRAFT_KAFKA_TOPIC env (defaults match the reference deployment).
  */
object StreamMain {
  def main(args: Array[String]): Unit = {
    val storeRoot = args.lift(0).getOrElse("/tmp/graft-store")
    val checkpointRoot = args.lift(1).getOrElse(s"$storeRoot/_checkpoints")
    implicit val spark: SparkSession = SparkSession.builder()
      // spark-submit's --master arrives as the spark.master sysprop and
      // wins; bare `sbt runMain` falls back to local
      .master(sys.props.getOrElse("spark.master",
        sys.env.getOrElse("SPARK_MASTER", "local[*]")))
      .appName("graft-speed-layer")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cfg = KafkaSource.Config(
      bootstrapServers = sys.env.getOrElse("GRAFT_KAFKA_BOOTSTRAP", "localhost:9092"),
      topic = sys.env.getOrElse("GRAFT_KAFKA_TOPIC", "crypto_ohlcv_1m"),
      // Bound the catch-up batch after downtime: at the reference's feed
      // rate this is ~8h of backlog per micro-batch, per topic partition.
      maxOffsetsPerTrigger = Some(100000L))
    val parsed = OhlcvStreamJob.parse(KafkaSource.load(spark, cfg))
    val store = new ServingStore(storeRoot)
    OhlcvStreamJob.start(parsed, store, checkpointRoot,
      OhlcvStreamJob.Triggers.Reference)          // 15 s / 60 s / 15 s (T5)
    spark.streams.awaitAnyTermination()           // T7
  }
}
