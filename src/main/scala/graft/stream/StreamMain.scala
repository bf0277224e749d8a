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
  *
  * State partitions: q1 and q2 take the session's shuffle-partition count,
  * which [[graft.Sessions]] sets to the core count (not Spark's 200 — 200
  * state-store commits per micro-batch of a few dozen rows). A new
  * checkpoint fixes the count at first start; restarting from an existing
  * checkpoint keeps its old count whatever the session says.
  */
object StreamMain {
  def main(args: Array[String]): Unit = {
    val storeRoot = args.lift(0).getOrElse("/tmp/graft-store")
    val checkpointRoot = args.lift(1).getOrElse(s"$storeRoot/_checkpoints")
    implicit val spark: SparkSession = graft.Sessions.getOrCreate("graft-speed-layer")

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
