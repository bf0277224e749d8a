package graft.api

import org.apache.spark.sql.SparkSession

import graft.store.ServingStore

/** Production serving entry point: the reference's `python app.py`
  * equivalent (app.py:246). Serves the six routes over a ServingStore fed
  * by the batch and speed layers.
  *
  * args: [storeRoot] [port] [modelsDir] [poolSize]
  */
object ServeMain {
  def main(args: Array[String]): Unit = {
    val storeRoot = args.lift(0).getOrElse("/tmp/graft-store")
    val port = args.lift(1).map(_.toInt).getOrElse(8050)
    val modelsDir = args.lift(2)
    val poolSize = args.lift(3).map(_.toInt).getOrElse(4)
    implicit val spark: SparkSession = graft.Sessions.getOrCreate("graft-serving")
    val httpApi = new HttpApi(new Api(new ServingStore(storeRoot)), modelsDir,
      poolSize = poolSize)
    val bound = httpApi.start(port)
    println(s"[serve] listening on :$bound store=$storeRoot models=${modelsDir.getOrElse("-")}")
    Thread.currentThread().join() // serve until killed
  }
}
