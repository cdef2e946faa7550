package graft.streaming

import graft.Sessions

/** Runnable end-to-end dedup pipeline — the reference topology, Spark-first:
  *
  *   source (file replay / Kafka) → watermarked first-wins dedup → sink
  *
  * Usage: StreamMain <eventsDir> <outDir> <checkpointDir> [dedupDelay]
  * e.g.   runMain graft.streaming.StreamMain /data/events /out /ckpt "1 hour"
  *
  * Restarting with the same checkpoint resumes exactly-once from the last
  * committed offsets (R5). Swap the source/sink for the Kafka configs to
  * run against a broker.
  */
object StreamMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: StreamMain <eventsDir> <outDir> <checkpointDir> [delay]")
    val Array(in, out, ckpt) = args.take(3)
    val delay = if (args.length > 3) args(3) else "1 hour"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.create(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"), cpus.toInt,
      Seq("spark.app.name" -> "graft-dedup-stream"))
    Streams.sessionConf(spark)
    val events = Streams.events(spark, Streams.FileStreamSource(in))
    val deduped = Streams.dedupWithinWatermark(events, delay, Seq("event_id"))
    val query = Streams.start(deduped, Streams.ParquetStreamSink(out, ckpt))
    query.awaitTermination()
  }
}
