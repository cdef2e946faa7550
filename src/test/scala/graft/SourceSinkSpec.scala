package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Tables
import graft.streaming.Streams

/** Reference ops R1/R4/R5 through the builder surface: the streaming file
  * source (offline stand-in for the Kafka topic) must read the same rows
  * the batch loader reads, and the checkpointed parquet sink must land
  * them exactly once. The Kafka branches can't run offline (no broker, no
  * connector jar) — this spec pins the config plumbing they share.
  */
class SourceSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("file stream source reads exactly the batch rows (schema + nanos ts handling)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-src").toString
    // Stage the fixture as a one-file directory the file source can watch.
    Tables.events(spark, TestSpark.sfDir).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/in")
    // Re-read raw (the staged copy holds micros timestamps, not nanos).
    val streamed = spark.readStream
      .schema(Tables.events(spark, TestSpark.sfDir).schema)
      .parquet(s"$dir/in")
    val sink = Streams.ParquetStreamSink(s"$dir/out", s"$dir/ckpt")
    val q = Streams.start(streamed, sink)
    try { q.processAllAvailable() } finally q.stop()

    val landed = spark.read.parquet(s"$dir/out")
      .select("event_id").as[Long].collect().sorted
    val batch = Tables.events(spark, TestSpark.sfDir)
      .select("event_id").as[Long].collect().sorted
    assert(landed.sameElements(batch))
  }

  test("restarting from the same checkpoint does not duplicate output (R5 exactly-once)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-eo").toString
    Tables.events(spark, TestSpark.sfDir).limit(100).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/in")
    def run(): Unit = {
      val streamed = spark.readStream
        .schema(Tables.events(spark, TestSpark.sfDir).schema)
        .parquet(s"$dir/in")
      val q = Streams.start(streamed, Streams.ParquetStreamSink(s"$dir/out", s"$dir/ckpt"))
      try { q.processAllAvailable() } finally q.stop()
    }
    run()
    run() // same checkpoint → no new batch, no duplicate rows
    assert(spark.read.parquet(s"$dir/out").count() == 100L)
  }

  test("Kafka value codec round-trips: to_json(struct(*)) then from_json is identity") {
    // The sink writes to_json(struct(*)); the source parses with
    // jsonEventSchema — prove codec symmetry in batch (no broker needed).
    val original = Tables.events(spark, TestSpark.sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .limit(500)
    val tsOpt = Map("timestampFormat" -> Streams.jsonTimestampFormat)
    val roundTripped = original
      .select(to_json(struct(original.columns.map(col).toIndexedSeq: _*), tsOpt).as("value"))
      .select(from_json(col("value"), Streams.jsonEventSchema, tsOpt).as("e"))
      .select(col("e.*"))
    val a = original.orderBy("event_id").collect().toSeq
    val b = roundTripped.orderBy("event_id").collect().toSeq
    assert(a == b)
  }

  test("foreachBatch sink delivers every batch with stable ids") {
    val dir = java.nio.file.Files.createTempDirectory("graft-feb").toString
    Tables.events(spark, TestSpark.sfDir).limit(200).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/in")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val streamed = spark.readStream
      .schema(Tables.events(spark, TestSpark.sfDir).schema)
      .parquet(s"$dir/in")
    val sink = Streams.ForeachBatchSink(
      (batch, id) => seen.add(id -> batch.count()),
      checkpoint = Some(s"$dir/ckpt"))
    val q = Streams.start(streamed, sink)
    try { q.processAllAvailable() } finally q.stop()
    import scala.jdk.CollectionConverters._
    val batches = seen.asScala.toSeq
    assert(batches.map(_._2).sum == 200L, s"rows delivered: $batches")
    assert(batches.map(_._1) == batches.map(_._1).sorted, s"batch ids not monotone: $batches")
    // Restart from the same checkpoint: no batch re-delivered, no new rows.
    seen.clear()
    val q2 = Streams.start(spark.readStream
      .schema(Tables.events(spark, TestSpark.sfDir).schema).parquet(s"$dir/in"), sink)
    try { q2.processAllAvailable() } finally q2.stop()
    assert(seen.asScala.toSeq.map(_._2).sum == 0L, s"restart re-delivered: ${seen.asScala.toSeq}")
  }

  /** A dedup stream over 300 fixture events staged as one file, started
    * on the session's current state configuration.
    */
  private def metricsQuery(name: String): (String, org.apache.spark.sql.streaming.StreamingQuery) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-met").toString
    Tables.events(spark, TestSpark.sfDir).limit(300).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/in")
    val streamed = spark.readStream
      .schema(Tables.events(spark, TestSpark.sfDir).schema)
      .parquet(s"$dir/in")
    val deduped = Streams.dedupWithinWatermark(streamed, delay = "1 hour",
      idCols = Seq("user_id", "event_type"))
    (dir, Streams.start(deduped, Streams.MemoryStreamSink(name)))
  }

  test("lastMetrics exposes throughput and dedup state-store size") {
    val (dir, q) = metricsQuery("met_sink")
    try {
      q.processAllAvailable()
      val m = Streams.lastMetrics(q).getOrElse(
        Streams.recentMetrics(q).lastOption.getOrElse(fail("no progress recorded")))
      // 300 input rows crossed the batch(es); the dedup operator holds
      // one state row per distinct (user_id, event_type) seen.
      val all = Streams.recentMetrics(q)
      assert(all.map(_.numInputRows).sum == 300L, s"inputs: $all")
      val distinctKeys = Tables.events(spark, TestSpark.sfDir).limit(300)
        .select("user_id", "event_type").distinct().count()
      assert(all.map(_.stateRows).max == distinctKeys,
        s"state rows ${all.map(_.stateRows).max} vs $distinctKeys keys")
      assert(m.batchDurationMs >= 0 && m.stateMemoryBytes > 0)
      assert(all.map(_.droppedByWatermark).sum == 0L, s"in-order input dropped rows: $all")
      // The batch phases and the RocksDB store's commit parts are named:
      // a data batch writes its offsets and runs its plan, and under
      // sessionConf its store commit writes a changelog file, so a
      // misspelt phase or custom-metric name reads 0 and fails here. The
      // offsets write can take under a millisecond, so its phase is
      // checked by key rather than by value.
      val data = all.filter(_.numInputRows > 0)
      assert(data.nonEmpty && data.forall(_.addBatchMs > 0), s"batch phases: $data")
      assert(q.recentProgress.filter(_.numInputRows > 0)
        .forall(_.durationMs.containsKey("walCommit")), s"batch phases: $data")
      assert(data.forall(b => b.triggerExecutionMs >= b.addBatchMs), s"batch phases: $data")
      assert(data.forall(b => b.queryPlanningMs > 0 && b.latestOffsetMs > 0),
        s"batch phases: $data")
      assert(data.forall(b => b.stateCommitMs > 0 && b.rocksdbChangelogCommitMs > 0),
        s"state commit: $data")
      // Every data batch loads its stores' version; a load can take under
      // a millisecond, so the key is checked on each state operator and
      // the field against its sum.
      val dataProgress = q.recentProgress.filter(_.numInputRows > 0).toSeq
      assert(dataProgress.forall(_.stateOperators.forall(
        _.customMetrics.containsKey("rocksdbLoadLatencyMs"))), s"store load: $data")
      assert(dataProgress.map(p => Streams.toMetrics(p).rocksdbLoadMs) ==
        dataProgress.map(_.stateOperators.map(
          _.customMetrics.get("rocksdbLoadLatencyMs").longValue).sum), s"store load: $data")
      // A later file carries a row ten years behind the watermark: the
      // dedup operator drops it and the metric counts it.
      Tables.events(spark, TestSpark.sfDir).limit(1)
        .withColumn("ts", col("ts") - expr("INTERVAL 3650 DAYS"))
        .write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      assert(Streams.recentMetrics(q).map(_.droppedByWatermark).sum >= 1L,
        s"late row not counted: ${Streams.recentMetrics(q)}")
    } finally q.stop()
  }

  test("lastMetrics names the RocksDB snapshot upload parts when changelog checkpointing is off") {
    val key = Streams.ChangelogCheckpointingKey
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val (_, q) = metricsQuery("met_snapshot_sink")
      try {
        q.processAllAvailable()
        // Each data batch's store commit uploads a snapshot: its file sync
        // and zip upload parts read above 0 unless their names are wrong.
        val data = Streams.recentMetrics(q).filter(_.numInputRows > 0)
        assert(data.nonEmpty && data.forall(b => b.stateCommitMs > 0 &&
          b.rocksdbCommitFileSyncMs > 0 && b.rocksdbSaveZipFilesMs > 0), s"state commit: $data")
      } finally q.stop()
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("events() builder dispatches on source config") {
    val emptyDir = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val file = Streams.events(spark, Streams.FileStreamSource(emptyDir))
    assert(file.isStreaming)
    assert(file.columns.contains("ts") && file.columns.contains("event_id"))
    // Kafka branch: builder must construct the right plan shape; it can
    // only fail at runtime (no broker/connector in this container).
    val ex = intercept[Exception] {
      Streams.events(spark, Streams.KafkaStreamSource("localhost:9092", "events")).schema
    }
    assert(ex.getMessage.toLowerCase.contains("kafka"))
  }
}
