package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams
import graft.streaming.Streams.Event

/** State-store PROVIDER parity — the last streaming-at-scale degree of
  * freedom (SURVEY §3.E3). The suite session runs everything on RocksDB
  * (the transformWithState contract, and the 100 TB production backend);
  * this spec pins the two directions that leaves open:
  *
  *  - the DEFAULT HDFS-backed provider computes the same answers for the
  *    watermark-stateful operators that accept it (dedup-within-watermark,
  *    windowed aggregation) — provider choice is an execution detail, not
  *    a semantics knob;
  *  - RocksDB with CHANGELOG CHECKPOINTING — the configuration
  *    `Streams.sessionConf` sets, where per-batch commits write the delta
  *    instead of full SST sets — recovers dedup state across a
  *    stop/restart cycle on the same checkpoint (suppression continues,
  *    nothing re-emits).
  *
  * A provider is fixed for the LIFETIME of a checkpoint (state files are
  * provider-specific), so each query here gets a fresh checkpoint; what
  * is compared is query OUTPUT, never state bytes.
  */
class StateProviderParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
  private val Hdfs =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  private val Rocks =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private val batch1 = Seq(
    Event(1L, 7L, "click", ts("2024-01-01 10:00:00"), 1.0),
    Event(2L, 7L, "click", ts("2024-01-01 10:01:00"), 2.0), // in-batch dup
    Event(3L, 8L, "view", ts("2024-01-01 10:02:00"), 3.0))
  private val batch2 = Seq(
    Event(4L, 7L, "click", ts("2024-01-01 10:03:00"), 4.0), // cross-restart dup
    Event(5L, 9L, "click", ts("2024-01-01 10:04:00"), 5.0)) // new key

  /** Run watermarked dedup over (batch1, batch2) under `provider`,
    * returning the surviving event_ids in emission order.
    */
  private def dedupSurvivors(provider: String, table: String): Seq[Long] =
    withConf(ProviderKey, provider) {
      val ms = MemoryStream[Event](spark)
      val out = Streams.dedupWithinWatermark(ms.toDF(), "1 hour",
        Seq("user_id", "event_type"))
      val q = Streams.start(out, Streams.MemoryStreamSink(table, Some(tmp("graft-prov"))))
      try {
        ms.addData(batch1); q.processAllAvailable()
        ms.addData(batch2); q.processAllAvailable()
      } finally q.stop()
      spark.table(table).select("event_id").as[Long].collect().sorted.toSeq
    }

  test("dedupWithinWatermark: HDFS-backed and RocksDB providers agree") {
    val rocks = dedupSurvivors(Rocks, "prov_rocks")
    val hdfs = dedupSurvivors(Hdfs, "prov_hdfs")
    assert(rocks == Seq(1L, 3L, 5L))
    assert(hdfs == rocks)
  }

  test("session-window aggregation: provider choice does not change results") {
    def sessions(provider: String, table: String): Set[(Long, Long)] =
      withConf(ProviderKey, provider) {
        val ms = MemoryStream[Event](spark)
        val out = Streams.sessionCounts(ms.toDF(), "1 hour")
        val q = Streams.start(out,
          Streams.MemoryStreamSink(table, Some(tmp("graft-prov-sess"))),
          mode = org.apache.spark.sql.streaming.OutputMode.Complete())
        try {
          // Two sessions for user 7 (gap > 30 min), one for user 8.
          ms.addData(Seq(
            Event(1L, 7L, "click", ts("2024-01-01 10:00:00"), 1.0),
            Event(2L, 7L, "click", ts("2024-01-01 10:10:00"), 2.0),
            Event(3L, 7L, "click", ts("2024-01-01 12:00:00"), 3.0),
            Event(4L, 8L, "view", ts("2024-01-01 10:05:00"), 4.0)))
          q.processAllAvailable()
        } finally q.stop()
        spark.table(table).select("user_id", "n_events")
          .as[(Long, Long)].collect().toSet
      }
    val rocks = sessions(Rocks, "sess_rocks")
    val hdfs = sessions(Hdfs, "sess_hdfs")
    assert(rocks == Set((7L, 2L), (7L, 1L), (8L, 1L)))
    assert(hdfs == rocks)
  }

  test("RocksDB changelog checkpointing: dedup state survives stop/restart") {
    withConf(ProviderKey, Rocks) {
      withConf(ChangelogKey, "true") {
        val ckpt = tmp("graft-changelog-ckpt")
        val out = tmp("graft-changelog-out")
        // A recoverable (file) sink: memory sinks refuse checkpoint
        // recovery outright, which would mask the restart this test pins.
        // Lifetime 1: absorb batch1, stop.
        val ms1 = MemoryStream[Event](spark)
        val q1 = Streams.start(
          Streams.dedupStateful(ms1.toDS(), "1 hour").toDF(),
          Streams.ParquetStreamSink(out, ckpt))
        try { ms1.addData(batch1); q1.processAllAvailable() } finally q1.stop()
        assert(spark.read.parquet(out).select("event_id")
          .as[Long].collect().toSet == Set(1L, 3L))

        // Lifetime 2: SAME checkpoint, fresh source carrying the already-
        // processed prefix plus batch2 (MemoryStream offsets restart at 0,
        // so the recovered query re-reads what the old source held; the
        // recovered STATE must keep those prefix rows suppressed too).
        val ms2 = MemoryStream[Event](spark)
        ms2.addData(batch1)
        val q2 = Streams.start(
          Streams.dedupStateful(ms2.toDS(), "1 hour").toDF(),
          Streams.ParquetStreamSink(out, ckpt))
        try { ms2.addData(batch2); q2.processAllAvailable() } finally q2.stop()
        // Keys seeded before the restart stay suppressed: only the
        // genuinely-new key emits in lifetime 2.
        assert(spark.read.parquet(out).select("event_id")
          .as[Long].collect().toSet == Set(1L, 3L, 5L))
      }
    }
  }
}
