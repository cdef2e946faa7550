package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Dedup, Sources, Tables}
import graft.streaming.Streams
import graft.streaming.Streams.Event

/** Streaming keyed-upsert sink: the maintained snapshot must equal the
  * batch latest-wins twin regardless of micro-batch slicing, tombstones
  * must delete, and a replayed batch id must be a no-op (the
  * exactly-once-effective contract).
  */
class UpsertSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val keys = Seq("user_id", "event_type")
  private def order = Seq(desc("ts"), desc("event_id"))

  private lazy val fixtureEvents: Seq[Event] =
    Tables.events(spark, TestSpark.sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"), col("value"))
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq

  private def snapshotRows(dir: String): Set[(Long, String, Long)] =
    Streams.readSnapshotVersion(spark, dir).get
      .select($"user_id", $"event_type", $"event_id")
      .as[(Long, String, Long)].collect().toSet

  test("streamed upserts across micro-batches ≡ batch latest-wins; old versions pruned") {
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-upsert-ck").toString
    try {
      val ms = MemoryStream[Event](spark)
      val q = Streams.start(ms.toDS().toDF(),
        Streams.upsertSink(dir, keys, order, checkpoint = Some(ckpt)))
      try {
        // Three slices in event-time order — later batches must overwrite.
        fixtureEvents.grouped(math.max(1, fixtureEvents.size / 3 + 1)).foreach { chunk =>
          ms.addData(chunk); q.processAllAvailable()
        }
      } finally q.stop()

      val expect = Dedup.oneWins(
          fixtureEvents.toDF(), keys, order)
        .select($"user_id", $"event_type", $"event_id")
        .as[(Long, String, Long)].collect().toSet
      assert(snapshotRows(dir) == expect)
      // Exactly one committed version remains.
      val versions = new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("v_"))
      assert(versions.length == 1, versions.map(_.getName).mkString(","))
    } finally {
      Sources.deleteRecursively(new java.io.File(dir))
      Sources.deleteRecursively(new java.io.File(ckpt))
    }
  }

  test("tombstones delete their key; replayed batch id is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert-ts").toString
    try {
      val live = fixtureEvents.take(40).toDF().withColumn("deleted", lit(false))
      Streams.upsertBatch(live, dir, 0L, keys, order, tombstoneCol = Some("deleted"))
      val before = snapshotRows(dir)

      // Tombstone every 'click' key with a LATER ts than any live row.
      val clicks = Streams.readSnapshotVersion(spark, dir).get
        .where($"event_type" === "click")
        .withColumn("ts", $"ts" + expr("INTERVAL 10 DAYS"))
        .withColumn("event_id", $"event_id" + 1000000L)
        .withColumn("deleted", lit(true))
      Streams.upsertBatch(clicks, dir, 1L, keys, order, tombstoneCol = Some("deleted"))
      val after = snapshotRows(dir)
      assert(after == before.filterNot(_._2 == "click") && after.size < before.size)

      // Replaying batch 1 (marker present) must change nothing — even if
      // the replayed frame were different, the marker short-circuits.
      Streams.upsertBatch(live, dir, 1L, keys, order, tombstoneCol = Some("deleted"))
      assert(snapshotRows(dir) == after)
    } finally Sources.deleteRecursively(new java.io.File(dir))
  }

  test("versions past v_999999 are ordered by id, not by name") {
    // f"v_$id%06d" widens to seven digits at 1,000,000, and "v_1000000"
    // sorts before "v_999999" by name.
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert-wide").toString
    def delta(eventId: Long, user: Long, minute: Int) =
      Seq((eventId, user, "click", java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")))
        .toDF("event_id", "user_id", "event_type", "ts")
    try {
      Streams.upsertBatch(delta(1L, 7L, 0), dir, 999999L, keys, order)
      // Batch 1,000,000 also inserts a key no other batch touches.
      Streams.upsertBatch(delta(2L, 7L, 1).union(delta(20L, 8L, 1)), dir, 1000000L, keys, order)
      Streams.upsertBatch(delta(3L, 7L, 2), dir, 1000001L, keys, order)
      assert(snapshotRows(dir) == Set((7L, "click", 3L), (8L, "click", 20L)))
      val versions = new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("v_")).map(_.getName)
      assert(versions.toSeq == Seq("v_1000001"))
    } finally Sources.deleteRecursively(new java.io.File(dir))
  }
}
