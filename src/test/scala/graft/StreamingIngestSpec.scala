package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streams

/** Incremental near-dup ingest: first-arrival-wins near-dedup across
  * micro-batches with the persisted corpus as state — within-batch
  * locally-minimal survivors, corpus-always-wins across batches,
  * idempotent batch replay.
  */
class StreamingIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

  private def corpusIds(dir: String): Set[Long] =
    spark.read.parquet(dir + "/batch_*").select("doc_id").as[Long].collect().toSet

  test("near-dups are suppressed within a batch and against earlier batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
    val docs = mem.toDF().toDF("doc_id", "text", "ts")
    val q = Streams.incrementalNearDupIngest(docs, s"$dir/corpus", s"$dir/ckpt")
    try {
      // Batch 0: doc 2 is an exact dup of doc 1 (J = 1) — within-batch drop.
      mem.addData((1L, "alpha beta gamma delta epsilon", ts(0)),
        (2L, "alpha beta gamma delta epsilon", ts(1)),
        (3L, "totally unrelated words here now", ts(2)))
      q.processAllAvailable()
      assert(corpusIds(s"$dir/corpus") == Set(1L, 3L))
      // Batch 1: doc 4 dups the batch-0 survivor (corpus wins); doc 5 is
      // a NEAR dup below τ (J = 5/6 ≈ 0.83 < 0.9) and must survive;
      // doc 6 is new.
      mem.addData((4L, "alpha beta gamma delta epsilon", ts(10)),
        (5L, "alpha beta gamma delta epsilon zeta", ts(11)),
        (6L, "fresh content never seen before", ts(12)))
      q.processAllAvailable()
      assert(corpusIds(s"$dir/corpus") == Set(1L, 3L, 5L, 6L))
    } finally q.stop()
    // Replaying an already-ingested batch id is a no-op (foreachBatch
    // at-least-once contract).
    val replay = Seq((7L, "this replay must not land", ts(20)))
      .toDF("doc_id", "text", "ts")
    Streams.ingestBatch(replay, s"$dir/corpus", batchId = 0L)
    assert(corpusIds(s"$dir/corpus") == Set(1L, 3L, 5L, 6L))
  }

  test("a partial batch dir (no commit marker) is rewritten on replay, not skipped") {
    // Every marker-committed writer, fed a one-row batch tagged `id`, and
    // the tags committed under its directory.
    val writers: Seq[(String, String, (Long, String) => Unit, String => Set[Long])] = Seq(
      ("ingestBatch", "batch_000000",
        (id, dir) => Streams.ingestBatch(
          Seq((id, "alpha beta gamma delta epsilon", ts(0))).toDF("doc_id", "text", "ts"),
          dir, batchId = 0L),
        corpusIds),
      ("partialsBatch", "batch_000000",
        (id, dir) => Streams.partialsBatch(
          Seq((ts(0), "click", id.toDouble)).toDF("ts", "event_type", "value"), dir, 0L),
        dir => spark.read.parquet(dir + "/batch_*").select("sum_value_cents").as[Long]
          .collect().map(_ / 100).toSet),
      ("upsertBatch", "v_000000",
        (id, dir) => Streams.upsertBatch(
          Seq((id, 1L, "click", ts(0))).toDF("event_id", "user_id", "event_type", "ts"),
          dir, 0L, Seq("user_id", "event_type"), Seq(desc("ts"))),
        dir => Streams.readSnapshotVersion(spark, dir).get.select("event_id").as[Long]
          .collect().toSet))
    for ((name, partialName, write, committed) <- writers) withClue(s"$name: ") {
      val dir = java.nio.file.Files.createTempDirectory("graft-partial").toString + "/out"
      // Fake a crashed write: the batch dir exists with a stray data file
      // but no commit marker — the replay must delete and rewrite it.
      val partial = new java.io.File(s"$dir/$partialName")
      partial.mkdirs()
      java.nio.file.Files.writeString(partial.toPath.resolve("part-junk.parquet"), "not parquet")
      write(1L, dir)
      assert(committed(dir) == Set(1L))
      assert(new java.io.File(partial, "_GRAFT_COMMITTED").exists())
      assert(!new java.io.File(partial, "part-junk.parquet").exists())
      // Second replay with the marker present is now a true no-op.
      write(9L, dir)
      assert(committed(dir) == Set(1L))
    }
  }

  test("vacuumUncommitted sweeps only stale marker-less dirs, honors the grace window") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vacuum").toString
    val batch = Seq((1L, "alpha beta gamma delta epsilon", ts(0)))
      .toDF("doc_id", "text", "ts")
    Streams.ingestBatch(batch, dir, batchId = 0L)
    // Orphan: a crashed retry that never replays.
    val orphan = new java.io.File(s"$dir/batch_000007")
    orphan.mkdirs()
    java.nio.file.Files.writeString(orphan.toPath.resolve("part-junk.parquet"), "junk")
    // Within the grace window the in-flight-looking dir survives.
    assert(Streams.vacuumUncommitted(spark, dir) == Nil)
    assert(orphan.exists())
    // Past the window it sweeps; the committed batch is never touched.
    assert(Streams.vacuumUncommitted(spark, dir, graceMs = 0) ==
      Seq("batch_000007"))
    assert(!orphan.exists())
    assert(corpusIds(dir) == Set(1L))
    // Idempotent: nothing left to sweep; missing dir is a no-op.
    assert(Streams.vacuumUncommitted(spark, dir, graceMs = 0) == Nil)
    assert(Streams.vacuumUncommitted(spark, s"$dir/nope", graceMs = 0) == Nil)
  }

  test("streamed partial aggregates merge to the batch totals; replay is a no-op") {
    import graft.engine.Tables
    val dir = java.nio.file.Files.createTempDirectory("graft-partials").toString
    val mem = MemoryStream[graft.streaming.Streams.Event](spark)
    val q = Streams.incrementalPartialsIngest(mem.toDF(), s"$dir/p", s"$dir/ckpt")
    val fixture = Tables.events(spark, TestSpark.sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"), col("value"))
      .as[graft.streaming.Streams.Event].collect().toSeq
    val (a, b) = fixture.splitAt(fixture.size / 2)
    try {
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
    } finally q.stop()
    val merged = Streams.mergeStreamedPartials(spark, s"$dir/p", "2000-01-01", "2100-01-01")
      .as[(String, Long, Double, Double)].collect().toSeq
    val direct = Tables.events(spark, TestSpark.sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"),
        round(sum(col("value")) / count(lit(1)), 4).as("av"))
      .orderBy("event_type")
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(merged.map(r => (r._1, r._2)) == direct.map(r => (r._1, r._2)))
    merged.zip(direct).foreach { case (m, e) =>
      assert(math.abs(m._3 - e._3) <= 0.011 && math.abs(m._4 - e._4) <= 0.00011,
        s"$m vs $e")
    }
    // Replaying a committed batch id is a no-op on the merged totals.
    val before = Streams.mergeStreamedPartials(spark, s"$dir/p", "2000-01-01", "2100-01-01")
      .collect().toSeq
    Streams.partialsBatch(
      Tables.events(spark, TestSpark.sfDir).limit(5), s"$dir/p", batchId = 0L)
    val after = Streams.mergeStreamedPartials(spark, s"$dir/p", "2000-01-01", "2100-01-01")
      .collect().toSeq
    assert(before == after)
  }

  test("AvailableNow backfill: bounded file chunks drain to the batch-twin corpus, then resume is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft-backfill").toString
    // Historical corpus as three parquet files written in order (the file
    // source processes them oldest-first); dups span chunk boundaries in
    // BOTH directions the policy defines: within-chunk larger-id drops,
    // cross-chunk the earlier-ingested corpus doc wins.
    val chunks = Seq(
      Seq((1L, "alpha beta gamma delta epsilon", ts(0)),
        (2L, "one two three four five", ts(1)),
        (3L, "red orange yellow green blue", ts(2)),
        (4L, "north south east west center", ts(3))),
      Seq((5L, "north south east west center", ts(4)), // dups 4 (cross-chunk)
        (6L, "cats dogs birds fish mice", ts(5)),
        (7L, "alpha beta gamma delta epsilon", ts(6)), // dups 1 (cross-chunk)
        (8L, "sun moon stars clouds rain", ts(7))),
      Seq((9L, "bread milk eggs cheese butter", ts(8)),
        (10L, "sun moon stars clouds rain", ts(9)), // dups 8 (cross-chunk)
        (11L, "violin cello flute oboe drums", ts(10)),
        (12L, "one two three four five", ts(11)))) // dups 2 (cross-chunk)
    chunks.foreach(_.toDF("doc_id", "text", "ts")
      .coalesce(1).write.mode("append").parquet(s"$dir/docs"))
    val schema = chunks.head.toDF("doc_id", "text", "ts").schema
    Streams.backfillNearDupIngest(spark, s"$dir/docs", schema,
      s"$dir/corpus", s"$dir/ckpt", maxFilesPerTrigger = 1)
    val expected = Set(1L, 2L, 3L, 4L, 6L, 8L, 9L, 11L)
    assert(corpusIds(s"$dir/corpus") == expected)
    // Bounded drain: the backfill ran as MULTIPLE marker-committed
    // micro-batches, not one monolith.
    def committedBatches() = new java.io.File(s"$dir/corpus").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch_") &&
        new java.io.File(f, "_GRAFT_COMMITTED").exists())
    assert(committedBatches() >= 3, s"expected >=3 committed chunks, got ${committedBatches()}")
    // Batch twin: one-shot ingest of the full history yields the same
    // survivor set (pairwise dups, min-id-wins both routes).
    val twin = java.nio.file.Files.createTempDirectory("graft-backfill-twin").toString
    Streams.ingestBatch(chunks.flatten.toDF("doc_id", "text", "ts"), s"$twin/corpus", 0L)
    assert(corpusIds(s"$twin/corpus") == expected)
    // Resume from the checkpoint's high-water mark: nothing new to read,
    // the corpus is untouched.
    Streams.backfillNearDupIngest(spark, s"$dir/docs", schema,
      s"$dir/corpus", s"$dir/ckpt", maxFilesPerTrigger = 1)
    assert(corpusIds(s"$dir/corpus") == expected)
  }

  test("corpus index gaining a column between batches: dedup still works, merged read defaults it") {
    import graft.engine.Tables
    val dir = java.nio.file.Files.createTempDirectory("graft-evo").toString
    // Batch 0: the original index schema (doc_id, text, ts → + toks/bands).
    Streams.ingestBatch(
      Seq((1L, "alpha beta gamma delta epsilon", ts(0))).toDF("doc_id", "text", "ts"),
      s"$dir/corpus", batchId = 0L)
    // Batch 1: the ingest evolved — docs now carry a `source` column,
    // which lands in this batch's corpus directory.
    Streams.ingestBatch(
      Seq((2L, "six seven eight nine ten", ts(5), "crawl-v2"))
        .toDF("doc_id", "text", "ts", "source"),
      s"$dir/corpus", batchId = 1L)
    // Batch 2 probes a corpus whose directories DISAGREE on schema: the
    // dedup must still suppress dups of both old- and new-schema docs.
    Streams.ingestBatch(
      Seq((3L, "alpha beta gamma delta epsilon", ts(10), "crawl-v2"), // dups batch 0
        (4L, "six seven eight nine ten", ts(11), "crawl-v2"), // dups batch 1
        (5L, "completely new words appear here", ts(12), "crawl-v2"))
        .toDF("doc_id", "text", "ts", "source"),
      s"$dir/corpus", batchId = 2L)
    assert(corpusIds(s"$dir/corpus") == Set(1L, 2L, 5L))
    // The merged-schema read surfaces old-batch rows with an explicit
    // default, new-batch rows with their real value.
    val merged = Tables.readMergedSchema(spark,
      s"$dir/corpus/batch_000000", s"$dir/corpus/batch_000001", s"$dir/corpus/batch_000002")
      .withColumn("source", coalesce(col("source"), lit("pre_v2")))
      .select("doc_id", "source").as[(Long, String)].collect().toMap
    assert(merged == Map(1L -> "pre_v2", 2L -> "crawl-v2", 5L -> "crawl-v2"))
  }

  test("batch driver surface: ingestBatch dedups a delta against a snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("graft-delta").toString
    val snapshot = Seq((10L, "one two three four five", ts(0)))
      .toDF("doc_id", "text", "ts")
    Streams.ingestBatch(snapshot, s"$dir/corpus", batchId = 0L)
    val delta = Seq(
      (11L, "one two three four five", ts(5)), // dup of snapshot
      (12L, "six seven eight nine ten", ts(6)))
      .toDF("doc_id", "text", "ts")
    Streams.ingestBatch(delta, s"$dir/corpus", batchId = 1L)
    assert(corpusIds(s"$dir/corpus") == Set(10L, 12L))
    // The corpus index carries the persisted bands (no recompute on probe).
    val cols = spark.read.parquet(s"$dir/corpus/batch_*").columns.toSet
    assert(Set("doc_id", "toks", "bands").subsetOf(cols), cols.toString)
  }
}
