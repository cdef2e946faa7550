package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{ReplayMicroBatchStream, ReplayOffset, ReplayReaderFactory, ReplaySource,
  ReplayTable, SerializableHadoopConf, Streams}

/** The `graft-replay` DataSourceV2 source (r14 verdict item #5): the one
  * Spark extension surface the engine had not exercised — a REAL streaming
  * source with genuine offsets, admission control, commit, and restart
  * semantics, standing in for the env-blocked Kafka connector (R1).
  *
  * Coverage map:
  *  - batch face ≡ staged frame (hash-exact: Double.toString round-trip);
  *  - streaming drain ≡ batch face, bounded by maxFilesPerTrigger
  *    (admission control produces one segment per micro-batch);
  *  - new segments appended between triggers are discovered exactly once;
  *  - lost-commit crash replay through a file sink stays exactly-once
  *    (the CrashRecoverySpec seam, now through OUR source's offset log);
  *  - the append-only log contract is enforced (mutated log throws);
  *  - offset JSON round-trips (what the checkpoint offsets/ dir stores);
  *  - the driver's Hadoop conf is copied at scan build and reaches the
  *    readers through one broadcast per query, so a shipped reader
  *    factory stays under 4 KiB.
  */
class ReplaySourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  /** Events fixture normalized to the replay columns. */
  private lazy val fixture: DataFrame =
    graft.engine.Tables.events(spark, TestSpark.sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))

  private def multiset(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("offset JSON round-trips") {
    assert(ReplayOffset.fromJson(ReplayOffset(42).json()) == ReplayOffset(42))
    assert(ReplayOffset.fromJson("""{"files":0}""") == ReplayOffset(0))
    intercept[IllegalArgumentException](ReplayOffset.fromJson("""{"rows":3}"""))
  }

  test("unmarked segment dirs are refused by reader AND stager (v1 provenance guard)") {
    // v1 (pre-escaping) rows are not content-detectable — a raw backslash
    // before t/n/r/\/N silently reinterprets as an escape. The guard is
    // provenance: stage stamps _FORMAT-v2; a dir holding segments WITHOUT
    // the marker is refused outright by listSegments and by stage.
    val dir = tmp("graft-replay-v1guard")
    ReplaySource.stage(fixture.limit(50), dir, segments = 1)
    assert(new java.io.File(dir, ReplaySource.FormatMarker).isFile)
    assert(ReplaySource.listSegments(dir).size == 1) // marked: reads fine
    assert(new java.io.File(dir, ReplaySource.FormatMarker).delete())
    intercept[IllegalArgumentException](ReplaySource.listSegments(dir))
    intercept[IllegalArgumentException](
      ReplaySource.stage(fixture.limit(10), dir, segments = 1))
    // An empty (or segment-free) dir needs no marker — staging bootstraps it.
    val fresh = tmp("graft-replay-v1guard-fresh")
    assert(ReplaySource.listSegments(fresh).isEmpty)
    ReplaySource.stage(fixture.limit(10), fresh, segments = 1)
    assert(ReplaySource.listSegments(fresh).size == 1)
  }

  test("batch face reads back the staged frame exactly (nulls included)") {
    val dir = tmp("graft-replay-batch")
    // A null in every nullable column exercises the \N codec.
    val withNulls = fixture.limit(200).unionByName(
      Seq((9999999L, java.sql.Timestamp.valueOf("2024-06-01 00:00:00"), 7L,
        null.asInstanceOf[String], 1.25, null.asInstanceOf[String]))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val staged = ReplaySource.stage(withNulls, dir, segments = 3)
    assert(staged.size == 3 && staged == ReplaySource.listSegments(dir).map(_.path))
    val back = spark.read.format("graft-replay").option("path", dir).load()
    assert(back.schema == ReplaySource.schema)
    assert(multiset(back) == multiset(withNulls))
  }

  test("streaming drain equals batch face; admission control bounds each micro-batch") {
    val dir = tmp("graft-replay-stream")
    ReplaySource.stage(fixture.limit(1000), dir, segments = 4)
    val ckpt = tmp("graft-replay-stream-ckpt")
    val events = Streams.events(spark,
      Streams.ReplayStreamSource(dir, maxFilesPerTrigger = Some(1)))
    val q = Streams.start(events, Streams.MemoryStreamSink("replay_drain", Some(ckpt)),
      trigger = Some(Trigger.AvailableNow()))
    try q.awaitTermination() finally q.stop()
    val got = spark.table("replay_drain")
    val batch = spark.read.format("graft-replay").option("path", dir).load()
    assert(multiset(got) == multiset(batch))
    // One segment per micro-batch: the checkpoint's offset log has one
    // entry per admitted batch (4 data batches; a trailing empty batch
    // may close the AvailableNow run).
    val offsets = new java.io.File(s"$ckpt/offsets")
      .listFiles().count(_.getName.forall(_.isDigit))
    assert(offsets >= 4, s"expected >=4 admission-controlled batches, got $offsets")
  }

  test("segments appended between triggers are discovered exactly once") {
    val dir = tmp("graft-replay-append")
    val (first, second) = (fixture.limit(600), fixture.orderBy(desc("event_id")).limit(400))
    ReplaySource.stage(first, dir, segments = 2)
    val ckpt = tmp("graft-replay-append-ckpt")
    val q = Streams.start(
      Streams.events(spark, Streams.ReplayStreamSource(dir)),
      Streams.MemoryStreamSink("replay_append", Some(ckpt)))
    try {
      q.processAllAvailable()
      assert(spark.table("replay_append").count() == first.count())
      ReplaySource.stage(second, dir, segments = 2) // producer keeps writing
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("replay_append")
    assert(multiset(got) == multiset(first.unionByName(second)))
  }

  test("lost-commit crash replay through a file sink stays exactly-once") {
    val dir = tmp("graft-replay-crash")
    val out = tmp("graft-replay-crash-out")
    val ckpt = tmp("graft-replay-crash-ckpt")
    ReplaySource.stage(fixture.limit(900), dir, segments = 3)
    def run(): Unit = {
      val q = Streams.start(
        Streams.events(spark, Streams.ReplayStreamSource(dir, Some(1))),
        Streams.ParquetStreamSink(out, ckpt), trigger = Some(Trigger.AvailableNow()))
      try q.awaitTermination() finally q.stop()
    }
    run()
    // Kill seam: batch N ran (sink wrote, offsets/N durable) but commits/N
    // was lost. Restart MUST replan batch N from OUR offset log — the same
    // (start, end] file range, byte-identical rows — and the file sink's
    // _spark_metadata log must swallow the duplicate write.
    val commits = new java.io.File(s"$ckpt/commits")
    val latest = commits.listFiles().filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toLong)
    val crc = new java.io.File(commits, s".${latest.getName}.crc")
    assert(latest.delete()); if (crc.exists()) assert(crc.delete())
    run()
    val got = spark.read.parquet(out)
    val batch = spark.read.format("graft-replay").option("path", dir).load()
    assert(multiset(got) == multiset(batch)) // no loss, no dup
  }

  test("replay source feeds a stateful operator: watermark dedup matches the batch key set") {
    // Integration face: the DSv2 source driving a real watermarked
    // stateful pipeline end-to-end (R1 source -> R2 dedup -> R4 sink),
    // not just a pass-through scan.
    val dir = tmp("graft-replay-dedup")
    ReplaySource.stage(fixture, dir, segments = 3)
    val ckpt = tmp("graft-replay-dedup-ckpt")
    val events = Streams.events(spark, Streams.ReplayStreamSource(dir))
    val out = Streams.dedupWithinWatermark(events, "40 days", Seq("user_id", "event_type"))
    val q = Streams.start(out, Streams.MemoryStreamSink("replay_dedup", Some(ckpt)),
      trigger = Some(Trigger.AvailableNow()))
    try q.awaitTermination() finally q.stop()
    val streamed = spark.table("replay_dedup")
      .select("user_id", "event_type").as[(Long, String)].collect().toSet
    val batch = graft.engine.Dedup.queries("q_dedup_first_wins")(spark, TestSpark.sfDir)
      .select("user_id", "event_type").as[(Long, String)].collect().toSet
    assert(streamed == batch)
  }

  test("append-only contract: a mutated log fails loudly instead of lying") {
    val dir = tmp("graft-replay-mutate")
    ReplaySource.stage(fixture.limit(300), dir, segments = 3)
    val stream = new ReplayMicroBatchStream(dir, None)
    val end = stream.latestOffset(ReplayOffset(0),
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    assert(end == ReplayOffset(3))
    stream.commit(end)
    assert(stream.committedOffset.contains(ReplayOffset(3)))
    // Punch a HOLE in the log under the live stream (delete the middle
    // segment): offsets already planned would silently map to different
    // bytes — the source must refuse.
    val victim = new java.io.File(new java.net.URI(
      ReplaySource.listSegments(dir)(1).path).getPath)
    assert(victim.delete())
    intercept[IllegalArgumentException] {
      stream.latestOffset(end,
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    }
  }

  test("offsets are filename indices: archiving a committed prefix never remaps planned segments") {
    // The r15 ADVICE medium scenario: positional offsets would silently
    // mis-slice after an archive + append across a restart. Index-derived
    // offsets make 'segments below a committed offset are archive-safe'
    // genuinely true.
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = tmp("graft-replay-archive")
    ReplaySource.stage(fixture.limit(400), dir, segments = 4)
    val s1 = new ReplayMicroBatchStream(dir, Some(2))
    val end1 = s1.latestOffset(ReplayOffset(0), ReadLimit.maxFiles(2))
    assert(end1 == ReplayOffset(2))
    val planned1 = s1.planInputPartitions(ReplayOffset(0), end1)
      .map(_.asInstanceOf[graft.streaming.ReplayInputPartition].file)
    assert(planned1.toSeq == ReplaySource.listSegments(dir).take(2).map(_.path))
    s1.commit(end1)
    // Retention archives the committed prefix; the producer appends more.
    val archived = new java.io.File(new java.net.URI(
      ReplaySource.listSegments(dir).head.path).getPath)
    assert(archived.delete())
    ReplaySource.stage(fixture.limit(200), dir, segments = 2) // -> indices 4, 5
    // Restart: a FRESH stream instance (empty `known`, as after a crash)
    // replans the checkpointed range (2, 4] — it must map to segments
    // 000002/000003 by NAME even though list positions shifted.
    val s2 = new ReplayMicroBatchStream(dir, Some(2))
    val planned2 = s2.planInputPartitions(ReplayOffset(2), ReplayOffset(4))
      .map(f => new java.io.File(new java.net.URI(
        f.asInstanceOf[graft.streaming.ReplayInputPartition].file).getPath).getName)
    assert(planned2.toSeq == Seq("segment-000002.tsv", "segment-000003.tsv"))
    // And admission continues past the archive point up to the real head.
    assert(s2.latestOffset(ReplayOffset(4), ReadLimit.allAvailable()) == ReplayOffset(6))
    // A fresh (no-checkpoint) stream on the archived log starts at the
    // lowest SURVIVING index, not 0.
    assert(new ReplayMicroBatchStream(dir, None).initialOffset() == ReplayOffset(1))
  }

  test("string fields with tabs/newlines/backslashes and a literal \\N round-trip exactly") {
    val dir = tmp("graft-replay-escape")
    val tricky = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-06-01 00:00:01"), 7L, "tab\there", 1.0, "a\tb\tc"),
      (2L, java.sql.Timestamp.valueOf("2024-06-01 00:00:02"), 7L, "nl\nhere", 2.0, "line1\nline2\r\nline3"),
      (3L, java.sql.Timestamp.valueOf("2024-06-01 00:00:03"), 8L, "back\\slash", 3.0, "c:\\temp\\x"),
      (4L, java.sql.Timestamp.valueOf("2024-06-01 00:00:04"), 8L, "\\N", 4.0, null.asInstanceOf[String]))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    ReplaySource.stage(tricky, dir, segments = 1)
    val back = spark.read.format("graft-replay").option("path", dir).load()
    assert(multiset(back) == multiset(tricky))
    // The literal two-char string "\N" survives as a VALUE (row 4), while
    // the null props in the same row reads back as a genuine null.
    val r4 = back.where(col("event_id") === 4L).collect().head
    assert(r4.getString(3) == "\\N" && r4.isNullAt(5))
  }

  private def replayScan(dir: String) = {
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", dir))
    new ReplayTable(opts).newScanBuilder(opts).build()
  }

  test("the driver's Hadoop conf (custom FS keys included) survives serialization to the reader") {
    val dir = tmp("graft-replay-conf")
    ReplaySource.stage(fixture.limit(100), dir, segments = 1)
    spark.sparkContext.hadoopConfiguration.set("graft.replay.probe", "r16")
    try {
      val factory = replayScan(dir).toBatch.createReaderFactory()
        .asInstanceOf[ReplayReaderFactory]
      // Ship the factory the way Spark does; a reader rebuilding
      // `new Configuration()` would lose the key (r15 verdict item #3).
      val shipped = TestSpark.javaRoundTrip(factory)
      assert(shipped.conf.value.value.get("graft.replay.probe") == "r16")
      // The broadcast value itself goes through the same Java codec.
      assert(TestSpark.javaRoundTrip(factory.conf.value).value
        .get("graft.replay.probe") == "r16")
      // And the shipped conf actually opens files: read one row through it.
      val part = graft.streaming.ReplayInputPartition(
        ReplaySource.listSegments(dir, shipped.conf.value.value).head.path)
      val reader = shipped.createReader(part)
      try assert(reader.next()) finally reader.close()
      val conf2 = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
      assert(conf2.value.get("graft.replay.probe") == "r16")
    } finally spark.sparkContext.hadoopConfiguration.unset("graft.replay.probe")
  }

  test("a shipped reader factory carries a broadcast handle, not the Hadoop conf") {
    val dir = tmp("graft-replay-factory-size")
    ReplaySource.stage(fixture.limit(100), dir, segments = 1)
    val scan = replayScan(dir)
    val stream = scan.toMicroBatchStream(tmp("graft-replay-factory-ckpt"))
    try {
      // The whole conf serializes to ~110 KB; a task must not carry it.
      Seq("batch" -> scan.toBatch.createReaderFactory(),
          "micro-batch" -> stream.createReaderFactory()).foreach { case (face, f) =>
        val n = TestSpark.javaBytes(f).length
        assert(n < 4096, s"$face reader factory serializes to $n bytes")
      }
    } finally stream.stop()
  }

  test("a micro-batch stream broadcasts its conf once per query and stop() destroys it") {
    val dir = tmp("graft-replay-broadcast")
    ReplaySource.stage(fixture.limit(100), dir, segments = 1)
    val stream = replayScan(dir).toMicroBatchStream(tmp("graft-replay-broadcast-ckpt"))
    val f1 = stream.createReaderFactory().asInstanceOf[ReplayReaderFactory]
    val f2 = stream.createReaderFactory().asInstanceOf[ReplayReaderFactory]
    assert(f1.conf.id == f2.conf.id)
    assert(f1.conf.value.value.size() > 0)
    stream.stop()
    intercept[org.apache.spark.SparkException](f1.conf.value)
  }

  test("a Hadoop conf key set after the scan is built does not reach the reader") {
    val dir = tmp("graft-replay-late-key")
    ReplaySource.stage(fixture.limit(100), dir, segments = 1)
    val scan = replayScan(dir)
    spark.sparkContext.hadoopConfiguration.set("graft.replay.late", "set-after-build")
    val stream = scan.toMicroBatchStream(tmp("graft-replay-late-key-ckpt"))
    try {
      // The conf is copied at capture, so neither face's factory sees it.
      Seq(scan.toBatch.createReaderFactory(), stream.createReaderFactory()).foreach { f =>
        val shipped = TestSpark.javaRoundTrip(f.asInstanceOf[ReplayReaderFactory])
        assert(shipped.conf.value.value.get("graft.replay.late") == null)
      }
    } finally {
      stream.stop()
      spark.sparkContext.hadoopConfiguration.unset("graft.replay.late")
    }
  }

  test("CompositeReadLimit unwraps to its most restrictive maxFiles; unhonorable caps throw") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = tmp("graft-replay-composite")
    ReplaySource.stage(fixture.limit(300), dir, segments = 3)
    val stream = new ReplayMicroBatchStream(dir, Some(2))
    // minRows is a lower-bound trigger hint — the maxFiles component must
    // still cap admission (the r15 ADVICE low: a composite fell through
    // to 'admit everything').
    val composite = ReadLimit.compositeLimit(Array(
      ReadLimit.minRows(5, 1000L), ReadLimit.maxFiles(1)))
    assert(stream.latestOffset(ReplayOffset(0), composite) == ReplayOffset(1))
    // Two maxFiles components: the most restrictive wins.
    val twoCaps = ReadLimit.compositeLimit(Array(
      ReadLimit.maxFiles(3), ReadLimit.maxFiles(2)))
    assert(stream.latestOffset(ReplayOffset(0), twoCaps) == ReplayOffset(2))
    // A cap the source cannot honor must refuse, not silently admit all.
    intercept[UnsupportedOperationException] {
      stream.latestOffset(ReplayOffset(0), ReadLimit.maxRows(10L))
    }
  }

  test("batch face reports real segment byte sizes to the optimizer") {
    val dir = tmp("graft-replay-stats")
    ReplaySource.stage(fixture.limit(500), dir, segments = 2)
    val expected = ReplaySource.listSegments(dir).map(_.bytes).sum
    assert(expected > 0)
    val df = spark.read.format("graft-replay").option("path", dir).load()
    // SupportsReportStatistics feeds DataSourceV2Relation.computeStats —
    // without it the relation defaults to 'unknown = huge' and AQE/join
    // planning can never broadcast a small replay log.
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes == BigInt(expected))
  }
}
