package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams
import graft.streaming.Streams.Event

/** Crash-injection exactly-once for the newer stateful processors
  * (round-12 verdict item #6) — attribution, funnel, cohort, transitions.
  * StateProviderParitySpec pins graceful stop/restart for dedup; this
  * spec pins the MID-BATCH DEATH seam for the analytics processors:
  *
  * Per micro-batch, Structured Streaming writes `offsets/N` (WAL), runs
  * the batch (sink write + state store upload), then writes `commits/N`.
  * Deleting `commits/N` after a batch ran reproduces the crash window
  * "died after the sink/state work, before the commit marker" — the
  * worst seam, because restart MUST re-execute batch N (same WAL
  * offsets, state restored to version N−1 from the RocksDB checkpoint)
  * and the file sink must recognize the batch id in its own
  * `_spark_metadata` transaction log and skip the double write.
  *
  * Each test asserts the post-recovery output equals the batch twin on
  * the full input as a MULTISET (sorted-row equality, not set equality)
  * — a lost row (state under-recovered) and a duplicated row (sink
  * re-committed) both fail. All under the state configuration of
  * [[Streams.sessionConf]], which every streaming main runs: the RocksDB
  * provider with changelog checkpointing. CheckpointCompatSpec covers
  * snapshot checkpointing.
  */
class CrashRecoverySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val Rocks =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Remove the newest commit marker: the query now looks exactly like a
    * driver that died between finishing batch N and recording it.
    */
  private def injectCrash(ckpt: String): Long = {
    val dir = new java.io.File(s"$ckpt/commits")
    val files = dir.listFiles().filter(_.getName.forall(_.isDigit))
    assert(files.nonEmpty, s"no commit markers under $dir")
    val latest = files.maxBy(_.getName.toLong)
    val id = latest.getName.toLong
    assert(latest.delete(), s"could not delete $latest")
    // A marker written through Hadoop's ChecksumFileSystem has a `.N.crc`
    // sibling, and a stale one makes the recovered query's re-write of
    // commits/N fail with FileAlreadyExistsException ("multiple
    // streaming queries") — a real crash loses both files together.
    // Markers written through CheckpointFiles have none.
    val crc = new java.io.File(dir, s".$id.crc")
    if (crc.exists()) assert(crc.delete(), s"could not delete $crc")
    id
  }

  /** Two lifetimes with a lost commit between them: lifetime 1 processes
    * b1 then b2 (two committed batches), the crash erases batch 2's
    * commit marker, lifetime 2 recovers from the same checkpoint —
    * re-executing b2 against restored state — then processes
    * b3. Returns the final parquet output.
    */
  private def crashRun(name: String, stream: Dataset[Event] => DataFrame,
      b1: Seq[Event], b2: Seq[Event], b3: Seq[Event]): DataFrame =
    withConf(ProviderKey, Rocks) {
      val ckpt = tmp(s"graft-crash-$name-ckpt")
      val out = tmp(s"graft-crash-$name-out")
      val ms1 = MemoryStream[Event](spark)
      val q1 = Streams.start(stream(ms1.toDS()), Streams.ParquetStreamSink(out, ckpt))
      try {
        ms1.addData(b1); q1.processAllAvailable()
        ms1.addData(b2); q1.processAllAvailable()
      } finally q1.stop()
      val lost = injectCrash(ckpt)
      assert(lost == 1L, s"expected to lose batch 1's commit, lost $lost")
      // Fresh source pre-seeded with the processed prefix in the SAME
      // addData granularity, so the WAL offsets of the replayed batch
      // resolve to exactly b2's rows.
      val ms2 = MemoryStream[Event](spark)
      ms2.addData(b1); ms2.addData(b2)
      val q2 = Streams.start(stream(ms2.toDS()), Streams.ParquetStreamSink(out, ckpt))
      try { ms2.addData(b3); q2.processAllAvailable() } finally q2.stop()
      spark.read.parquet(out)
    }

  /** Multiset equality via sorted row renders. */
  private def multiset(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The driver events fixture in event-time order, split in three —
    * the seam-heavy shape for the changelog processors whose batch twin
    * is a graded key over the same table.
    */
  private lazy val fixtureThirds: (Seq[Event], Seq[Event], Seq[Event]) = {
    val all = graft.engine.Tables.events(spark, TestSpark.sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"), col("value"))
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    val (a, rest) = all.splitAt(all.size / 3)
    val (b, c) = rest.splitAt(rest.size / 3)
    (a, b, c)
  }

  test("attribution survives a lost commit: credits exactly-once vs batch twin") {
    // Touches in early batches credit purchases in later ones, so the
    // replayed batch both READS recovered state and would double-emit
    // credit 7 if the sink re-committed.
    val b1 = Seq(
      Event(1L, 1L, "view", ts("2024-03-01 10:00:00"), 1.0),
      Event(2L, 2L, "click", ts("2024-03-01 11:00:00"), 1.0),
      Event(3L, 1L, "click", ts("2024-03-02 10:00:00"), 1.0),
      Event(6L, 2L, "purchase", ts("2024-03-03 09:00:00"), 1.0))
    val b2 = Seq(
      Event(4L, 3L, "view", ts("2024-03-03 12:00:00"), 1.0),
      Event(7L, 1L, "purchase", ts("2024-03-04 10:00:00"), 1.0))
    val b3 = Seq(
      Event(8L, 3L, "purchase", ts("2024-03-05 10:00:00"), 1.0),
      Event(9L, 1L, "purchase", ts("2024-03-05 11:00:00"), 1.0),
      Event(10L, 2L, "purchase", ts("2024-03-12 12:00:00"), 1.0)) // >7d: no credit
    val got = crashRun("attr", ev => Streams.attributionStream(ev).toDF(), b1, b2, b3)
      .select("purchase_id", "user_id", "touch_id", "touch_type", "t_ts", "p_ts")
    val twin = graft.engine.EventAnalytics.attribution((b1 ++ b2 ++ b3).toDF())
      .select("purchase_id", "user_id", "touch_id", "touch_type", "t_ts", "p_ts")
    assert(multiset(got) == multiset(twin))
    assert(got.select("purchase_id").as[Long].collect().sorted.toSeq ==
      Seq(6L, 7L, 8L, 9L))
  }

  test("transitions survive a lost commit: changelog aggregates to the batch matrix") {
    val (b1, b2, b3) = fixtureThirds
    val got = crashRun("trans", ev => Streams.transitionStream(ev).toDF(), b1, b2, b3)
      .groupBy(col("from_type"), col("to_type")).agg(count(lit(1)).as("n"))
    val twin = SparkEntry.queries("q_event_transitions")(spark, TestSpark.sfDir)
      .select(col("from_type"), col("to_type"), col("n"))
    // Count equality is the dup/loss detector here: a re-committed
    // replay inflates cells, an under-recovered last-type loses the
    // seam transition.
    assert(multiset(got) == multiset(twin))
  }

  test("cohort retention survives a lost commit: (user, offset) emitted exactly once") {
    val (b1, b2, b3) = fixtureThirds
    val log = crashRun("cohort", ev => Streams.cohortRetentionStream(ev).toDF(), b1, b2, b3)
    // Exactly-once on the changelog itself: no (user, offset) row twice.
    assert(log.count() ==
      log.select("user_id", "day_offset").distinct().count())
    val got = log.groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
    val twin = SparkEntry.queries("q_cohort_retention")(spark, TestSpark.sfDir)
    assert(multiset(got) == multiset(twin.select(got.columns.map(col): _*)))
  }

  test("funnel survives a lost commit: version rows unique, snapshot equals batch twin") {
    val b1 = Seq(
      Event(1L, 1L, "view", ts("2024-01-01 10:00:00"), 0),
      Event(2L, 2L, "view", ts("2024-01-01 10:10:00"), 0),
      Event(3L, 1L, "click", ts("2024-01-01 11:00:00"), 0))
    val b2 = Seq(
      Event(4L, 2L, "purchase", ts("2024-01-01 11:30:00"), 0), // no click yet: blocked
      Event(5L, 1L, "purchase", ts("2024-01-01 12:00:00"), 0))
    val b3 = Seq(
      Event(6L, 2L, "click", ts("2024-01-01 12:30:00"), 0),
      Event(7L, 2L, "purchase", ts("2024-01-01 13:00:00"), 0))
    val log = crashRun("funnel", ev => Streams.funnelStream(ev).toDF(), b1, b2, b3)
    // Exactly-once on the changelog: per-user versions never repeat.
    assert(log.count() == log.select("user_id", "version").distinct().count())
    val cur = log
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(desc("version"))))
      .where(col("rn") === 1)
      .select("user_id", "t1", "t2", "t3")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val dir = tmp("graft-crash-funnel-twin")
    (b1 ++ b2 ++ b3).toDF().select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val twin = graft.engine.EventAnalytics.funnelSteps(
      graft.engine.Tables.events(spark, dir), windowHours = 24)
      .collect().map { r =>
        def t(i: Int) = if (r.isNullAt(i)) -1L else r.getTimestamp(i).getTime
        r.getLong(0) -> (t(1), t(2), t(3))
      }.toMap
    assert(cur == twin, s"stream $cur vs batch $twin")
  }
}
