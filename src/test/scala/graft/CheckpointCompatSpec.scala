package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables
import graft.streaming.{CheckpointFiles, Streams}

/** A dedup stream's checkpoint survives a change of state configuration
  * in both directions: written under RocksDB snapshot checkpointing and
  * Spark's FileSystem-based checkpoint manager (the settings checkpoints
  * made before [[Streams.sessionConf]] turned on changelog checkpointing
  * and [[CheckpointFiles]]' `java.nio` writes), then resumed under
  * `sessionConf`, and the reverse.
  *
  * The query is StreamMain's: a file source, watermarked dedup on
  * event_id and a parquet sink. Each lifetime runs two batches. The
  * second lifetime's first file re-sends the first lifetime's last rows,
  * so only the restored state can suppress them. The watermark delay
  * outlives the input, so nothing is dropped as late or evicted. The
  * output must equal the batch twin (the distinct input rows) as a
  * multiset: a re-emit and a lost row both fail.
  */
class CheckpointCompatSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def snapshotSession(): SparkSession = {
    val s = Tables.configure(spark.newSession())
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set(CheckpointFiles.ConfKey, classOf[FileSystemBasedCheckpointFileManager].getName)
    s.conf.set(Streams.ChangelogCheckpointingKey, "false")
    s
  }

  private def currentSession(): SparkSession = Streams.sessionConf(Tables.configure(spark.newSession()))

  /** The fixture's events, one row per event_id, in event-time order. */
  private lazy val rows: Array[Row] =
    Tables.events(spark, TestSpark.sfDir).dropDuplicates("event_id")
      .orderBy("ts", "event_id").collect()

  private def multiset(df: DataFrame): Seq[String] =
    df.select("event_id", "ts", "user_id", "event_type", "value").collect().map(_.toString).sorted.toSeq

  /** Four files, two per lifetime, each lifetime on its own session. */
  private def migrate(first: SparkSession, second: SparkSession): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-compat").toString
    val (in, out, ckpt) = (s"$dir/in", s"$dir/out", s"$dir/ckpt")
    val schema = Tables.events(spark, TestSpark.sfDir).schema
    val quarter = rows.length / 4
    val files = Seq(
      rows.slice(0, quarter),
      rows.slice(quarter, 2 * quarter),
      rows.slice(2 * quarter - 20, 3 * quarter), // re-sends 20 rows of file 2
      rows.slice(3 * quarter, rows.length))
    def append(i: Int): Unit =
      spark.createDataFrame(java.util.Arrays.asList(files(i): _*), schema).coalesce(1)
        .write.mode("append").parquet(in)
    def lifetime(session: SparkSession, fileIds: Seq[Int]): Unit = {
      val events = Streams.events(session, Streams.FileStreamSource(in))
      val q = Streams.start(Streams.dedupWithinWatermark(events, "3650 days", Seq("event_id")),
        Streams.ParquetStreamSink(out, ckpt))
      try fileIds.foreach { i => append(i); q.processAllAvailable() }
      finally q.stop()
      assert(Streams.recentMetrics(q).map(_.droppedByWatermark).sum == 0L)
    }
    append(0)
    lifetime(first, Seq(1))
    lifetime(second, Seq(2, 3))
    val got = spark.read.parquet(out)
    val twin = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    assert(got.count() == rows.length, s"${got.count()} rows out of ${rows.length} events")
    assert(multiset(got) == multiset(twin))
  }

  test("a snapshot-mode checkpoint resumes under sessionConf") {
    migrate(snapshotSession(), currentSession())
  }

  test("a sessionConf checkpoint resumes in snapshot mode") {
    migrate(currentSession(), snapshotSession())
  }
}
