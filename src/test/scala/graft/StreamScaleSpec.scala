package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Sources, Tables}
import graft.streaming.Streams
import graft.tools.StreamScale

/** The scale gates' kill-and-restart runner at fixture scale: a
  * ts-ordered file stream through `dedupWithinWatermark`, run clean and
  * with a mid-stream kill, must leave the batch twin's survivor multiset
  * both times.
  */
class StreamScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("killAndRestart: clean and killed dedup runs both equal the batch twin") {
    val dir = java.nio.file.Files.createTempDirectory("graft-runner").toString
    try {
      val ev = Tables.events(spark, TestSpark.sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"), col("value"))
      StreamScale.prepareTsOrderedInput(ev, s"$dir/input", 24, "event_id")
      val nRows = ev.count()
      // A 40-day delay covers the fixture's span: nothing is evicted, so
      // the survivors are exactly the first-wins key set.
      def query() = Streams.dedupWithinWatermark(
          spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1)
            .parquet(s"$dir/input"),
          "40 days", Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type"))
      val twin = ev.select(col("user_id"), col("event_type")).distinct()
      def run(crashAtRows: Long) = {
        val st = StreamScale.killAndRestart(spark, () => query(), s"$dir/out", s"$dir/ckpt",
          crashAtRows)
        (st, StreamScale.diff(spark.read.parquet(s"$dir/out"), twin))
      }

      val (clean, cleanDiff) = run(0L)
      assert(cleanDiff.equal, cleanDiff)
      assert(!clean.crashed && clean.rowsBeforeKill == 0L && clean.droppedByWatermark == 0L)
      assert(clean.batches > 1 && clean.peakStateRows == cleanDiff.nB)

      val (killed, killedDiff) = run(nRows / 2)
      assert(killedDiff.equal, killedDiff)
      assert(killed.droppedByWatermark == 0L)
      assume(killed.crashed, "the stream drained before the 500 ms poll reached the kill point")
      assert(killed.rowsBeforeKill >= nRows / 2)
    } finally Sources.deleteRecursively(new java.io.File(dir))
  }
}
