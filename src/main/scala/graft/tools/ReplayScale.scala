package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.engine.{Dedup, Tables}
import graft.streaming.{ReplaySource, Streams}

/** FIFTH-decade gate for the `graft-replay` DataSourceV2 source (round
  * 15): the new source is not just unit-tested — it carries the same 97M
  * events the file-source streaming gate does, with the same mid-stream
  * kill. The ×970 events mirror is staged as replay segments
  * (distributed text write + manifest renames, `ReplaySource.stage`),
  * then streamed through `readStream.format("graft-replay")` →
  * `dropDuplicatesWithinWatermark` → parquet sink; the query is killed
  * once ~half the rows are ingested (listener-counted) and restarted on
  * its checkpoint — the replayed micro-batch re-plans from OUR offset
  * log, so byte-identical rows reach the sink's commit log, which must
  * swallow the duplicate write.
  *
  * Pass = the post-restart survivor key set EQUALS the batch first-wins
  * key set over the same mirror (7,275,000 keys at ×970), zero watermark
  * drops (the 40-day delay covers the whole 30-day stream, so segment
  * order — round-robin, not time order — cannot drop anything), and
  * peak state ≈ key cardinality (the KTable bound), not the event count.
  *
  * Run: REPLAY_SRC (default target/mirror_x970ev), REPLAY_OUT (default
  * target/replayscale), REPLAY_SEGMENTS (default 96), REPLAY_CRASH_FRAC
  * (default 0.5). Emits one JSON line, exit 1 on any failure.
  */
object ReplayScale {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("REPLAY_SRC", "target/mirror_x970ev")
    val out = sys.env.getOrElse("REPLAY_OUT", "target/replayscale")
    val segments = sys.env.getOrElse("REPLAY_SEGMENTS", "96").toInt
    val crashFrac = sys.env.getOrElse("REPLAY_CRASH_FRAC", "0.5").toDouble

    val spark = Streams.sessionConf(graft.Sessions.local(32))
    Tables.configure(spark)

    val ev = Tables.events(spark, src)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
    val total = ev.count()

    val logDir = s"$out/log"
    if (!new java.io.File(s"$logDir/_GRAFT_REPLAY_STAGED").isFile) {
      val staged = ReplaySource.stage(ev, logDir, segments)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(logDir, "_GRAFT_REPLAY_STAGED"),
        s"segments=${staged.size} rows=$total")
    }

    val outDir = s"$out/dedup"; val ckpt = s"$out/ckpt_dedup"
    Seq(outDir, ckpt).foreach(p =>
      StreamScale.Sources.deleteRecursively(new java.io.File(p)))

    val tracker = new StreamScale.ProgressTracker
    spark.streams.addListener(tracker)
    val t0 = System.nanoTime()
    def start() = Streams.dedupWithinWatermark(
        Streams.events(spark, Streams.ReplayStreamSource(logDir, Some(2))),
        "40 days", Seq("user_id", "event_type"))
      .select(col("user_id"), col("event_type"))
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    val crashWanted = crashFrac > 0
    var crashed = false
    var rowsBeforeKill = 0L
    try {
      val killAt = (total * crashFrac).toLong
      if (killAt > 0) {
        val q1 = start()
        while (q1.isActive && tracker.rawIngested < killAt) Thread.sleep(500)
        crashed = q1.isActive
        q1.stop()
        tracker.fold(q1.recentProgress.toSeq)
        rowsBeforeKill = tracker.rawIngested
      }
      val q = start()
      q.awaitTermination()
      tracker.fold(q.recentProgress.toSeq)
    } finally spark.streams.removeListener(tracker)

    val progresses = tracker.progresses
    val peakRows = progresses.flatMap(_.stateOperators.map(_.numRowsTotal)).maxOption.getOrElse(0L)
    val peakMem = progresses.flatMap(_.stateOperators.map(_.memoryUsedBytes)).maxOption.getOrElse(0L)
    val dropped = progresses.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    val batches = progresses.count(_.numInputRows > 0)

    val streamed = spark.read.parquet(outDir)
    val batch = Dedup.queries("q_dedup_first_wins")(spark, src)
      .select(col("user_id"), col("event_type")).distinct().localCheckpoint()
    val onlyS = streamed.exceptAll(batch).count()
    val onlyB = batch.exceptAll(streamed).count()
    val (nS, nB) = (streamed.count(), batch.count())
    val wall = (System.nanoTime() - t0) / 1e9
    // A crash is required only when one was requested (REPLAY_CRASH_FRAC=0
    // must be able to pass); a requested-but-missed kill (stream drained
    // before the poll reached killAt) is distinguishable from a parity
    // break via crash_missed.
    val crashMissed = crashWanted && !crashed
    val pass = onlyS == 0 && onlyB == 0 && nS == nB && dropped == 0 && !crashMissed
    println(s"""{"replay_scale":{"src":"$src","segments":$segments,"rows":$total,""" +
      s""""crash_injected":$crashed,"crash_missed":$crashMissed,"rows_before_kill":$rowsBeforeKill,""" +
      s""""survivors_stream":$nS,"survivors_batch":$nB,"only_stream":$onlyS,"only_batch":$onlyB,""" +
      s""""peak_state_rows":$peakRows,"peak_state_mem_mb":${peakMem / 1000000},""" +
      s""""dropped_by_watermark":$dropped,"batches":$batches,""" +
      s""""wall_sec":${f"$wall%.1f"},"pass":$pass}}""")
    spark.stop()
    if (!pass) sys.exit(1)
  }
}
