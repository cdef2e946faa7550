package graft.tools

import org.apache.spark.sql.functions._

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

    val outDir = s"$out/dedup"
    val t0 = System.nanoTime()
    val st = StreamScale.killAndRestart(spark,
      () => Streams.dedupWithinWatermark(
          Streams.events(spark, Streams.ReplayStreamSource(logDir, Some(2))),
          "40 days", Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type")),
      outDir, s"$out/ckpt_dedup", (total * crashFrac).toLong)

    val batch = Dedup.queries("q_dedup_first_wins")(spark, src)
      .select(col("user_id"), col("event_type")).distinct().localCheckpoint()
    val d = StreamScale.diff(spark.read.parquet(outDir), batch)
    val wall = (System.nanoTime() - t0) / 1e9
    // A crash is required only when one was requested (REPLAY_CRASH_FRAC=0
    // must be able to pass); a requested-but-missed kill (stream drained
    // before the poll reached killAt) is distinguishable from a parity
    // break via crash_missed.
    val crashMissed = crashFrac > 0 && !st.crashed
    val pass = d.equal && st.droppedByWatermark == 0 && !crashMissed
    println(s"""{"replay_scale":{"src":${graft.Verify.jsonString(src)},"segments":$segments,"rows":$total,""" +
      s""""crash_injected":${st.crashed},"crash_missed":$crashMissed,"rows_before_kill":${st.rowsBeforeKill},""" +
      s""""survivors_stream":${d.nA},"survivors_batch":${d.nB},"only_stream":${d.onlyA},"only_batch":${d.onlyB},""" +
      s""""peak_state_rows":${st.peakStateRows},"peak_state_mem_mb":${st.peakStateBytes / 1000000},""" +
      s""""dropped_by_watermark":${st.droppedByWatermark},"batches":${st.batches},${st.phasesJson},""" +
      s""""wall_sec":${f"$wall%.1f"},"pass":$pass}}""")
    spark.stop()
    if (!pass) sys.exit(1)
  }
}
