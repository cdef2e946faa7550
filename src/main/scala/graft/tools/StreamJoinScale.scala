package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.streaming.Streams

/** At-scale gate for the STREAM-STREAM watermarked interval join (r15
  * verdict item #1): Spark's `StreamingSymmetricHashJoinExec` — the one
  * major stateful operator class the fixture-scale parity specs covered
  * (StreamingParitySpec: inner / left-outer / full-outer / eviction /
  * out-of-order) but no scale artifact had ever exercised. The shape is
  * the KStream⋈KStream windowed join next to the reference's dedup
  * transform: purchases joined to same-user clicks in the preceding 30
  * minutes.
  *
  * Both faces run over the ×970 events mirror (97M rows) as the same
  * ts-range-partitioned file stream StreamScale uses, with a mid-stream
  * kill at `STREAMJOIN_CRASH_FRAC` of the input and a restart on the
  * same checkpoint — exactly-once across the crash, proven by exact
  * multiset parity against the batch twin join evaluated over the same
  * mirror:
  *
  *  - `ssjoin_inner`: every (purchase, click) pair with the same user and
  *    click.ts ∈ [purchase.ts − 30 min, purchase.ts]. Emitted on arrival;
  *    each side's state evicted once the watermark proves no partner can
  *    still arrive.
  *  - `ssjoin_left_outer`: additionally one null-padded row per purchase
  *    with NO in-interval click — emitted exactly once, only after the
  *    watermark passes the purchase's match window (the KStream leftJoin
  *    grace-expiry semantics). The sink must hold exactly one row per
  *    unmatched purchase even across the kill/replay seam.
  *  - `ssjoin_right_outer` / `ssjoin_full_outer` (r17, r16 verdict item
  *    #2): the click-padded and BOTH-padded faces under the same
  *    mid-stream kill — full_outer's double-sided null emission is the
  *    riskiest semantics (each unmatched row on EITHER side exactly once
  *    across the seam). Closure: every face's matched core ≡ inner, and
  *    full_outer's per-side null multisets ≡ the single-sided faces'.
  *
  * Sentinels: each side's watermark column sits ABOVE its event_type
  * filter, so the tail must carry one purchase AND one click to advance
  * both watermarks; outer-join null emission happens when a raised
  * watermark is APPLIED in a LATER batch, so TWO tail files are staged
  * (prepareTsOrderedInput's sentinelFiles contract). Sentinel rows carry
  * negative event_ids and are filtered from the stream side; the batch
  * twin reads the mirror directly and never sees them.
  *
  * State bound (the 100-TB claim): peak state ≈ rows inside the trailing
  * watermark+interval horizon (~2.5 h of stream ≪ 30 days), asserted as
  * peak_state_rows < rows/10. Watermark drops must be 0 (ordered
  * slices; 2 h delay ≫ slice skew). A cheap cross-face consistency check
  * closes the loop: the left-outer output minus its null rows must equal
  * the inner output.
  *
  * Run: STREAMJOIN_SRC (default target/mirror_x970ev), STREAMJOIN_OUT,
  * STREAMJOIN_SLICES (default 96), STREAMJOIN_CRASH_FRAC (default 0.5).
  * Emits one JSON line per face + a summary line; exit 1 on any failure.
  */
object StreamJoinScale {

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("STREAMJOIN_SRC", "target/mirror_x970ev")
    val out = sys.env.getOrElse("STREAMJOIN_OUT", "target/streamjoinscale")
    val slices = sys.env.getOrElse("STREAMJOIN_SLICES", "96").toInt
    val crashFrac = sys.env.getOrElse("STREAMJOIN_CRASH_FRAC", "0.5").toDouble
    require(crashFrac >= 0 && crashFrac < 1, s"STREAMJOIN_CRASH_FRAC $crashFrac outside [0, 1)")

    // Outer-join null emission depends on a batch RUNNING after the
    // watermark rises; pin the default so a conf drift can't silently
    // strand unmatched rows in state (see the sentinel note below).
    val spark = Streams.sessionConf(graft.Sessions.local(32,
      confs = Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "true")))
    Tables.configure(spark)

    val ev = Tables.events(spark, src)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val evCount = ev.count()
    val crashAtRows = (evCount * crashFrac).toLong

    val inputDir = s"$out/input"
    // THREE sentinel tail files: with maxFilesPerTrigger=2, two tails can
    // coalesce into ONE final micro-batch (96 slices + 2 = 49 two-file
    // batches — measured in the first r16 run), which would leave outer
    // null-emission to the implicit no-data batch alone. Three tails
    // guarantee at least one DATA batch strictly after the batch that
    // raised the watermark, at any slices/maxFiles alignment; the
    // explicit noDataMicroBatches conf above is belt and braces.
    StreamScale.prepareTsOrderedInput(ev, inputDir, slices, "event_id",
      StreamScale.eventSentinels(spark, maxTs,
        Seq(Seq((-1L, -1L, "purchase"), (-2L, -1L, "click")),
          Seq((-3L, -1L, "purchase"), (-4L, -1L, "click")),
          Seq((-5L, -1L, "purchase"), (-6L, -1L, "click")))))

    val schema = ev.schema
    def stream(): DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 2).parquet(inputDir)

    def joined(st: DataFrame, joinType: String): DataFrame =
      Streams.intervalJoin(
        st.where(col("event_type") === "purchase"),
        st.where(col("event_type") === "click"),
        "user_id", before = "30 minutes", delay = "2 hours", joinType = joinType)
        .select(col("l.event_id").as("p_id"), col("r.event_id").as("c_id"))

    def batchTwin(joinType: String): DataFrame =
      ev.where(col("event_type") === "purchase").alias("l")
        .join(ev.where(col("event_type") === "click").alias("r"),
          col("l.user_id") === col("r.user_id") &&
            col("r.ts") >= col("l.ts") - expr("INTERVAL 30 minutes") &&
            col("r.ts") <= col("l.ts"),
          joinType)
        .select(col("l.event_id").as("p_id"), col("r.event_id").as("c_id"))

    // Sentinel rows carry NEGATIVE event_ids on whichever side they
    // materialize — including as one half of a null-padded outer row —
    // while REAL null-padded rows must survive: null-preserving filter,
    // not `p_id >= 0` (whose null comparison silently drops the
    // right_outer/full_outer null-left rows under test).
    val nonSentinel = (col("p_id").isNull || col("p_id") >= 0L) &&
      (col("c_id").isNull || col("c_id") >= 0L)

    case class Face(key: String, diff: StreamScale.Diff, run: StreamScale.RunStats,
        nullLeft: Long, nullRows: Long, wallSec: Double) {
      def stateBounded: Boolean = run.peakStateRows < evCount / 10
    }

    def runFace(key: String, joinType: String): Face = {
      val t0 = System.nanoTime()
      val outDir = s"$out/$key"
      val st = StreamScale.killAndRestart(spark, () => joined(stream(), joinType),
        outDir, s"$out/ckpt_$key", crashAtRows)
      val streamed = spark.read.parquet(outDir).where(nonSentinel).localCheckpoint()
      val d = StreamScale.diff(streamed, batchTwin(joinType).localCheckpoint())
      val nullLeft = streamed.where(col("p_id").isNull).count()
      val nullRows = streamed.where(col("c_id").isNull).count()
      Face(key, d, st, nullLeft, nullRows, (System.nanoTime() - t0) / 1e9)
    }

    // r17 (r16 verdict item #2): the remaining outer faces join the gate.
    // full_outer is the semantically riskiest — null padding on BOTH
    // sides, each emitted exactly once on watermark expiry, across the
    // same mid-stream kill; right_outer pads the click side.
    val faceDefs = Seq("ssjoin_inner" -> "inner", "ssjoin_left_outer" -> "left_outer",
      "ssjoin_right_outer" -> "right_outer", "ssjoin_full_outer" -> "full_outer")
    val wanted = sys.env.get("STREAMJOIN_FACES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val faces = faceDefs.filter(fd => wanted.forall(_.contains(fd._2)))
      .map { case (k, jt) => runFace(k, jt) }
    faces.foreach { f =>
      val (d, st) = (f.diff, f.run)
      println(s"""{"key":"${f.key}","parity":${d.equal},"state_bounded":${f.stateBounded},""" +
        s""""rows_stream":${d.nA},"rows_batch":${d.nB},""" +
        s""""only_stream":${d.onlyA},"only_batch":${d.onlyB},""" +
        s""""null_padded_left_rows":${f.nullLeft},"null_padded_rows":${f.nullRows},""" +
        s""""peak_state_rows":${st.peakStateRows},"peak_state_mem_mb":${st.peakStateBytes / 1000000},""" +
        s""""dropped_by_watermark":${st.droppedByWatermark},"batches":${st.batches},${st.phasesJson},""" +
        s""""crash_injected":${st.crashed},"rows_before_kill":${st.rowsBeforeKill},""" +
        s""""wall_sec":${f"${f.wallSec}%.1f"}}""")
    }
    // Cross-face closure over the MATCHED core: every outer face minus
    // its null-padded rows must equal the inner face, and full_outer's
    // per-side null-padded row multisets must equal the single-sided
    // faces' (all read back from the crash-seamed sinks, sentinels
    // filtered null-preservingly).
    val ranKeys = faces.map(_.key).toSet
    def sink(key: String): DataFrame =
      spark.read.parquet(s"$out/$key").where(nonSentinel).localCheckpoint()
    val crossChecks: Seq[(String, Boolean)] =
      if (!ranKeys.contains("ssjoin_inner")) Seq.empty
      else {
        val inner = sink("ssjoin_inner")
        def matchedEqInner(key: String): Option[(String, Boolean)] =
          if (!ranKeys.contains(key)) None
          else Some(s"${key}_matched_equals_inner" -> StreamScale.diff(
            sink(key).where(col("p_id").isNotNull && col("c_id").isNotNull), inner).equal)
        val sides: Seq[(String, Boolean)] =
          if (!ranKeys.contains("ssjoin_full_outer")) Seq.empty
          else {
            val full = sink("ssjoin_full_outer")
            val leftNulls = Option.when(ranKeys.contains("ssjoin_left_outer"))(
              "full_right_nulls_equal_left_outer" -> StreamScale.diff(
                full.where(col("c_id").isNull),
                sink("ssjoin_left_outer").where(col("c_id").isNull)).equal)
            val rightNulls = Option.when(ranKeys.contains("ssjoin_right_outer"))(
              "full_left_nulls_equal_right_outer" -> StreamScale.diff(
                full.where(col("p_id").isNull),
                sink("ssjoin_right_outer").where(col("p_id").isNull)).equal)
            Seq(leftNulls, rightNulls).flatten
          }
        Seq("ssjoin_left_outer", "ssjoin_right_outer", "ssjoin_full_outer")
          .flatMap(matchedEqInner) ++ sides
      }
    val crossOk = crossChecks.forall(_._2)
    val crashMissed = crashFrac > 0 && faces.exists(!_.run.crashed)
    val pass = faces.forall(f => f.diff.equal && f.stateBounded && f.run.droppedByWatermark == 0) &&
      crossOk && !crashMissed
    val crossJson = crossChecks.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""{"stream_join":{"src":${graft.Verify.jsonString(src)},"rows":$evCount,"slices":$slices,""" +
      s""""crash_frac":$crashFrac,"crash_missed":$crashMissed,""" +
      s"""$crossJson${if (crossJson.nonEmpty) "," else ""}"pass":$pass}}""")
    spark.stop()
    if (!pass) sys.exit(1)
  }
}
