package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.engine.{Dedup, Sources, Tables, Windowed}
import graft.streaming.Streams

/** Fourth-decade STREAMING gate (round-12 verdict item #5): run the
  * watermarked streaming processors over the ×97 events mirror (97M
  * rows) as a file-source stream, assert BATCH-TWIN PARITY on the full
  * result multiset, and measure that state stays bounded under watermark
  * eviction — the claim "state is evicted, nothing buffers unbounded"
  * proven with numbers at ~sf10 instead of asserted at sf0.1.
  *
  * Input shape: the mirror's events are re-written range-partitioned by
  * ts into `Slices` part files whose modification times are forced into
  * ascending ts order — a time-partitioned ingest directory, the shape a
  * production file stream actually has. The file source then delivers
  * near-chronological micro-batches (maxFilesPerTrigger bounds each),
  * so a finite watermark delay drops nothing (asserted: watermark drop
  * counter must stay 0) while still evicting state behind the front.
  *
  * Window flush: append-mode windowed aggregates only emit CLOSED
  * windows, so a SENTINEL event 7 days past the real max ts is appended
  * as the last file — it pushes the watermark past every real window.
  * The sentinel's own rows (user_id = -1 / its lone window) are filtered
  * from both sides before comparing.
  *
  * Parity is exact multiset equality (exceptAll both ways == 0): the
  * sum_value columns are integer-cents exact (Relational.sumValue2), so
  * streaming partial order cannot drift them — the money-sum discipline
  * is what MAKES full-column streaming parity assertable at this scale.
  *
  * Round-14 extension (r13 verdict item #7): the six remaining
  * transformWithState processors — top-k, profile, funnel, cohort,
  * transitions, attribution — run the same ×97 file stream against
  * their batch twins (the StreamingParitySpec / EventAnalyticsSpec
  * contracts, at 97M events instead of fixture scale), and ONE
  * mid-stream crash-injection: the session-window query is stopped at
  * ~half the stream (≈50M events), restarted on the same checkpoint,
  * and must still hit exact batch parity — exactly-once across the
  * kill, proven by the file sink's commit log.
  *
  * Run: STREAM_SRC (default target/mirror_x97), STREAM_OUT (default
  * target/streamscale), STREAM_SLICES (default 48), STREAM_KEYS
  * (subset). Emits one JSON line per processor + a summary line shaped
  * like the other gate artifacts.
  */
object StreamScale {

  case class Result(key: String, diff: Diff, run: RunStats, wallSec: Double)

  /** Progress tracking via listener (r14 ADVICE): `recentProgress` is a
    * ring buffer capped at spark.sql.streaming.numRecentProgressUpdates
    * (default 100), so a >100-microbatch run (the ×970 slices) silently
    * undercounts ingested rows — shifting or skipping the crash-inject
    * kill point — and loses early state peaks; concatenating two runs'
    * buffers across a restart also double-counts replayed batches'
    * numRowsDroppedByWatermark. The listener sees EVERY progress event;
    * keying by batchId keeps exactly one progress per batch across the
    * restart (the replay overwrites the killed run's row). Listener
    * delivery is async, so after termination the caller folds the
    * query's own recentProgress tail in (same objects, same batchIds —
    * idempotent under the map).
    */
  final class ProgressTracker extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val byBatch = new java.util.concurrent.ConcurrentHashMap[
      java.lang.Long, org.apache.spark.sql.streaming.StreamingQueryProgress]()
    private val raw = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      raw.addAndGet(e.progress.numInputRows)
      byBatch.put(e.progress.batchId, e.progress)
    }
    /** Cumulative input rows across all observed batches (incl. replays) —
      * the crash-inject kill-point counter.
      */
    def rawIngested: Long = raw.get()
    def fold(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Unit =
      ps.foreach(p => byBatch.put(p.batchId, p))
    def progresses: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
      import scala.jdk.CollectionConverters._
      byBatch.values.asScala.toSeq.sortBy(_.batchId)
    }
  }

  /** What one [[killAndRestart]] run observed. Peaks, drops and the
    * batch phases come from [[Streams.QueryMetrics]], one progress per
    * batch id; each phase is summed over the batches that read input.
    */
  final case class RunStats(crashed: Boolean, rowsBeforeKill: Long, peakStateRows: Long,
      peakStateBytes: Long, droppedByWatermark: Long, batches: Long, triggerMs: Long,
      addBatchMs: Long, walCommitMs: Long, commitOffsetsMs: Long, stateCommitMs: Long) {
    /** The phase totals as one JSON member, for the gates' result lines. */
    def phasesJson: String =
      s""""phase_ms":{"trigger":$triggerMs,"add_batch":$addBatchMs,"wal_commit":$walCommitMs,""" +
        s""""commit_offsets":$commitOffsetsMs,"state_commit":$stateCommitMs}"""
  }

  /** The scale gates' exactly-once seam: stream `query()` into a parquet
    * sink on fresh `outDir`/`ckpt` under Trigger.AvailableNow; once the
    * listener has counted `crashAtRows` input rows (0 = no kill) stop the
    * query, restart it on the SAME checkpoint + sink and drain it. The
    * sink's commit log must keep the result exactly-once across the kill —
    * the caller's parity check is the proof. `crashed` is false when the
    * stream finished before the kill point (the poll runs every 500 ms).
    */
  def killAndRestart(spark: SparkSession, query: () => DataFrame, outDir: String,
      ckpt: String, crashAtRows: Long): RunStats = {
    Seq(outDir, ckpt).foreach(p => Sources.deleteRecursively(new java.io.File(p)))
    def start() = Streams.start(query(), Streams.ParquetStreamSink(outDir, ckpt),
      trigger = Some(Trigger.AvailableNow()))
    val tracker = new ProgressTracker
    spark.streams.addListener(tracker)
    var crashed = false
    var rowsBeforeKill = 0L
    try {
      if (crashAtRows > 0) {
        val q1 = start()
        while (q1.isActive && tracker.rawIngested < crashAtRows) Thread.sleep(500)
        crashed = q1.isActive
        q1.stop()
        tracker.fold(q1.recentProgress.toSeq)
        rowsBeforeKill = tracker.rawIngested
      }
      val q = start()
      q.awaitTermination()
      tracker.fold(q.recentProgress.toSeq)
    } finally spark.streams.removeListener(tracker)
    val ms = tracker.progresses.map(Streams.toMetrics)
    val data = ms.filter(_.numInputRows > 0)
    def total(f: Streams.QueryMetrics => Long) = data.map(f).sum
    RunStats(crashed, rowsBeforeKill, ms.map(_.stateRows).maxOption.getOrElse(0L),
      ms.map(_.stateMemoryBytes).maxOption.getOrElse(0L), ms.map(_.droppedByWatermark).sum,
      data.size.toLong, total(_.triggerExecutionMs), total(_.addBatchMs), total(_.walCommitMs),
      total(_.commitOffsetsMs), total(_.stateCommitMs))
  }

  /** Two-way multiset difference: rows only in `a`, rows only in `b`
    * (exceptAll each way) and both sizes.
    */
  final case class Diff(onlyA: Long, onlyB: Long, nA: Long, nB: Long) {
    def equal: Boolean = onlyA == 0 && onlyB == 0 && nA == nB
  }

  def diff(a: DataFrame, b: DataFrame): Diff =
    Diff(a.exceptAll(b).count(), b.exceptAll(a).count(), a.count(), b.count())

  /** Stage `frame` (which has a `ts` column) as a ts-range-partitioned
    * ingest directory whose file mtimes force the file source to replay
    * near-chronologically (`tieBreak` orders rows within one ts), plus
    * `tails` — each becomes one `zz-sentinel-NN.parquet` file, mtime'd
    * after every slice and after each other. One sentinel file flushes
    * windowed aggregates; stream-stream OUTER joins need a tail BATCH
    * strictly after the one that raised the watermark, because a raised
    * watermark is only APPLIED (state evicted, nulls emitted) while
    * processing a later batch — and the file source coalesces up to
    * maxFilesPerTrigger tail FILES into one batch, so callers must stage
    * enough tail files that one lands in a later batch at their trigger
    * setting (StreamJoinScale stages three for maxFilesPerTrigger = 2).
    * Idempotent via the `_GRAFT_STREAM_INPUT` marker, which records the
    * LAYOUT — slice and sentinel counts plus the caller's `layout`
    * suffix — so a rerun with a different layout rebuilds instead of
    * silently reusing stale input.
    */
  def prepareTsOrderedInput(frame: DataFrame, inputDir: String, slices: Int,
      tieBreak: String, tails: Seq[DataFrame] = Nil, layout: String = ""): Unit = {
    val markerContent = s"slices=$slices;sentinels=${tails.length}$layout"
    val marker = java.nio.file.Paths.get(inputDir, "_GRAFT_STREAM_INPUT")
    if (java.nio.file.Files.isRegularFile(marker) &&
      java.nio.file.Files.readString(marker) == markerContent) return
    Sources.deleteRecursively(new java.io.File(inputDir))
    frame.repartitionByRange(slices, col("ts"), col(tieBreak)).write.parquet(inputDir)
    val scratchDir = s"${inputDir}_sentinel"
    val sentTargets = tails.zipWithIndex.map { case (tail, i) =>
      tail.coalesce(1).write.mode("overwrite").parquet(scratchDir)
      val part = new java.io.File(scratchDir).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val target = new java.io.File(inputDir, f"zz-sentinel-$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, target.toPath)
      Sources.deleteRecursively(new java.io.File(scratchDir))
      target
    }
    // Force file mtimes into ts order: range partition i holds the i-th
    // ts slice, and the file source replays by (mtime, path).
    val parts = new java.io.File(inputDir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val base = System.currentTimeMillis() - (parts.length + 2 * sentTargets.length + 4) * 4000L
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(base + i * 2000L) }
    sentTargets.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(base + (parts.length + 2 * (i + 1)) * 2000L)
    }
    java.nio.file.Files.writeString(marker, markerContent)
  }

  /** Sentinel tails for an events stream: file i holds its (event_id,
    * user_id, event_type) rows at `7·(i+1)` days past `maxTs`, value 0.
    */
  def eventSentinels(spark: SparkSession, maxTs: java.sql.Timestamp,
      files: Seq[Seq[(Long, Long, String)]]): Seq[DataFrame] = {
    import spark.implicits._
    files.zipWithIndex.map { case (rows, i) =>
      val ts = new java.sql.Timestamp(maxTs.getTime + 7L * (i + 1) * 86400 * 1000)
      rows.map { case (eid, uid, etype) => (eid, uid, etype, ts, 0.0) }
        .toDF("event_id", "user_id", "event_type", "ts", "value")
    }
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("STREAM_SRC", "target/mirror_x97")
    val out = sys.env.getOrElse("STREAM_OUT", "target/streamscale")
    val slices = sys.env.getOrElse("STREAM_SLICES", "48").toInt
    val only = sys.env.get("STREAM_KEYS").map(_.split(",").map(_.trim).toSet)
    def wanted(k: String) = only.forall(_.contains(k))
    // r14 verdict item #3 — crash-injection BREADTH: with
    // STREAM_CRASH_FRAC > 0 every processor below (not just the session
    // face) is killed once that fraction of the stream has been ingested
    // and restarted on its own checkpoint; parity after the restart is
    // the exactly-once proof per processor. 0 (default) keeps the r14
    // behavior where only s_session_crash_x97 injects.
    val crashFrac = sys.env.getOrElse("STREAM_CRASH_FRAC", "0").toDouble
    require(crashFrac >= 0 && crashFrac < 1, s"STREAM_CRASH_FRAC $crashFrac outside [0, 1)")

    val spark = Streams.sessionConf(graft.Sessions.local(32))
    Tables.configure(spark)

    val inputDir = s"$out/input"
    val ev = Tables.events(spark, src)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    prepareTsOrderedInput(ev, inputDir, slices, "event_id",
      eventSentinels(spark, maxTs, Seq(Seq((-1L, -1L, "sentinel")))))

    val schema = ev.schema
    def stream(): DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 2).parquet(inputDir)

    val evCount = ev.count()
    val globalCrashRows = (evCount * crashFrac).toLong

    def run(key: String, streaming: DataFrame => DataFrame,
        batchTwin: () => DataFrame, project: Seq[String],
        dropSentinel: DataFrame => DataFrame,
        crashAtRows: Long = globalCrashRows): Result = {
      val t0 = System.nanoTime()
      val outDir = s"$out/$key"
      // Crash injection (crashAtRows > 0, ≈ half the events): the kill
      // point is counted by the listener on every batch, not the capped
      // recentProgress ring buffer (r14 ADVICE).
      val st = killAndRestart(spark, () => streaming(stream()), outDir, s"$out/ckpt_$key",
        crashAtRows)
      if (crashAtRows > 0)
        println(s"""{"key":"$key","crash_injected":${st.crashed},"rows_before_kill":${st.rowsBeforeKill}}""")
      // Sentinel rows out of both sides (its lone window / user −1) —
      // the batch twin sees no sentinel, so only symmetric real rows
      // remain on both sides.
      val d = diff(dropSentinel(spark.read.parquet(outDir)).selectExpr(project: _*),
        batchTwin().selectExpr(project: _*))
      Result(key, d, st, (System.nanoTime() - t0) / 1e9)
    }

    val results = scala.collection.mutable.ArrayBuffer[Result]()
    var evictFail = false

    if (wanted("s_tumbling_x97")) results += run("s_tumbling_x97",
      st => Streams.tumblingCounts(st, "2 hours"),
      () => Windowed.tumblingAgg(ev),
      Seq("window_start", "event_type", "n", "sum_value"),
      df => df.where(col("window_start") <= lit(maxTs)))

    // Sliding windows (1 h wide, 15 min slide — every event lands in 4
    // windows): the r15 verdict's one processor-shaped gap. Same closed-
    // window flush discipline as tumbling; with STREAM_CRASH_FRAC > 0 it
    // takes the same mid-stream kill as every other processor.
    if (wanted("s_sliding_x97")) results += run("s_sliding_x97",
      st => Streams.slidingCounts(st, "2 hours"),
      () => Windowed.slidingAgg(ev),
      Seq("window_start", "event_type", "n", "sum_value"),
      df => df.where(col("window_start") <= lit(maxTs)))

    if (wanted("s_session_x97")) results += run("s_session_x97",
      st => Streams.sessionCounts(st, "2 hours"),
      () => Windowed.sessionAgg(ev),
      Seq("user_id", "session_start", "session_end", "n_events", "sum_value"),
      df => df.where(col("user_id") =!= -1L))

    // Exact-parity face: delay covers the whole 30-day stream (+ the
    // sentinel week), so no state is ever evicted and the streaming
    // key set must equal the graded GLOBAL first-wins key set. State
    // bound here = key cardinality (7.5k × 97 ≪ 97M events) — the
    // KTable-sized store, not the event stream.
    if (wanted("s_dedup_x97")) results += run("s_dedup_x97",
      st => Streams.dedupWithinWatermark(st, "40 days", Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type")),
      // batch twin: the first-wins KEY SET (the parity-spec contract —
      // in-batch arrival order decides which VALUE survives, the key set
      // is what both semantics pin).
      () => Dedup.queries("q_dedup_first_wins")(spark, src)
        .select(col("user_id"), col("event_type")).distinct(),
      Seq("user_id", "event_type"),
      df => df.where(col("user_id") =!= -1L))

    // Eviction face: a 24 h delay over a 30-day stream EVICTS — a key
    // re-emits when it recurs after falling out of state, so global
    // parity is deliberately not the contract. The batch-expressible
    // bounds are exact: emissions ≥ the global key count (first arrival
    // always emits) and ≤ the zero-lag ideal (an event whose same-key
    // predecessor is > delay older MUST emit; one within delay CAN only
    // be suppressed longer than the ideal because the watermark — batch-
    // granular, trailing the front — keeps state alive LONGER, never
    // shorter). dropped stays 0 (ordered slices); peak state ≪ keys×days.
    if (wanted("s_dedup_evict_x97")) {
      val t0 = System.nanoTime()
      val outDir = s"$out/s_dedup_evict_x97"
      // Same kill seam as run(): the eviction band below must hold
      // ACROSS the restart — replayed emissions are swallowed by the
      // file-sink commit log, recovered state keeps suppressing.
      val st = killAndRestart(spark,
        () => Streams.dedupWithinWatermark(stream(), "24 hours", Seq("user_id", "event_type"))
          .select(col("user_id"), col("event_type"), col("ts")),
        outDir, s"$out/ckpt_s_dedup_evict_x97", globalCrashRows)
      if (globalCrashRows > 0)
        println(s"""{"key":"s_dedup_evict_x97","crash_injected":${st.crashed},"rows_before_kill":${st.rowsBeforeKill}}""")
      val nStream = spark.read.parquet(outDir).where(col("user_id") =!= -1L).count()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val gapIdeal = ev.withColumn("prev", lag(col("ts"), 1).over(w))
        .where(col("prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev")) > 24L * 3600 * 1000000)
        .count()
      val nKeys = ev.select(col("user_id"), col("event_type")).distinct().count()
      val ok = nStream >= nKeys && nStream <= gapIdeal && st.droppedByWatermark == 0
      println(s"""{"key":"s_dedup_evict_x97","band":"keys <= emissions <= gap_ideal",""" +
        s""""parity":$ok,"rows_stream":$nStream,"keys_lower_bound":$nKeys,""" +
        s""""gap_ideal_upper_bound":$gapIdeal,"peak_state_rows":${st.peakStateRows},""" +
        s""""peak_state_mem_mb":${st.peakStateBytes / 1000000},"dropped_by_watermark":${st.droppedByWatermark},""" +
        s""""batches":${st.batches},${st.phasesJson},"wall_sec":${f"${(System.nanoTime() - t0) / 1e9}%.1f"}}""")
      if (!ok) evictFail = true
    }

    // ---- the six transformWithState processors (r13 item #7) ----------
    // Each runs the identical parity contract its fixture-scale spec
    // pins (StreamingParitySpec / EventAnalyticsSpec), against the batch
    // twin evaluated over the SAME ×97 mirror. TimeMode.None processors
    // emit changelogs; snapshots are max-version/max-count extractions.
    import graft.streaming.Streams.Event
    import spark.implicits._
    def asEvents(df: DataFrame) = df.as[Event]
    val batchEv = ev // the mirror events frame (no sentinel — it lives only in the ingest dir)

    // Bounded top-k per event type: current snapshot (max-version rows
    // per key) ≡ batch TopKAgg.
    if (wanted("s_topk_x97")) results += run("s_topk_x97",
      st => Streams.topkStream(asEvents(st), k = 3).toDF(),
      () => {
        val top3 = udaf(new graft.functions.TopKAgg(3))
        batchEv.groupBy(col("event_type"))
          .agg(top3(col("value"), col("event_id")).as("top"))
          .select(col("event_type"), posexplode(col("top")))
          .select(col("event_type"), (col("pos") + 1).cast("int").as("rank"),
            col("col._1").as("value"), col("col._2").as("event_id"))
      },
      Seq("event_type", "rank", "value", "event_id"),
      df => {
        val vmax = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
        df.where(col("event_type") =!= "sentinel")
          .withColumn("__vmax", max(col("version")).over(vmax))
          .where(col("version") === col("__vmax"))
          .drop("__vmax")
      })

    // Per-(user, type) profile counts: monotone ⇒ max emission = total.
    if (wanted("s_profile_x97")) results += run("s_profile_x97",
      st => Streams.userProfileStream(asEvents(st)).toDF(),
      () => batchEv.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n_events")),
      Seq("user_id", "event_type", "n_events"),
      df => df.where(col("user_id") =!= -1L)
        .groupBy(col("user_id"), col("event_type"))
        .agg(max(col("n_events")).as("n_events")))

    // Funnel step times: current row per user (max version) ≡ the batch
    // min-after-join twin over the same 24 h horizon (-1 = not reached).
    if (wanted("s_funnel_x97")) results += run("s_funnel_x97",
      st => Streams.funnelStream(asEvents(st), windowHours = 24).toDF(),
      () => graft.engine.EventAnalytics.funnelSteps(batchEv, windowHours = 24)
        .select(col("user_id"),
          coalesce(unix_millis(col("t1").cast("timestamp")), lit(-1L)).as("t1"),
          coalesce(unix_millis(col("t2").cast("timestamp")), lit(-1L)).as("t2"),
          coalesce(unix_millis(col("t3").cast("timestamp")), lit(-1L)).as("t3")),
      Seq("user_id", "t1", "t2", "t3"),
      df => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
        df.where(col("user_id") =!= -1L)
          .withColumn("__vmax", max(col("version")).over(w))
          .where(col("version") === col("__vmax"))
          .select(col("user_id"), col("t1"), col("t2"), col("t3"))
      })

    // Cohort retention: each (user, offset) emitted at most once ⇒ the
    // changelog count IS the triangle ≡ the graded batch key.
    if (wanted("s_cohort_x97")) results += run("s_cohort_x97",
      st => Streams.cohortRetentionStream(asEvents(st)).toDF(),
      () => graft.engine.EventAnalytics.queries("q_cohort_retention")(spark, src)
        .select(col("cohort_day"), col("day_offset"), col("n_users")),
      Seq("cohort_day", "day_offset", "n_users"),
      df => df.where(col("user_id") =!= -1L)
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(count(lit(1)).as("n_users")))

    // Transition matrix: changelog count per (from, to) ≡ the graded
    // batch matrix (sentinel user has one event ⇒ no transition rows).
    if (wanted("s_transitions_x97")) results += run("s_transitions_x97",
      st => Streams.transitionStream(asEvents(st)).toDF(),
      () => graft.SparkEntry.queries("q_event_transitions")(spark, src)
        .select(col("from_type"), col("to_type"), col("n")),
      Seq("from_type", "to_type", "n"),
      df => df.where(col("user_id") =!= -1L)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n")))

    // Last-touch attribution: the append stream's credit rows ≡ the
    // batch attribution over the same corpus, row-exact.
    if (wanted("s_attribution_x97")) results += run("s_attribution_x97",
      st => Streams.attributionStream(asEvents(st)).toDF(),
      () => graft.engine.EventAnalytics.attribution(batchEv)
        .select(col("purchase_id"), col("user_id"), col("touch_id"), col("touch_type"),
          unix_millis(col("t_ts").cast("timestamp")).as("t_ms"),
          unix_millis(col("p_ts").cast("timestamp")).as("p_ms")),
      Seq("purchase_id", "user_id", "touch_id", "touch_type", "t_ms", "p_ms"),
      df => df.where(col("user_id") =!= -1L)
        .withColumn("t_ms", unix_millis(col("t_ts").cast("timestamp")))
        .withColumn("p_ms", unix_millis(col("p_ts").cast("timestamp"))))

    // Crash injection at mid-stream (~half the events — ≈4.85M of the
    // 9.7M ×97 stream): the session-window aggregate — the heaviest
    // watermark-evicting state here — killed once that many rows are
    // ingested and restarted on its checkpoint; exact parity proves
    // exactly-once across the kill.
    if (wanted("s_session_crash_x97")) results += run("s_session_crash_x97",
      st => Streams.sessionCounts(st, "2 hours"),
      () => Windowed.sessionAgg(ev),
      Seq("user_id", "session_start", "session_end", "n_events", "sum_value"),
      df => df.where(col("user_id") =!= -1L),
      crashAtRows = evCount / 2)

    results.foreach { case Result(key, d, st, wallSec) =>
      println(s"""{"key":"$key","parity":${d.equal},"rows_stream":${d.nA},""" +
        s""""rows_batch":${d.nB},"only_stream":${d.onlyA},"only_batch":${d.onlyB},""" +
        s""""peak_state_rows":${st.peakStateRows},"peak_state_mem_mb":${st.peakStateBytes / 1000000},""" +
        s""""dropped_by_watermark":${st.droppedByWatermark},"batches":${st.batches},${st.phasesJson},""" +
        s""""wall_sec":${f"$wallSec%.1f"}}""")
    }
    val pass = results.forall(r => r.diff.equal && r.run.droppedByWatermark == 0) && !evictFail
    println(s"""{"stream_scale":{"src":${graft.Verify.jsonString(src)},"slices":$slices,"pass":$pass}}""")
    spark.stop()
    if (!pass) System.exit(1)
  }
}
