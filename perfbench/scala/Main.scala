package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.SparkEntry
import graft.engine
import graft.streaming.{ReplaySource, Streams}

/** JVM side of the benchmark: sets up the workload, runs its timed
  * section and writes the raw samples to `<work>/result.json`. Metrics,
  * percentiles and output checks are computed by `perfbench/run.py`.
  *
  * Arguments are `key=value`: workload, seed, seconds, trace (0|1), work
  * (work dir), input (generated inputs), sf (table dir for batch keys),
  * cpus, delay (stream watermark delay), rate (live segments per second),
  * max_files (backfill trigger cap). All are required; the values are
  * constants of `perfbench/run.py`.
  */
object Main {
  type KeyFn = (SparkSession, String) => DataFrame

  /** The six engine modules whose `queries` maps the batch keys come from. */
  val modules: Seq[(String, Map[String, KeyFn])] = Seq(
    "Relational" -> engine.Relational.queries,
    "Windowed" -> engine.Windowed.queries,
    "Similarity" -> engine.Similarity.queries,
    "TextAnalysis" -> engine.TextAnalysis.queries,
    "Dedup" -> engine.Dedup.queries,
    "Graph" -> engine.Graph.queries)

  val batchKeys: Map[String, Seq[String]] = Map(
    "batch_core" -> graft.Bench.BaselineSubset,
    "batch_neardup" -> Seq("q_neardup_lsh", "q_neardup_lsh_salted", "q_neardup_delta",
      "q_neardup_components", "q_graph_triangles"))

  final class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing argument $k"))
    val workload = apply("workload")
    val seconds = apply("seconds").toDouble
    val trace = apply("trace") == "1"
    val work = apply("work")
    val input = apply("input")
    val cpus = apply("cpus").toInt
    val delay = apply("delay")
    val rate = apply("rate").toDouble
    val maxFiles = apply("max_files").toInt
  }

  val out = mutable.LinkedHashMap[String, Any]()
  val errors = ArrayBuffer[String]()

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap)
    out("workload") = a.workload
    val tracer = new Tracer(s"${a.workload}-${a("seed")}")
    try a.workload match {
      case w if batchKeys.contains(w) => new BatchRun(a, tracer, batchKeys(w)).run()
      case "stream_live" | "stream_backfill" => new StreamRun(a, tracer).run()
      case w => sys.error(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        errors += s"${e.getClass.getName}: ${e.getMessage}".take(500)
    }
    out("errors") = errors.toList
    out("vm_hwm_mb") = vmHwmMb()
    out("heap_peak_mb") = heapPeakMb()
    out("spans") = tracer.all
    Files.writeString(Paths.get(a.work, "result.json"), Json(out))
    // Nothing of the session is needed past this point; halting skips the
    // shutdown hooks' context stop, which the run does not measure.
    Runtime.getRuntime.halt(0)
  }

  /** The process's `VmHWM` (peak resident set) in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** The sum of the heap pools' peak usage in MB since `settle`: the heap
    * the timed section used, which a fixed, pre-touched heap hides from
    * `VmHWM`. */
  def heapPeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20)

  def session(cpus: Int, work: String): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A traced run measures passes in the order untraced, traced, traced,
    * untraced (repeating), so that warming over the run does not bias the
    * tracing overhead: the difference of the two sides' medians. */
  def tracedAt(a: Args, idx: Int): Boolean = a.trace && (idx % 4 == 1 || idx % 4 == 2)

  /** Ends the warm-up. Waits until the JIT compiler has been idle for a
    * second (at most three), so compilations queued by the warm-up do not
    * run inside the first timed pass. Then collects the heap and resets
    * the pools' peaks, so that `heapPeakMb` covers the timed section: the
    * old generation otherwise peaks with whatever garbage the warm-up left
    * in it, which varies with when the collector ran. */
  def settle(): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    if (jit != null && jit.isCompilationTimeMonitoringSupported) {
      val deadline = System.currentTimeMillis() + 3000
      var last = jit.getTotalCompilationTime
      var quiet = 0
      while (quiet < 4 && System.currentTimeMillis() < deadline) {
        Thread.sleep(250)
        val now = jit.getTotalCompilationTime
        quiet = if (now - last < 10) quiet + 1 else 0
        last = now
      }
    }
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  }

  /** Whether one more pass as long as the last one ends before `deadline`:
    * a run measures whole passes within its `seconds`. */
  def fits(deadline: Double, lastWallS: Any): Boolean =
    Clock.ms() + lastWallS.asInstanceOf[Double] * 1000 <= deadline

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Probes wired to one session; `trace` turns attribution on. */
final class Probes(spark: SparkSession) {
  val jobs = new JobProbe
  val plans = new PlanProbe(jobs)
  val streams = new StreamProbe
  spark.sparkContext.addSparkListener(jobs)
  spark.listenerManager.register(plans)
  spark.streams.addListener(streams)

  /** Runs `body` with events attributed to `ctx` (null = untraced). */
  def within[T](ctx: String)(body: => T): T = {
    if (ctx == null) body
    else {
      // Events still queued from before (an untraced pass, the previous
      // span) must not land on this span.
      BenchBusDrain.drain(spark.sparkContext)
      jobs.ctx = ctx
      try body
      finally { BenchBusDrain.drain(spark.sparkContext); jobs.ctx = null }
    }
  }

  def layer(ctx: String, windowFrom: Double, windowTo: Double): Map[String, Any] = {
    val a = jobs.of(ctx)
    a.synchronized {
      Map("jobs" -> a.jobs, "tasks" -> a.tasks, "shuffle_bytes" -> a.shuffleBytes,
        "spill_bytes" -> a.spillBytes, "task_cpu_s" -> a.cpuNs / 1e9,
        "planning_ms" -> a.planningMs,
        "job_covered_s" -> jobs.jobCoveredMs(ctx, windowFrom, windowTo) / 1000.0)
    }
  }
}

/** batch_core and batch_neardup: passes over the workload's keys. */
final class BatchRun(a: Main.Args, tracer: Tracer, keys: Seq[String]) {
  import Main._

  private val sf = a("sf")
  private val fnOf: Map[String, (String, KeyFn)] =
    modules.flatMap { case (m, q) => q.map { case (k, f) => k -> (m, f) } }.toMap

  def run(): Unit = {
    keys.foreach(k => require(fnOf.contains(k), s"key $k is in none of the six modules"))
    out("keys") = keys.map(k => Map("key" -> k, "module" -> fnOf(k)._1))
    out("oracle_sql") = keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap
    // Set-up: session start. Then an untimed warm-up of two rounds over
    // the keys, `cpus` keys at a time so that their first-run code
    // generation and JIT work overlap: the first writes each key's graded
    // output for the check, the second runs the timed action.
    // Measured on 4 cores, a key's first two executions are still
    // compiling (the first sequential pass after one round ran ~30% over
    // the later ones); from the third on, passes agree within a few %.
    val spark = session(a.cpus, a.work)
    locally {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(a.cpus)
      def round(action: (String, DataFrame) => Unit): Map[String, String] =
        keys.map { k =>
          k -> pool.submit(() => try { action(k, SparkEntry.queries(k)(spark, sf)); null }
            catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(300) })
        }.map { case (k, f) => k -> f.get() }.toMap
      out("check") = round((k, df) =>
        df.write.mode("overwrite").parquet(s"${a.work}/out/$k"))
      round((_, df) => df.write.format("noop").mode("overwrite").save())
      pool.shutdown()
      settle()
    }
    val probes = new Probes(spark)
    val passes = ArrayBuffer[Map[String, Any]]()
    val deadline = Clock.ms() + a.seconds * 1000
    val minPasses = if (a.trace) 4 else 1
    while (passes.size < minPasses || fits(deadline, passes.last("wall_s"))) {
      passes += pass(spark, probes, passes.size, tracedAt(a, passes.size))
    }
    out("passes") = passes.toList
    out("candidate_rows") = probes.plans.candidates.asScala.values.toList
    if (a.trace && a.workload == "batch_neardup") {
      out("collision_rows") = Funnel.collisionRows(spark, sf)
      // Ungated single-thread reference: one local[1] pass.
      val one = session(1, a.work)
      out("single_thread") = pass(one, new Probes(one), -1, traced = false)
    }
  }

  def pass(spark: SparkSession, probes: Probes, idx: Int, traced: Boolean): Map[String, Any] = {
    tracer.on = traced
    if (traced) probes.plans.funnelCtx = s"$idx|q_neardup_lsh|exec"
    val rows = ArrayBuffer[Map[String, Any]]()
    val t0 = Clock.ms()
    tracer.span(0, s"pass $idx", "bench") { pid =>
      keys.foreach { k =>
        val (module, fn) = fnOf(k)
        val rec = mutable.LinkedHashMap[String, Any]("key" -> k, "module" -> module)
        tracer.span(pid, k, module) { kid =>
          def phase(name: String)(body: => Unit): Unit = {
            val ctx = if (traced) s"$idx|$k|$name" else null
            val from = Clock.ms()
            tracer.span(kid, name, module)(_ => probes.within(ctx)(body))
            val to = Clock.ms()
            rec(s"${name}_s") = (to - from) / 1000.0
            if (traced) rec(name) = probes.layer(ctx, from, to)
          }
          try {
            var df: DataFrame = null
            phase("build") { df = fn(spark, sf) }
            phase("exec") { df.write.format("noop").mode("overwrite").save() }
            rec("error") = null
          } catch {
            case e: Throwable => rec("error") = s"${e.getClass.getName}: ${e.getMessage}".take(300)
          }
        }
        rows += rec.toMap
      }
    }
    tracer.on = false
    Map("index" -> idx, "traced" -> traced, "start_ms" -> t0,
      "wall_s" -> (Clock.ms() - t0) / 1000.0, "keys" -> rows.toList)
  }
}

/** stream_live and stream_backfill: the reference topology
  * (ReplayStreamSource → dedupWithinWatermark on event_id → parquet sink)
  * on a RocksDB state store.
  */
final class StreamRun(a: Main.Args, tracer: Tracer) {
  import Main._

  private val live = a.workload == "stream_live"

  private def segmentFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith(ReplaySource.SegmentPrefix)).sortBy(_.getName).toSeq

  private def newLog(dir: String): String = {
    deleteTree(new File(dir))
    Files.createDirectories(Paths.get(dir))
    Files.createFile(Paths.get(dir, ReplaySource.FormatMarker))
    dir
  }

  private def copySegments(from: String, to: String): Unit =
    segmentFiles(from).foreach(f =>
      Files.copy(f.toPath, Paths.get(to, f.getName), StandardCopyOption.REPLACE_EXISTING))

  private def startQuery(spark: SparkSession, log: String, dir: String,
      maxFiles: Option[Int], trigger: Option[Trigger]): StreamingQuery = {
    deleteTree(new File(dir))
    val events = Streams.events(spark, Streams.ReplayStreamSource(log, maxFiles))
    val deduped = Streams.dedupWithinWatermark(events, a.delay, Seq("event_id"))
    Streams.start(deduped, Streams.ParquetStreamSink(s"$dir/sink", s"$dir/ckpt"),
      trigger = trigger)
  }

  def run(): Unit = {
    // Set-up: session start and staging (the backfill log is copied into
    // place; the live log starts empty and is filled by the generator
    // during the run). Then one untimed warm-up: a small separate log
    // drained through the same topology, two segments a batch, so the
    // per-batch paths (offset log, state commit) warm too.
    val spark = Streams.sessionConf(session(a.cpus, a.work))
    if (!live) copySegments(s"${a.input}/segments-0", newLog(s"${a.work}/log"))
    val warmLog = newLog(s"${a.work}/warmlog")
    copySegments(s"${a.input}/warm", warmLog)
    startQuery(spark, warmLog, s"${a.work}/warm", Some(2), Some(Trigger.AvailableNow()))
      .awaitTermination()
    settle()
    val probes = new Probes(spark)
    val runs = ArrayBuffer[Map[String, Any]]()
    if (live) {
      for (i <- 0 until (if (a.trace) 4 else 1))
        runs += liveRun(spark, probes, i, tracedAt(a, i))
    } else {
      val deadline = Clock.ms() + a.seconds * 1000
      val minDrains = if (a.trace) 4 else 1
      while (runs.size < minDrains || fits(deadline, runs.last("wall_s")))
        runs += drain(spark, probes, runs.size, tracedAt(a, runs.size))
      if (a.trace) {
        // Ungated single-thread reference: one local[1] drain.
        val one = Streams.sessionConf(session(1, a.work))
        out("single_thread") = drain(one, new Probes(one), -1, traced = false)
      }
    }
    out("runs") = runs.toList
  }

  /** One AvailableNow drain of the staged log into a fresh sink. */
  private def drain(spark: SparkSession, probes: Probes, idx: Int,
      traced: Boolean): Map[String, Any] = {
    tracer.on = traced
    val dir = s"${a.work}/drain-$idx"
    val ctx = if (traced) s"drain $idx" else null
    var q: StreamingQuery = null
    val startMs = Clock.ms()
    tracer.span(0, s"drain $idx", "Streams") { _ =>
      probes.within(ctx) {
        q = startQuery(spark, s"${a.work}/log", dir, Some(a.maxFiles),
          Some(Trigger.AvailableNow()))
        q.awaitTermination()
      }
    }
    val wallS = (Clock.ms() - startMs) / 1000.0
    tracer.on = false
    finish(spark, probes, q, idx, traced, startMs, dir, ctx) + ("wall_s" -> wallS)
  }

  /** One open-loop live phase: a generator thread renames pre-rendered
    * segments into the log at a fixed rate while the query runs with the
    * default trigger.
    */
  private def liveRun(spark: SparkSession, probes: Probes, idx: Int,
      traced: Boolean): Map[String, Any] = {
    val rate = a.rate
    val src = s"${a.input}/segments-$idx"
    val segs = segmentFiles(src)
    val log = newLog(s"${a.work}/livelog-$idx")
    val dir = s"${a.work}/live-$idx"
    val ctx = if (traced) s"live $idx" else null
    val appended = new AtomicInteger(0)
    @volatile var lagMax = 0
    probes.streams.onCommit = p => {
      val end = endFiles(p)
      lagMax = math.max(lagMax, appended.get() - end)
    }
    tracer.on = traced
    val dueMs = new Array[Double](segs.size)
    val lateMs = new Array[Double](segs.size)
    var q: StreamingQuery = null
    var startMs = 0.0
    tracer.span(0, s"live $idx", "Streams") { rid =>
      probes.within(ctx) {
        q = startQuery(spark, log, dir, None, None)
        // The generator starts once the query has run its first (empty)
        // batch, so query start-up is not charged to the first segments.
        val ready = Clock.ms() + 60000
        while (probes.streams.progresses(q.runId.toString).isEmpty && Clock.ms() < ready &&
            q.exception.isEmpty) Thread.sleep(5)
        val t0 = Clock.ms() + 50.0
        startMs = t0
        val gen = new Thread(() => {
          segs.zipWithIndex.foreach { case (f, i) =>
            val due = t0 + i * 1000.0 / rate
            dueMs(i) = due
            var now = Clock.ms()
            while (now < due) {
              Thread.sleep(math.max(0L, math.min(50L, (due - now).toLong)), 0)
              now = Clock.ms()
            }
            tracer.span(rid, s"append $i", "gen") { _ =>
              Files.move(f.toPath, Paths.get(log, f.getName), StandardCopyOption.ATOMIC_MOVE)
            }
            lateMs(i) = Clock.ms() - due
            appended.set(i + 1)
          }
        }, "perfbench-gen")
        gen.start()
        gen.join()
        // Wait for the tail: every appended segment committed, or give up.
        val giveUp = Clock.ms() + 60000
        def committed = probes.streams.progresses(q.runId.toString).lastOption
          .map(endFiles).getOrElse(0)
        while (committed < segs.size && Clock.ms() < giveUp && q.exception.isEmpty)
          Thread.sleep(5)
        q.stop()
      }
    }
    tracer.on = false
    probes.streams.onCommit = _ => ()
    finish(spark, probes, q, idx, traced, startMs, dir, ctx) ++ Map(
      "due_ms" -> dueMs.toSeq, "late_ms" -> lateMs.toSeq, "lag_segments_max" -> lagMax)
  }

  private def endFiles(p: StreamingQueryProgress): Int =
    p.sources.headOption.flatMap(s => offsetFiles(s.endOffset)).getOrElse(0)

  private def offsetFiles(json: String): Option[Int] =
    Option(json).flatMap(j => "\"files\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(j)).map(_.group(1).toInt)

  /** Progress of the finished query, the sink's per-id counts for the
    * exactly-once check, and the traced task counters.
    */
  private def finish(spark: SparkSession, probes: Probes, q: StreamingQuery, idx: Int,
      traced: Boolean, startMs: Double, dir: String, ctx: String): Map[String, Any] = {
    q.recentProgress.foreach(probes.streams.put)
    val progress = probes.streams.progresses(q.runId.toString).map(progressJson)
    val err = q.exception.map(e => s"${e.getClass.getName}: ${e.getMessage}".take(300))
    err.foreach(errors += _)
    import org.apache.spark.sql.functions.count
    val idsOut = s"${a.work}/check/run-$idx"
    spark.read.parquet(s"$dir/sink").groupBy("event_id").agg(count("*").as("n"))
      .write.mode("overwrite").parquet(idsOut)
    Map("index" -> idx, "traced" -> traced, "start_ms" -> startMs, "progress" -> progress,
      "error" -> err.orNull, "sink_counts" -> idsOut,
      "layer" -> (if (traced) probes.layer(ctx, startMs, Clock.ms()) else null))
  }

  private def progressJson(p: StreamingQueryProgress): Map[String, Any] = {
    val ts = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val src = p.sources.headOption
    val st = p.stateOperators.headOption
    Map("batch_id" -> p.batchId, "start_ms" -> ts,
      "end_ms" -> (ts + dur.getOrElse("triggerExecution", 0L)),
      "start_files" -> src.flatMap(s => offsetFiles(s.startOffset)).getOrElse(0),
      "end_files" -> src.flatMap(s => offsetFiles(s.endOffset)).getOrElse(0),
      "input_rows" -> p.numInputRows, "duration_ms" -> dur,
      "sink_rows" -> Option(p.sink).map(_.numOutputRows).getOrElse(-1L),
      "state" -> st.map(s => Map("rows_total" -> s.numRowsTotal,
        "rows_updated" -> s.numRowsUpdated, "rows_removed" -> s.numRowsRemoved,
        "mem_bytes" -> s.memoryUsedBytes,
        "dropped_by_watermark" -> s.numRowsDroppedByWatermark,
        "custom" -> s.customMetrics.asScala.map { case (k, v) => k -> v.longValue }.toMap))
        .orNull)
  }
}
