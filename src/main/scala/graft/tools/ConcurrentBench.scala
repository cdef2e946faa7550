package graft.tools

import graft.{Bench, SparkEntry}
import org.apache.spark.sql.SparkSession

/** Concurrent-session interference probe: the driver bench runs keys
  * serially, but a production session serves many queries at once — the
  * number that matters there is how much wall time 4 simultaneous
  * clients pay versus the same work run back-to-back.
  *
  * Method: ONE SparkSession (the production shape — shared catalog,
  * shared executor pool), FAIR scheduler with a pool per client thread
  * (unconfigured pools share the root fairly — without per-thread pools
  * Spark's default FIFO serializes large stages and the measurement
  * becomes a queueing artifact, not interference). Each client runs the
  * full BASELINE.md 10-query subset through the same noop-sink
  * execution as Bench. Reported:
  *
  *   - t_serial_1x    one subset pass, single thread (the Bench number);
  *   - t_serial_4x    four passes back-to-back (same total work);
  *   - t_concurrent_4x four threads, one pass each, wall clock;
  *   - interference   t_concurrent_4x / t_serial_4x — 1.0 means the
  *     overlap is free (concurrency costs nothing vs serial), < 1 means
  *     concurrency RECLAIMS idle resources (scheduling gaps of one
  *     query filled by another), > 1 is contention (spill, memory
  *     pressure, scheduler thrash);
  *   - speedup_vs_1x  t_concurrent_4x / t_serial_1x — how much worse
  *     one client's latency gets with 3 co-tenants (4.0 = no benefit
  *     from sharing, 1.0 = perfect overlap).
  *
  * Writes one JSON line to stdout and BENCH.concurrent.json (committed —
  * the SURVEY §6 row's source).
  */
object ConcurrentBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val clients = sys.env.getOrElse("SPARK_GRAFT_CLIENTS", "4").toInt
    val spark = graft.Sessions.local(32, confs = Seq("spark.scheduler.mode" -> "FAIR"))

    val subset = Bench.BaselineSubset.flatMap(k =>
      SparkEntry.queries.get(k).map(k -> _))

    def onePass(): Unit = subset.foreach { case (_, fn) =>
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    }

    // Warm: JIT, codegen cache, parquet footers — same discipline as Bench.
    onePass()

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val tSerial1 = timed(onePass())
    val tSerial4 = timed((1 to clients).foreach(_ => onePass()))
    val tConc = timed {
      val threads = (1 to clients).map { i =>
        new Thread(() => {
          // Per-thread pool: local properties are inheritable-thread-local,
          // so each client schedules in its own FAIR pool.
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"client$i")
          onePass()
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
    }
    // Field names are N-agnostic (the `clients` field records N); the
    // old t_*_4x names lied whenever SPARK_GRAFT_CLIENTS != 4.
    val line =
      f"""{"clients":$clients,"t_serial_1x":$tSerial1%.2f,"t_serial_nx":$tSerial4%.2f,""" +
      f""""t_concurrent_nx":$tConc%.2f,"interference":${tConc / tSerial4}%.2f,""" +
      f""""speedup_vs_1x":${tConc / tSerial1}%.2f,"sf":"$sfDir"}"""
    println(line)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH.concurrent.json"), line + "\n")
    spark.stop()
  }
}
