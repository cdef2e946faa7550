package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Concurrent-CORRECTNESS probe (round-12 verdict item #8): the FAIR-pool
  * interference of N simultaneous clients was measured once (committed as
  * BENCH.concurrent.json); this tool pins that their ANSWERS are stable — every key, evaluated by
  * N concurrent clients sharing one session, must hash-match the serial
  * run.
  *
  * Client isolation: each client thread runs in its own
  * `spark.newSession()` — the Thrift-server model (per-connection session
  * over one shared SparkContext/cache). That is both the realistic
  * concurrency shape AND what makes fixed-name temp-view registration
  * (q_sql_*, q_lateral_topk) safe: temp views and session conf are
  * session-scoped, so concurrent clients never race each other's
  * catalog. (The first run of this gate shared one session across
  * threads and caught exactly that race — 3 keys failing
  * TABLE_OR_VIEW_NOT_FOUND when client A's view replace/drop interleaved
  * client B's resolve.)
  *
  * Hashing: (row count, Σ xxhash64(all columns) as DECIMAL(38,0)) — an
  * order-independent multiset hash (decimal sum: no long overflow under
  * ANSI, duplicate rows still shift the sum, unlike an XOR fold), so the
  * comparison is insensitive to partition/emission order, which genuinely
  * varies across concurrent runs, and sensitive to any value or
  * multiplicity drift.
  *
  * Per-key contract strength: keys absent from `SparkEntry.oracleSql`
  * are rows-only graded by the driver BECAUSE their values are
  * estimate-nondeterministic by design (e.g. q_sketch_kll: DataSketches
  * KLL compaction draws from a JVM-shared Random, so concurrent builds
  * interleave draws and the p50/p90/p99 estimates legitimately drift
  * within the ±1.65%·2 band the check twin q_sketch_kll_check — which IS
  * value-hashed here and stable — pins). This gate mirrors the driver:
  * full multiset hash for oracled keys, row-count-only for no-oracle
  * keys; the summary reports both populations.
  *
  * DDL keys (r15): q_cbo_join_reorder and q_bucketed_join were excluded
  * through r14 because they issued fixed-name DDL against the catalog,
  * which — unlike temp views — is SHARED across newSession() clones.
  * Their table names are now namespaced per session (Tables.sessionNs:
  * CREATE/ANALYZE/saveAsTable/DROP each touch only the client's own
  * names), so the gate covers every key — `excluded` stays in the
  * summary line and must read `[]`.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CLIENTS (4),
  * SPARK_GRAFT_ONLY for subsets. One JSON line per mismatch plus a
  * summary; exit 1 on any mismatch.
  */
object ConcurrentVerify {

  val Excluded: Set[String] = Set.empty

  private def contentHash(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df
      .select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("__h"))
      .agg(count(lit(1)), sum(col("__h").cast("decimal(38,0)"))).head()
    (r.getLong(0), if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val clients = sys.env.getOrElse("SPARK_GRAFT_CLIENTS", "4").toInt
    val spark = graft.Sessions.local(32, confs = Seq("spark.scheduler.mode" -> "FAIR"))

    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val keys = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(Excluded)
      .filter(k => only.forall(_.contains(k)))
    val oracled = SparkEntry.oracleSql.keySet

    // Serial reference pass (also the warm pass: JIT, footers, codegen).
    val serial: Map[String, (Long, java.math.BigDecimal)] =
      keys.map(k => k -> contentHash(SparkEntry.queries(k)(spark, sfDir))).toMap

    // N clients, each its own session (Thrift-server model: isolated
    // temp views + conf over the shared context), each a FAIR pool, each
    // running EVERY key concurrently with the others.
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, java.math.BigDecimal, String)]
    val threads = (1 to clients).map { i =>
      new Thread(() => {
        val sess = spark.newSession()
        sess.sparkContext.setLocalProperty("spark.scheduler.pool", s"client$i")
        keys.foreach { k =>
          try {
            val (n, h) = contentHash(SparkEntry.queries(k)(sess, sfDir))
            results.add((i, k, n, h, null))
          } catch {
            case e: Throwable => results.add((i, k, -1L, null, s"${e.getClass.getSimpleName}: ${e.getMessage}"))
          }
        }
      })
    }
    val t0 = System.nanoTime()
    threads.foreach(_.start()); threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9

    var mismatches = 0
    var rowsOnlyChecks = 0
    results.forEach { case (i, k, n, h, err) =>
      val (n0, h0) = serial(k)
      val hashGraded = oracled(k)
      if (!hashGraded) rowsOnlyChecks += 1
      val ok = err == null && n == n0 && (!hashGraded || h0.compareTo(h) == 0)
      if (!ok) {
        mismatches += 1
        println(s"""{"client":$i,"key":"$k","rows":[$n0,$n],"hash_graded":$hashGraded,""" +
          s""""serial_hash":"$h0","client_hash":"$h","err":${if (err == null) "null" else graft.Verify.jsonString(err)}}""")
      }
    }
    println(s"""{"concurrent_verify":{"clients":$clients,"n_keys":${keys.size},""" +
      s""""excluded":${if (Excluded.isEmpty) "[]" else Excluded.toSeq.sorted.mkString("[\"", "\",\"", "\"]")},""" +
      s""""checks":${keys.size * clients},"hash_graded_checks":${keys.size * clients - rowsOnlyChecks},""" +
      s""""rows_only_checks":$rowsOnlyChecks,"session_per_client":true,"mismatches":$mismatches,""" +
      s""""wall_concurrent_sec":${f"$wall%.1f"},"sf":${graft.Verify.jsonString(sfDir)},"pass":${mismatches == 0}}}""")
    spark.stop()
    if (mismatches > 0) sys.exit(1)
  }
}
