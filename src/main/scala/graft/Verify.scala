package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // Partition-count sensitivity knob (round-12 verdict item #4): the
    // cheap local proxy for cluster-scale partition counts — shuffle
    // partitions >> cpus exposes summation-order / tie-break
    // nondeterminism that 32-partition runs never sample. The driver
    // sets no env, so its gate keeps partitions = cpus.
    val shufflePartitions =
      sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").fold(cpus)(_.toInt)
    val spark = Sessions.local(cpus, shufflePartitions, logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter (same contract as Bench): the driver sets
    // no env and always dumps the full surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only.fold(SparkEntry.queries)(ks =>
      SparkEntry.queries.filter { case (k, _) => ks(k) })
    // Mirror-scale gates (×97/×970) dump keys whose outputs scale with
    // the corpus (per-doc/per-user frames, 10⁷-10⁸ rows); a single-file
    // coalesce would funnel those through one write thread. The driver
    // sets no env and keeps the single-file contract.
    val noCoalesce = sys.env.get("SPARK_GRAFT_NO_COALESCE").contains("1")
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        (if (noCoalesce) df else df.coalesce(1))
          .write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** A JSON string literal: backslash, quote, and ALL control chars
    * (<0x20) escaped — a tab or CR in hand-written oracle SQL, or a
    * newline or quoted conf name in an exception message, would otherwise
    * make the reader's json.load fail on exactly the line that matters.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
