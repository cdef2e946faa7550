package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft main builds its SparkSession.
  *
  * Every session runs in UTC — a correctness invariant, not a preference:
  * `SparkEntry.ntz` relies on it for the DuckDB hash compare — and sets its
  * shuffle partition count explicitly. [[local]] is the shape the bench,
  * the correctness dump, the gates and the tools share; [[create]] is for a
  * caller that takes its master from the deployment.
  */
object Sessions {
  /** `local[cpus]`, `partitions` shuffle partitions (0 = `cpus`), UI off,
    * the given log level. `confs` carries the site's own settings (codec,
    * scheduler mode, app name, ...).
    */
  def local(cpus: Int, partitions: Int = 0, logLevel: String = "ERROR",
      confs: Seq[(String, String)] = Nil): SparkSession = {
    val spark = create(s"local[$cpus]", if (partitions > 0) partitions else cpus,
      confs :+ ("spark.ui.enabled" -> "false"))
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** A UTC session on any master, with `partitions` shuffle partitions. */
  def create(master: String, partitions: Int, confs: Seq[(String, String)]): SparkSession =
    confs.foldLeft(SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
}
