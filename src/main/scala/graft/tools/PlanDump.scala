package graft.tools

import graft.SparkEntry
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode
import scala.util.Try

/** The plan tool: one audit line per graded key on stdout, and optionally
  * each key's `.explain("formatted")` as a file — the plan-artifact
  * surface under plans/ (plans/r17/<key>_before.txt / _after.txt are the
  * checkable record of every plan-shape claim in OPTIMIZATION_r17.md).
  *
  *   runMain graft.tools.PlanDump <key[,key...]|all> <sfDir>
  *
  * Audit line: the [[planFlags]] operator counts, each scan's ReadSchema
  * (column pruning) and PushedFilters, and the whole-stage-codegen span
  * count. Each key first executes through its OWN QueryExecution —
  * df.write/foreachPartition build a derived QE and leave this one's
  * adaptive plan at its initial guess — so the audit reads the FINAL
  * adaptive plan, with its per-stage codegen markers.
  *
  * Env:
  *   PLAN_OUT     when set, write <PLAN_OUT>/<key><PLAN_SUFFIX>.txt. The
  *                explain is taken BEFORE execution: AQE's
  *                `isFinalPlan=false` wrapper, whose Exchange counts and
  *                join strategies are the comparable shape.
  *   PLAN_SUFFIX  file-name suffix (default "_before")
  *   SPARK_GRAFT_CPUS  local[cpus], shuffle.partitions = cpus (default 32):
  *                Bench's session shape, so the plan is the one the bench
  *                times.
  */
object PlanDump {
  /** The section of an executed adaptive plan string that ran: it prints
    * "== Final Plan ==" followed by "== Initial Plan ==", and reading both
    * doubles every operator. Other plan strings pass through whole.
    */
  def finalPlan(plan: String): String = plan.split("== Initial Plan ==").head

  /** Join-strategy histogram of a plan string — the "shape" that must not
    * flip between scales (ScaleSmoke).
    */
  def planFlags(planIn: String): Map[String, Int] = {
    val plan = finalPlan(planIn)
    def n(s: String) = s.r.findAllIn(plan).size
    Map(
      "CartesianProduct" -> n("CartesianProduct"),
      "BNLJ" -> n("BroadcastNestedLoopJoin"),
      "SMJ" -> n("SortMergeJoin"),
      "BHJ" -> n("BroadcastHashJoin"),
      "SHJ" -> n("ShuffledHashJoin"),
      "Exchange" -> n("Exchange "),
      // Runtime skew splits (AQE OptimizeSkewedJoin) — informational in
      // the shape compare (firing MORE at N× is the planner working),
      // gated explicitly for ScaleSmoke's planted-skew key.
      "skew" -> n("skew=true")
    ).filter(_._2 > 0)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: PlanDump <key[,key...]|all> <sfDir>")
    val keys = if (args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = args(1)
    val outDir = sys.env.get("PLAN_OUT")
    val suffix = sys.env.getOrElse("PLAN_SUFFIX", "_before")
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val frames = keys.map(k => k -> Try {
      val df = SparkEntry.queries.getOrElse(k, sys.error("unknown key"))(spark, sfDir)
      outDir.foreach(d => Files.writeString(Paths.get(d, s"$k$suffix.txt"),
        df.queryExecution.explainString(FormattedMode)))
      df
    })
    // Every file is written before any key executes: execution advances
    // the session's RDD and plan ids, which the explain text prints.
    for ((k, frame) <- frames) try {
      val df = frame.get
      df.queryExecution.toRdd.foreachPartition(_ => ())
      val plan = finalPlan(df.queryExecution.executedPlan.toString)
      val flags = planFlags(plan).toSeq.sorted.map { case (f, c) => s"$f=$c" }
      // ReadSchema/PushedFilters fragments of the (very long) scan lines.
      val scans = plan.linesIterator.filter(_.contains("FileScan")).map { l =>
        val schema = "ReadSchema: ([^,]*(?:,[^ ]*)*)".r.findFirstMatchIn(l).map(_.group(1))
        val pushed = "PushedFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(l).map(_.group(1))
        s"scan ReadSchema=${schema.getOrElse("?").take(160)}" +
          pushed.fold("")(p => s" PushedFilters=[${p.take(80)}]")
      }
      // WholeStageCodegenExec renders as a `*(id)` prefix, not by name.
      val codegen = "\\*\\((\\d+)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size
      println((Seq(f"[plan] $k%-24s") ++ flags ++ scans :+ s"codegen=$codegen").mkString(" "))
    } catch {
      case e: Throwable => println(s"[plan] $k ERROR ${String.valueOf(e.getMessage).take(80)}")
    }
    spark.stop()
  }
}
