package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Round-12 verdict item #6: the ×970 q3/q5 plans are CORRECT but spill
  * (8.3/11.7 GB at 47/59 GB peak) because the orders⋈lineitem fact-fact
  * join shuffles both sides. The 100 TB remedy is layout: bucket both
  * facts by orderkey ONCE at write time, then every orderkey join (and
  * any aggregate keyed on orderkey) runs exchange-free. This tool
  * MEASURES that crossover on the ×970 mirror (582M lineitem, 145M
  * orders): baseline parquet q3 vs bucketed q3, wall + spill + peak +
  * plan shape, PLUS the one-time bucketing cost — the number a platform
  * team needs to decide when the layout pays for itself.
  *
  * The q3 body here is the graded key's exact arithmetic (cents
  * revenue, top-10); results of the two runs are asserted EQUAL row for
  * row, so the layout experiment doubles as a correctness check.
  *
  * Run: BUCKET_SRC (default target/mirror_x970), BUCKET_N (default 64).
  * Emits one JSON line per phase; cleans up the bucketed tables after.
  * Heap is the launching JVM's -Xmx: in local mode
  * `spark.driver.memory` only takes effect before the driver JVM starts,
  * so the session sets none.
  */
object BucketedFacts {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("BUCKET_SRC", "target/mirror_x970")
    val buckets = sys.env.getOrElse("BUCKET_N", "64").toInt
    val spark = graft.Sessions.local(32, 64)
    Tables.configure(spark)
    ScaleSmoke.ensureSpillListener(spark)

    def q3(li: DataFrame, ord: DataFrame, cust: DataFrame): Array[org.apache.spark.sql.Row] = {
      val c = cust.where(col("c_mktsegment") === "BUILDING")
      val o = ord.where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      broadcast(c).join(o, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg((expr("(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * " +
          "(100 - CAST(round(l_discount * 100) AS BIGINT))) + 50) div 100") / 100.0)
          .as("revenue"))
        .orderBy(desc("revenue"), asc("l_orderkey"))
        .limit(10)
        .collect()
    }

    def measure(tag: String)(body: => Array[org.apache.spark.sql.Row])
        : (Array[org.apache.spark.sql.Row], Double) = {
      ScaleSmoke.resetPeak()
      val (m0, d0) = ScaleSmoke.spillSnapshot()
      val t0 = System.nanoTime()
      val rows = body
      val wall = (System.nanoTime() - t0) / 1e9
      val (m1, d1) = ScaleSmoke.spillSnapshot()
      val peak = ScaleSmoke.peakSnapshot()
      println(s"""{"phase":"$tag","wall_sec":${f"$wall%.1f"},""" +
        s""""spill_mem_mb":${(m1 - m0) / 1000000},"spill_disk_mb":${(d1 - d0) / 1000000},""" +
        s""""peak_exec_mem_mb":${peak / 1000000}}""")
      (rows, wall)
    }

    // ---- baseline: parquet mirror, shuffled SMJ ----
    val (base, baseWall) = measure("q3_parquet_x970") {
      q3(Tables.lineitem(spark, src), Tables.orders(spark, src), Tables.customer(spark, src))
    }
    val basePlan = PlanDump.planFlags(
      q3Plan(spark, Tables.lineitem(spark, src), Tables.orders(spark, src),
        Tables.customer(spark, src)))

    // ---- one-time layout cost: bucket the two facts by orderkey ----
    spark.sql("DROP TABLE IF EXISTS graft_li_bkt")
    spark.sql("DROP TABLE IF EXISTS graft_ord_bkt")
    val (_, layoutWall) = measure("bucket_write_x970") {
      Tables.lineitem(spark, src)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .repartition(buckets, col("l_orderkey"))
        .write.bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("graft_li_bkt")
      Tables.orders(spark, src)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .repartition(buckets, col("o_orderkey"))
        .write.bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("graft_ord_bkt")
      Array.empty
    }

    // ---- bucketed: co-located join, exchange-free up to the top-10 ----
    val li = spark.table("graft_li_bkt"); val ord = spark.table("graft_ord_bkt")
    val (bkt, bktWall) = measure("q3_bucketed_x970") {
      q3(li, ord, Tables.customer(spark, src))
    }
    val bktPlan = PlanDump.planFlags(
      q3Plan(spark, li, ord, Tables.customer(spark, src)))

    val equal = base.map(_.toString).sameElements(bkt.map(_.toString))
    def fj(m: Map[String, Int]) = m.toSeq.sorted
      .map { case (a, b) => s""""$a":$b""" }.mkString("{", ",", "}")
    println(s"""{"bucketed_facts":{"src":"$src","buckets":$buckets,"results_equal":$equal,""" +
      s""""base_wall":${f"$baseWall%.1f"},"layout_wall":${f"$layoutWall%.1f"},""" +
      s""""bucketed_wall":${f"$bktWall%.1f"},""" +
      s""""crossover_queries":${f"${layoutWall / math.max(0.001, baseWall - bktWall)}%.1f"},""" +
      s""""flags_base":${fj(basePlan)},"flags_bucketed":${fj(bktPlan)}}}""")
    spark.sql("DROP TABLE IF EXISTS graft_li_bkt")
    spark.sql("DROP TABLE IF EXISTS graft_ord_bkt")
    spark.stop()
    if (!equal) sys.exit(1)
  }

  private def q3Plan(spark: SparkSession, li: DataFrame, ord: DataFrame,
      cust: DataFrame): String = {
    val c = cust.where(col("c_mktsegment") === "BUILDING")
    val o = ord.where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    broadcast(c).join(o, col("c_custkey") === col("o_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(lit(1)).as("x"))
      .queryExecution.executedPlan.toString
  }
}
