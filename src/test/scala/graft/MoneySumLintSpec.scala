package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tools.MoneySumLint

/** The raw-double money-sum lint (round-12 verdict item #3): the graded
  * surface must contain ZERO grouped/global sums of DoubleType money
  * expressions — the class whose partial-merge order drifted against the
  * oracle at every new scale decade (q1 at ×10 → grouping_sets /
  * shuffle_hash / bloom_prejoin at ×97 → shard_assign at ×970) — and the
  * lint itself must demonstrably fire on a deliberately dirty plan.
  */
class MoneySumLintSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("lint fires on a deliberately raw double money sum") {
    val dirty = graft.engine.Tables.lineitem(spark, TestSpark.sfDir)
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
    val v = MoneySumLint.violations(dirty)
    assert(v.nonEmpty && v.head.contains("l_extendedprice"), v.mkString("; "))
  }

  test("lint fires on a raw double money AVERAGE (r13 item #5)") {
    // avg's partial buffer IS a double Sum — identical merge-order drift
    // class; the structural guarantee must cover it, not just Sum.
    val dirty = graft.engine.Tables.lineitem(spark, TestSpark.sfDir)
      .groupBy(col("l_returnflag"))
      .agg(round(avg(col("l_extendedprice")), 2).as("avg_price"))
    val v = MoneySumLint.violations(dirty)
    assert(v.nonEmpty && v.head.startsWith("avg(") &&
      v.head.contains("l_extendedprice"), v.mkString("; "))
  }

  test("exact-cents mean (cents Sum over Long / count) stays quiet") {
    // The hardened mean the graded q1 uses: Sum over LongType is
    // invisible to the lint by construction; the division is row-free.
    val clean = graft.engine.Tables.lineitem(spark, TestSpark.sfDir)
      .groupBy(col("l_returnflag"))
      .agg(round(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .cast("double") / 100.0 / count(lit(1)), 2).as("avg_price"))
    assert(MoneySumLint.violations(clean).isEmpty)
  }

  test("lint stays quiet on the exact-cents rendering of the same sum") {
    val clean = graft.engine.Tables.lineitem(spark, TestSpark.sfDir)
      .groupBy(col("l_returnflag"))
      .agg((expr("(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * " +
        "(100 - CAST(round(l_discount * 100) AS BIGINT))) + 50) div 100") / 100.0)
        .as("revenue"))
    assert(MoneySumLint.violations(clean).isEmpty)
  }

  test("integral-valued double sums (quantity) are deliberately exempt") {
    // Integral doubles are exact under addition until 2^53, so their sum
    // is order-free without the cents rendering.
    val qty = graft.engine.Tables.lineitem(spark, TestSpark.sfDir)
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
    assert(MoneySumLint.violations(qty).isEmpty)
  }

  test("every graded query plan is free of raw double money sums") {
    // Plans only — nothing executes. Known blind spot, documented at
    // MoneySumLint: a localCheckpoint() inside a query severs lineage,
    // so checkpoint-built keys (source round-trips, AQE-scoped bodies)
    // are guarded by grepping their construction sites instead — the
    // companion test below. A key whose plan throws counts as dirty: the
    // lint could not check it.
    val out = new java.io.ByteArrayOutputStream
    val dirty = Console.withOut(out)(MoneySumLint.lintKeys(spark, TestSpark.sfDir,
      SparkEntry.queries.toSeq.sortBy(_._1)))
    assert(dirty == 0, out.toString)
  }

  test("a key whose plan throws counts as a failure, null message included") {
    // The gate must not pass a key the lint could not check, and a
    // message-less exception must not crash the whole lint.
    val keys = Seq[(String, (SparkSession, String) => DataFrame)](
      "clean" -> ((s, d) => graft.engine.Tables.lineitem(s, d).select(col("l_quantity"))),
      "broken" -> ((_, _) => throw new RuntimeException(null: String)))
    val out = new java.io.ByteArrayOutputStream
    val failed = Console.withOut(out)(MoneySumLint.lintKeys(spark, TestSpark.sfDir, keys))
    assert(failed == 1, out.toString)
    assert(out.toString.contains("broken PLAN-ERROR null"), out.toString)
  }

  test("no raw round(sum(value)) constructions anywhere in engine sources") {
    // The checkpoint blind-spot guard: localCheckpoint leaves (source
    // round-trips, scoped-conf bodies) hide their aggregate lineage from
    // the plan walk, so the construction-site pattern itself must be
    // absent from the source tree — everything goes through
    // Relational.sumValue2 / the cents discipline.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      // the lint's own scaladoc quotes the forbidden pattern
      .filterNot(_.toString.endsWith("tools/MoneySumLint.scala"))
      .flatMap { f =>
        val text = java.nio.file.Files.readString(f)
        // every money column, not just `value` — the ×970 gate caught a
        // checkpoint-hidden round(sum(o_totalprice)) the first version
        // of this grep (value-only) let through
        val dirty = MoneySumLint.MoneyColumns.exists { c =>
          text.contains(s"""round(sum(col("$c"))""") ||
            text.contains(s"""sum(col("$c")).as""")
        }
        if (dirty) Some(f.toString) else None
      }.toList
    // (window sums like running_spend are `.over(...)`, matching neither
    // pattern — the lint's documented frame-ordered exclusion)
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
