package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, CaseWhen, Expression, ExprId, If, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LeafNode, LogicalPlan, Project, Window}
import org.apache.spark.sql.types.DoubleType

/** Structural lint for the raw-double money-sum class (round-12 verdict
  * item #3): every scale decade's first gate run has caught one more
  * unhardened `sum(<double money expr>)` whose partial-aggregation order
  * drifts against the oracle once the sum spans enough partitions
  * (q1 → grouping_sets / shuffle_hash / bloom_prejoin → shard_assign).
  * Instead of discovering them one decade at a time, this walks every
  * graded query's OPTIMIZED logical plan and flags any grouped/global
  * `Sum` over a DoubleType expression whose column lineage reaches a
  * money column — the discipline being enforced is Relational.widePartials:
  * exact integer-cents LONG partials (Sum over LongType — invisible to
  * this lint by construction) merged in DECIMAL(38,0).
  *
  * Money columns = the fixture's non-integral 2dp decimals, whose binary
  * representation is inexact so summation order matters. Integral-valued
  * doubles (l_quantity, counts) are exact under addition until 2⁵³ and
  * deliberately NOT flagged. Window sums are excluded: a window frame is
  * evaluated sequentially in frame order in both engines, so there is no
  * partial-merge order to drift.
  *
  * Known blind spot: a `localCheckpoint()` inside a query (source
  * round-trips, AQE-scoped bodies) truncates the plan to an RDD leaf, so
  * sums computed BEFORE the checkpoint are invisible here.
  * MoneySumLintSpec closes it with a construction-site source grep — the
  * raw `round(sum(col("value")), 2)` pattern must not exist anywhere.
  */
object MoneySumLint {
  /** Non-integral (2dp) double columns in the fixture tables. */
  val MoneyColumns: Set[String] = Set(
    "l_extendedprice", "l_discount", "l_tax",
    "o_totalprice", "ps_supplycost", "p_retailprice",
    "c_acctbal", "s_acctbal", "value")

  /** Attributes whose VALUES can flow into the expression's value —
    * predicate children of If/CaseWhen are excluded: a money column used
    * only as a null-guard (the regr_* family expands to
    * `avg(IF(x IS NOT NULL AND y IS NOT NULL, y, NULL))`) selects WHICH
    * rows are summed but contributes no inexact summand, so there is no
    * merge-order drift through it.
    */
  private def valueRefs(e: Expression): Seq[Attribute] = e match {
    case If(_, t, f) => valueRefs(t) ++ valueRefs(f)
    case cw: CaseWhen =>
      (cw.branches.map(_._2) ++ cw.elseValue.toSeq).flatMap(valueRefs)
    case a: Attribute => Seq(a)
    case _ => e.children.flatMap(valueRefs)
  }

  /** Map each named-expression output to the set of LEAF (scan) column
    * names it transitively references — aliases in Project/Aggregate
    * layers are resolved through; attributes with no known origin (e.g.
    * Expand's synthetic grouping id) resolve to their own name.
    */
  private def rootRefs(plan: LogicalPlan): Map[ExprId, Set[String]] = {
    val fromChildren = plan.children.map(rootRefs)
      .foldLeft(Map.empty[ExprId, Set[String]])(_ ++ _)
    def resolve(e: Expression): Set[String] =
      valueRefs(e)
        .flatMap(a => fromChildren.getOrElse(a.exprId, Set(a.name))).toSet
    plan match {
      case l: LeafNode =>
        l.output.map(a => a.exprId -> Set(a.name)).toMap
      case p: Project =>
        fromChildren ++ p.projectList.map(ne => ne.exprId -> resolve(ne))
      case a: Aggregate =>
        fromChildren ++ a.aggregateExpressions.map(ne => ne.exprId -> resolve(ne))
      case w: Window =>
        fromChildren ++ w.windowExpressions.map(ne => ne.exprId -> resolve(ne))
      case _ => fromChildren
    }
  }

  /** All raw-double money sums in the plan, rendered as
    * "sum(<expr>) over [cols]" — empty means the plan is clean.
    */
  def violations(plan: LogicalPlan): Seq[String] = {
    val roots = rootRefs(plan)
    def resolve(e: Expression): Set[String] =
      valueRefs(e).flatMap(a => roots.getOrElse(a.exprId, Set(a.name))).toSet
    def flag(kind: String, child: Expression): Seq[String] = {
      val money = resolve(child).intersect(MoneyColumns)
      if (money.nonEmpty)
        Seq(s"$kind(${child.sql.take(80)}) over ${money.toSeq.sorted.mkString("[", ",", "]")}")
      else Nil
    }
    plan.collect { case agg: Aggregate =>
      agg.aggregateExpressions.flatMap(_.collect {
        case ae: AggregateExpression => ae.aggregateFunction match {
          case s: Sum if s.child.dataType == DoubleType => flag("sum", s.child)
          // A raw avg(<double money expr>) has the identical
          // partial-merge-order drift class (its Sum buffer IS a double
          // sum) — r13 verdict item #5. The hardened form — exact cents
          // Sum over LongType ÷ count — is invisible here by construction.
          case a: Average if a.child.dataType == DoubleType => flag("avg", a.child)
          case _ => Nil
        }
      }.flatten)
    }.flatten
  }

  def violations(df: DataFrame): Seq[String] =
    violations(df.queryExecution.optimizedPlan)

  /** Lints each key's plan at the given fixture dir (plans only —
    * nothing executes) and prints one line per dirty key. A key whose
    * plan cannot be built is printed as PLAN-ERROR and counted too: the
    * lint could not check it, so it must not pass as clean. Returns the
    * number of dirty or unplannable keys.
    */
  def lintKeys(spark: SparkSession, sf: String,
      keys: Seq[(String, (SparkSession, String) => DataFrame)]): Int =
    keys.count { case (name, fn) =>
      try {
        val v = violations(fn(spark, sf))
        if (v.nonEmpty) println(s"[money-sum-lint] $name: ${v.mkString("; ")}")
        v.nonEmpty
      } catch { case e: Throwable =>
        println(s"[money-sum-lint] $name PLAN-ERROR ${String.valueOf(e.getMessage).take(80)}")
        true
      }
    }

  /** Gate-runner face: lints every graded query and exits non-zero if
    * any key is dirty or unplannable. tools/gate.py runs it first, so a
    * new unhardened money sum fails fast instead of surfacing as a hash
    * divergence hours into the dump.
    */
  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.Sessions.local(8)
    val dirty = lintKeys(spark, sf, graft.SparkEntry.queries.toSeq.sortBy(_._1))
    println(s"[money-sum-lint] $dirty dirty keys / ${graft.SparkEntry.queries.size}")
    spark.stop()
    if (dirty > 0) sys.exit(1)
  }
}
