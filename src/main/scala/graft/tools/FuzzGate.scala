package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.engine.Tables

/** Randomized differential gate (r16 verdict item #3): a seeded grammar
  * generates hundreds of random queries over the TPC-H fixture schemas
  * and runs EACH ONE on Spark and on DuckDB, comparing exact multisets —
  * the correctness axis the fixed keys structurally cannot cover
  * (expression-semantics drift on nulls, three-valued logic, mixed
  * types, grouping on computed expressions, outer-join null fan-out).
  *
  * Dialect discipline — the grammar emits ONLY constructs whose
  * semantics are bit-identical across Spark and DuckDB, so every
  * mismatch is a REAL bug, not dialect noise:
  *  - computed integers are wrapped `CAST(... AS BIGINT)` (DuckDB's
  *    sum(INT) is HUGEINT, Spark's is BIGINT; int32 arithmetic widths
  *    differ — a uniform cast removes the entire class);
  *  - no floating aggregation or division (order-dependent rounding);
  *    doubles appear as pass-through projections, comparisons, and
  *    min/max only — all exact. Money sums go through the engine's own
  *    integer-cents idiom `sum(CAST(round(x*100) AS BIGINT))` (2-decimal
  *    inputs: the rounding argument is never a .5 tie);
  *  - no ORDER BY/LIMIT (the compare is multiset-exact already; ties
  *    under LIMIT are legitimately nondeterministic);
  *  - string ops restricted to upper/substr/length/concat/LIKE on the
  *    ASCII fixture columns (no collation surface);
  *  - timestamps: the fixture stores TIMESTAMP(MICROS), which Spark
  *    reads as TIMESTAMP_NTZ and DuckDB as naive — comparisons against
  *    `TIMESTAMP '...'` literals and min/max pass-through are value
  *    identical under the UTC session.
  *
  * The dump is Verify-shaped (result parquet per key + oracle_sql.json
  * holding THE SAME SQL), so tools/compare.py — the driver's gate — does
  * the comparison unchanged: one query text, two engines, zero
  * per-query oracle authorship.
  *
  * Env: FUZZ_N (default 500), FUZZ_SEED (default 20260816), FUZZ_SRC
  * (default /root/testdata/sf0.01), FUZZ_OUT (default target/fuzz).
  * Prints one summary JSON line; Spark-side errors make the exit
  * nonzero (grammar queries must be runnable by construction).
  */
object FuzzGate {

  private case class Col(name: String, typ: String) // int | dbl | str | ts
  private case class Table(name: String, cols: Seq[Col]) {
    def of(t: String): Seq[Col] = cols.filter(_.typ == t)
  }

  private val tables: Map[String, Table] = Seq(
    Table("lineitem", Seq(
      Col("l_orderkey", "int"), Col("l_partkey", "int"), Col("l_suppkey", "int"),
      Col("l_linenumber", "int"), Col("l_quantity", "dbl"), Col("l_extendedprice", "dbl"),
      Col("l_discount", "dbl"), Col("l_tax", "dbl"), Col("l_returnflag", "str"),
      Col("l_linestatus", "str"), Col("l_shipdate", "ts"))),
    Table("orders", Seq(
      Col("o_orderkey", "int"), Col("o_custkey", "int"), Col("o_orderstatus", "str"),
      Col("o_totalprice", "dbl"), Col("o_orderdate", "ts"), Col("o_orderpriority", "str"))),
    Table("customer", Seq(
      Col("c_custkey", "int"), Col("c_name", "str"), Col("c_nationkey", "int"),
      Col("c_acctbal", "dbl"), Col("c_mktsegment", "str"))),
    Table("part", Seq(
      Col("p_partkey", "int"), Col("p_name", "str"), Col("p_brand", "str"),
      Col("p_type", "str"), Col("p_size", "int"), Col("p_retailprice", "dbl"))),
    Table("supplier", Seq(
      Col("s_suppkey", "int"), Col("s_name", "str"), Col("s_nationkey", "int"),
      Col("s_acctbal", "dbl"))),
    Table("nation", Seq(
      Col("n_nationkey", "int"), Col("n_name", "str"), Col("n_regionkey", "int"))),
    Table("region", Seq(Col("r_regionkey", "int"), Col("r_name", "str")))
  ).map(t => t.name -> t).toMap

  /** FK edges the join chains walk: (fromTable, toTable, fromKey, toKey). */
  private val fks = Seq(
    ("lineitem", "orders", "l_orderkey", "o_orderkey"),
    ("lineitem", "part", "l_partkey", "p_partkey"),
    ("lineitem", "supplier", "l_suppkey", "s_suppkey"),
    ("orders", "customer", "o_custkey", "c_custkey"),
    ("customer", "nation", "c_nationkey", "n_nationkey"),
    ("supplier", "nation", "s_nationkey", "n_nationkey"),
    ("nation", "region", "n_regionkey", "r_regionkey"))

  private val likePats = Seq("%a%", "B%", "%5%", "%er%", "_a%", "%ou%", "%1%")
  private val tsLits = Seq("1993-06-01 00:00:00", "1995-01-15 00:00:00",
    "1996-09-30 00:00:00", "1997-12-01 00:00:00")

  private class Gen(rng: scala.util.Random) {
    def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.length))
    def int(lo: Int, hi: Int): Int = lo + rng.nextInt(hi - lo + 1)
    def chance(p: Double): Boolean = rng.nextDouble() < p

    /** A chain of 1..3 tables joined along FK edges (INNER or LEFT —
      * LEFT makes the right side's columns null-heavy by construction).
      */
    def joinChain(): (Seq[String], String) = {
      var chain = Vector(pick(tables.keys.toSeq))
      var sql = chain.head
      var guard = 0
      while (chain.length < 3 && guard < 4 && chance(0.55)) {
        guard += 1
        val exts = fks.filter(e => chain.contains(e._1) && !chain.contains(e._2))
        if (exts.nonEmpty) {
          val (ft, tt, fk, tk) = pick(exts)
          val left = chance(0.4)
          // TPC-H FKs are referentially intact, so a LEFT JOIN on the raw
          // PK side would never null-pad (review finding r17): FILTER the
          // right side so a real fraction of probe rows has no match and
          // the null fan-out actually reaches projections/predicates/aggs.
          val rhs =
            if (left && chance(0.7)) {
              val key = tables(tt).of("int").head.name
              s"(SELECT * FROM $tt WHERE $key % ${int(2, 5)} = 0) $tt"
            } else tt
          sql += s" ${if (left) "LEFT JOIN" else "JOIN"} $rhs ON $ft.$fk = $tt.$tk"
          chain :+= tt
        }
      }
      (chain, sql)
    }

    def allCols(chain: Seq[String], typ: String): Seq[Col] =
      chain.flatMap(t => tables(t).of(typ))

    def has(chain: Seq[String], typ: String): Boolean =
      allCols(chain, typ).nonEmpty

    /** Scalar expression of a given type over the chain's columns.
      * Computed integers are CAST(... AS BIGINT) — see the dialect
      * notes in the object scaladoc.
      */
    def expr(chain: Seq[String], typ: String): String = typ match {
      case "int" =>
        val c = pick(allCols(chain, "int")).name
        pick[() => String](Seq(
          () => c,
          () => s"CAST($c + ${int(1, 50)} AS BIGINT)",
          () => s"CAST($c * ${int(2, 9)} AS BIGINT)",
          () => s"CAST($c % ${int(2, 13)} AS BIGINT)",
          () => s"CAST(NULLIF($c % ${int(2, 7)}, ${int(0, 3)}) AS BIGINT)",
          () => s"CAST(CASE WHEN $c % ${int(2, 5)} = ${int(0, 1)} THEN $c ELSE NULL END AS BIGINT)",
          () => {
            val c2 = pick(allCols(chain, "int")).name
            s"CAST($c + $c2 AS BIGINT)"
          },
          () => s"CAST(COALESCE(NULLIF($c % ${int(2, 5)}, 1), ${int(90, 99)}) AS BIGINT)"
        ))()
      case "str" =>
        val c = pick(allCols(chain, "str")).name
        pick[() => String](Seq(
          () => c,
          () => s"upper($c)",
          () => s"substr($c, 1, ${int(1, 4)})",
          () => s"CASE WHEN length($c) > ${int(5, 15)} THEN $c ELSE NULL END",
          // || not concat(): DuckDB's concat SKIPS null args while
          // Spark's returns NULL; the || operator null-propagates in both
          // (review finding r17 — nulls reach here via left-join padding).
          () => s"(substr($c, 1, 2) || '_' || CAST(length($c) AS STRING))",
          () => s"NULLIF(substr($c, 1, 1), '${pick(Seq("A", "B", "C", "F", "S"))}')"
        ))()
      case "dbl" =>
        pick(allCols(chain, "dbl")).name // pass-through only: exact
      case _ =>
        pick(allCols(chain, "ts")).name
    }

    /** FK edges touching the chain from OUTSIDE it, as
      * (subTable, subKey, qualified outer key) — the subquery-predicate
      * surface (EXISTS walks child→parent AND parent→child).
      */
    def subEdges(chain: Seq[String]): Seq[(String, String, String)] =
      fks.flatMap { case (ft, tt, fk, tk) =>
        (if (chain.contains(tt) && !chain.contains(ft)) Seq((ft, fk, s"$tt.$tk")) else Nil) ++
          (if (chain.contains(ft) && !chain.contains(tt)) Seq((tt, tk, s"$ft.$fk")) else Nil)
      }

    def predicate(chain: Seq[String], depth: Int = 0): String = {
      def one(): String = {
        val kinds = Seq("int", "str") ++
          (if (has(chain, "dbl")) Seq("dbl") else Nil) ++
          (if (has(chain, "ts")) Seq("ts") else Nil) ++
          (if (depth == 0 && subEdges(chain).nonEmpty) Seq("sub") else Nil)
        pick(kinds) match {
          case "sub" =>
            // Subquery predicates (r17 axis): EXISTS/NOT EXISTS and
            // IN/NOT IN against an FK neighbor — the semi/anti-join
            // planner paths. Dialect-safe: subquery keys are the FK
            // columns (non-null), so IN's 3VL surprises only enter via
            // the OUTER side's left-join padding, where NULL IN (...)
            // and NULL NOT IN (...) are both NULL → filtered in both
            // engines. Depth-capped: sub-predicates never nest another
            // subquery.
            val (sub, subKey, outerKey) = pick(subEdges(chain))
            if (chance(0.5)) {
              val subPred = if (chance(0.6)) s" AND ${predicate(Seq(sub), depth + 1)}" else ""
              s"${if (chance(0.4)) "NOT " else ""}EXISTS (SELECT 1 FROM $sub WHERE $sub.$subKey = $outerKey$subPred)"
            } else
              s"$outerKey ${if (chance(0.3)) "NOT IN" else "IN"} " +
                s"(SELECT $subKey FROM $sub WHERE ${predicate(Seq(sub), depth + 1)})"
          case "int" =>
            val c = pick(allCols(chain, "int")).name
            pick[() => String](Seq(
              () => s"$c % ${int(2, 9)} = ${int(0, 2)}",
              () => s"$c < ${int(100, 20000)}",
              () => s"$c >= ${int(1, 500)}",
              () => s"$c IN (${Seq.fill(int(2, 5))(int(0, 30)).distinct.mkString(", ")})",
              () => s"NULLIF($c % ${int(2, 5)}, ${int(0, 2)}) IS NULL",
              () => s"$c IS DISTINCT FROM ${int(0, 20)}"
            ))()
          case "dbl" =>
            val c = pick(allCols(chain, "dbl")).name
            pick[() => String](Seq(
              () => s"$c < ${int(1, 90)}.${int(0, 9)}${int(0, 9)}",
              () => s"$c BETWEEN ${int(0, 20)}.0 AND ${int(30, 5000)}.5",
              () => s"$c * 100 >= ${int(100, 40000)}"
            ))()
          case "str" =>
            val c = pick(allCols(chain, "str")).name
            pick[() => String](Seq(
              () => s"$c LIKE '${pick(likePats)}'",
              () => s"$c >= '${pick(Seq("A", "B", "C"))}'",
              () => s"length($c) > ${int(3, 18)}",
              () => s"substr($c, ${int(1, 3)}, 1) ${pick(Seq("=", "<>", ">="))} '${pick(Seq("a", "e", "r", "1", "B"))}'",
              () => s"$c IS DISTINCT FROM '${pick(Seq("AIR", "BUILDING", "F", "N"))}'"
            ))()
          case _ =>
            val c = pick(allCols(chain, "ts")).name
            s"$c ${pick(Seq("<", ">=", "<="))} TIMESTAMP '${pick(tsLits)}'"
        }
      }
      val n = if (chance(0.6)) 1 else 2
      val parts = Seq.fill(n)(one()).map(p => if (chance(0.15)) s"NOT ($p)" else p)
      parts.mkString(if (chance(0.4)) " OR " else " AND ")
    }

    def aggExpr(chain: Seq[String]): String = {
      def scalarTyp(): String =
        pick(Seq("int", "str") ++ (if (has(chain, "dbl")) Seq("dbl") else Nil))
      val base: Seq[() => String] = Seq(
        () => "CAST(count(*) AS BIGINT)",
        () => s"CAST(count(${expr(chain, pick(Seq("int", "str")))}) AS BIGINT)",
        () => s"CAST(count(DISTINCT ${pick(allCols(chain, pick(Seq("int", "str")))).name}) AS BIGINT)",
        () => s"CAST(sum(CAST(${pick(allCols(chain, "int")).name} AS BIGINT)) AS BIGINT)",
        () => s"min(${pick(allCols(chain, scalarTyp())).name})",
        () => s"max(${pick(allCols(chain, scalarTyp())).name})")
      val dbl: Seq[() => String] = if (!has(chain, "dbl")) Nil else Seq(
        () => s"CAST(sum(CAST(round(${pick(allCols(chain, "dbl")).name} * 100) AS BIGINT)) AS BIGINT)")
      pick(base ++ dbl)()
    }

    def groupKey(chain: Seq[String]): String =
      pick[() => String](Seq(
        () => pick(allCols(chain, "str")).name,
        () => s"substr(${pick(allCols(chain, "str")).name}, 1, ${int(1, 2)})",
        () => s"CAST(${pick(allCols(chain, "int")).name} % ${int(2, 12)} AS BIGINT)",
        () => s"CAST(CASE WHEN ${predicate(chain)} THEN 1 ELSE 0 END AS BIGINT)"
      ))()

    /** Per-table unique key (the ORDER BY tiebreak that makes
      * row_number/lag/frames deterministic). Every FK edge is N:1, so a
      * chain's BASE table key stays unique across the whole join — LEFT
      * or INNER. NOTE the synthetic fixture does NOT keep TPC-H's
      * (l_orderkey, l_linenumber) unique — measured: 11,785 duplicate
      * pairs at sf0.01, and even the 4-col extension collides at
      * sf0.001 — so lineitem's tiebreak is the 6-tuple, verified
      * duplicate-free at sf0.001/0.01/0.1. Full-row duplicates would be
      * harmless (the multiset compare can't see which twin got which
      * rank) but rows equal on the tiebreak while differing elsewhere
      * make ranks legitimately nondeterministic — the r17 first window
      * run failed exactly this way.
      */
    val uniqueKeys: Map[String, Seq[String]] = Map(
      "lineitem" -> Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice"),
      "orders" -> Seq("o_orderkey"), "customer" -> Seq("c_custkey"),
      "part" -> Seq("p_partkey"), "supplier" -> Seq("s_suppkey"),
      "nation" -> Seq("n_nationkey"), "region" -> Seq("r_regionkey"))

    /** Window-function shape (r17 axis): ranking / analytic / framed
      * aggregates over the join chain. Dialect discipline on top of the
      * object scaladoc's rules:
      *  - EVERY order spec carries an explicit NULLS FIRST/LAST — Spark
      *    defaults to NULLS FIRST on ASC, DuckDB to NULLS LAST, and
      *    left-join padding makes null order keys REAL here;
      *  - row_number/lag/ntile/ROWS frames order by the base table's
      *    unique key (ties would otherwise be legitimately
      *    nondeterministic); rank/dense_rank tolerate ties by
      *    definition;
      *  - ranking outputs are CAST(... AS BIGINT) (Spark emits INT,
      *    DuckDB BIGINT).
      */
    def windowShape(): String = {
      val (chain, from) = joinChain()
      val ukOrder = uniqueKeys(chain.head).map(k => s"$k ASC NULLS FIRST").mkString(", ")
      val p = pick[() => String](Seq(
        () => pick(allCols(chain, "str")).name,
        () => s"substr(${pick(allCols(chain, "str")).name}, 1, ${int(1, 2)})",
        () => s"CAST(${pick(allCols(chain, "int")).name} % ${int(2, 8)} AS BIGINT)"
      ))()
      def orderSpec(): String = {
        val kinds = Seq("int") ++ (if (has(chain, "dbl")) Seq("dbl") else Nil) ++
          (if (has(chain, "ts")) Seq("ts") else Nil)
        val c = pick(allCols(chain, pick(kinds))).name
        s"$c ${pick(Seq("ASC", "DESC"))} ${pick(Seq("NULLS FIRST", "NULLS LAST"))}"
      }
      def winFn(rankFirst: Boolean): String = {
        val fns: Seq[() => String] = Seq(
          () => s"CAST(row_number() OVER (PARTITION BY $p ORDER BY ${orderSpec()}, $ukOrder) AS BIGINT)",
          () => s"CAST(rank() OVER (PARTITION BY $p ORDER BY ${orderSpec()}) AS BIGINT)",
          () => s"CAST(dense_rank() OVER (PARTITION BY $p ORDER BY ${orderSpec()}) AS BIGINT)",
          () => s"CAST(count(*) OVER (PARTITION BY $p) AS BIGINT)",
          () => s"CAST(sum(CAST(${pick(allCols(chain, "int")).name} AS BIGINT)) OVER (PARTITION BY $p) AS BIGINT)",
          () => s"min(${pick(allCols(chain, pick(Seq("int", "str")))).name}) OVER (PARTITION BY $p)",
          () => s"max(${pick(allCols(chain, pick(Seq("int", "str")))).name}) OVER (PARTITION BY $p)",
          () => s"lag(${pick(allCols(chain, pick(Seq("int", "str")))).name}, ${int(1, 3)}) OVER (PARTITION BY $p ORDER BY $ukOrder)",
          () => s"CAST(sum(CAST(${pick(allCols(chain, "int")).name} % ${int(2, 9)} AS BIGINT)) OVER " +
            s"(PARTITION BY $p ORDER BY $ukOrder ROWS BETWEEN ${int(1, 5)} PRECEDING AND CURRENT ROW) AS BIGINT)",
          () => s"CAST(ntile(${int(2, 7)}) OVER (PARTITION BY $p ORDER BY $ukOrder) AS BIGINT)")
        if (rankFirst) fns.head() else pick(fns)()
      }
      val where = if (chance(0.6)) s" WHERE ${predicate(chain)}" else ""
      val qualify = chance(0.3) // filter ON a window value via subquery
      val wins = (0 until int(1, 3)).map(i => s"${winFn(rankFirst = qualify && i == 0)} AS w$i")
      val sel = (uniqueKeys(chain.head) ++ Seq(s"$p AS pkey") ++ wins).mkString(", ")
      val inner = s"SELECT $sel FROM $from$where"
      if (qualify) s"SELECT * FROM ($inner) q WHERE w0 <= ${int(2, 20)}" else inner
    }

    /** Grouping-sets shape (r17 third-session axis): ROLLUP / CUBE /
      * GROUPING SETS over two computed keys, each disambiguated with
      * CAST(grouping(key) AS BIGINT) (Spark emits TINYINT, DuckDB
      * BIGINT — the cast pins it). Keys avoid subquery predicates
      * (predicate depth 1): a correlated EXISTS inside a grouping
      * expression is not portable. Super-aggregate NULLs vs real NULL
      * keys are distinguished by the grouping flags in BOTH engines, so
      * the multiset compare sees identical rows.
      *
      * ENGINE DIVERGENCE FOUND BY THIS AXIS (first run, 10/600): on
      * EMPTY input, a grouping family containing the grand-total set —
      * ROLLUP, CUBE, or GROUPING SETS with `()` — emits the () row
      * (count 0, NULL keys) in DuckDB and Postgres, per the standard's
      * grand-total ≡ ungrouped-aggregate equivalence, but ZERO rows in
      * Spark (grouping sets expand to a grouped aggregate over the
      * Expand output, and a grouped aggregate over empty input has no
      * groups). Neutralized by construction: every grouping shape
      * carries `HAVING count(*) > 0` — a no-op on every REAL group
      * (each aggregates ≥1 row) that removes exactly DuckDB's empty-
      * input phantom row, keeping ROLLUP/CUBE/() fully exercised on
      * non-empty inputs.
      */
    def groupingShape(): String = {
      val (chain, from) = joinChain()
      def gkey(): String = pick[() => String](Seq(
        () => pick(allCols(chain, "str")).name,
        () => s"substr(${pick(allCols(chain, "str")).name}, 1, ${int(1, 2)})",
        () => s"CAST(${pick(allCols(chain, "int")).name} % ${int(2, 12)} AS BIGINT)",
        () => s"CAST(CASE WHEN ${predicate(chain, depth = 1)} THEN 1 ELSE 0 END AS BIGINT)"
      ))()
      val (k0, k1) = (gkey(), gkey())
      val groupBy = pick(Seq(
        s"ROLLUP($k0, $k1)",
        s"CUBE($k0, $k1)",
        s"GROUPING SETS (($k0), ($k0, $k1), ())",
        s"GROUPING SETS (($k0, $k1), ($k1))"))
      val where = if (chance(0.6)) s" WHERE ${predicate(chain)}" else ""
      val aggs = (0 until int(1, 2)).map(i => s"${aggExpr(chain)} AS a$i")
      val gcols = Seq(s"$k0 AS g0", s"$k1 AS g1",
        s"CAST(grouping($k0) AS BIGINT) AS gf0",
        s"CAST(grouping($k1) AS BIGINT) AS gf1")
      val having = s" HAVING count(*) > ${if (chance(0.2)) int(1, 10) else 0}"
      s"SELECT ${(gcols ++ aggs).mkString(", ")} FROM $from$where GROUP BY $groupBy$having"
    }

    /** Set-operation shape (r17 third-session axis): INTERSECT /
      * INTERSECT ALL / EXCEPT / EXCEPT ALL / UNION (distinct) between
      * two predicates over the SAME projection on the SAME chain —
      * column types match by construction, and set-op NULL equality
      * (NULL groups WITH null, unlike = ) is identical in both engines.
      * One operator per query: mixed-operator precedence differs across
      * dialects, so it stays out of the grammar.
      */
    def setOpShape(): String = {
      val (chain, from) = joinChain()
      val nCols = int(2, 4)
      val types = Seq("int", "str") ++
        (if (has(chain, "dbl")) Seq("dbl") else Nil) ++
        (if (has(chain, "ts") && chance(0.3)) Seq("ts") else Nil)
      val proj = (0 until nCols).map(i => s"${expr(chain, pick(types))} AS c$i").mkString(", ")
      val op = pick(Seq("INTERSECT", "INTERSECT ALL", "EXCEPT", "EXCEPT ALL", "UNION"))
      s"SELECT $proj FROM $from WHERE ${predicate(chain)} " +
        s"$op SELECT $proj FROM $from WHERE ${predicate(chain)}"
    }

    /** Scalar-function shape (r17 fourth-session axis): date/time and
      * string function COMPOSITION — the expression-eval surface the
      * other axes only graze (their scalars stay at substr/upper/
      * length). Dialect rules on top of the object scaladoc's:
      *  - date_trunc units year/quarter/month/day/hour only (same
      *    argument order and NTZ-value semantics in both engines; week
      *    stays out — ISO-vs-locale week starts are a known dialect
      *    split);
      *  - EXTRACT parts year/quarter/month/day/hour/minute, wrapped
      *    CAST(... AS BIGINT) (Spark INT vs DuckDB BIGINT); dow/doy
      *    stay out (Spark 1=Sunday vs DuckDB 0=Sunday);
      *  - ts + INTERVAL N DAY/HOUR — identical literal grammar;
      *  - string fns verified value-identical on the ASCII fixture:
      *    replace/trim/ltrim/rtrim/lpad/rpad/reverse/translate/repeat/
      *    left/right, position('x' IN s) CAST AS BIGINT;
      *  - greatest/least stay out (NULL handling differs across
      *    engine versions); datediff/strftime/date_part shorthand stay
      *    out (grammar or argument-order divergence).
      */
    def scalarShape(): String = {
      val (chain, from) = joinChain()
      def strFn(depth: Int = 0): String = {
        val c =
          if (depth < 1 && chance(0.3)) strFn(depth + 1)
          else pick(allCols(chain, "str")).name
        pick[() => String](Seq(
          () => s"replace($c, '${pick(Seq("a", "e", "r", "o", "1"))}', '${pick(Seq("#", "", "xy"))}')",
          () => s"trim($c)", () => s"ltrim($c)", () => s"rtrim($c)",
          () => s"lpad($c, ${int(3, 20)}, '${pick(Seq("*", "ab"))}')",
          () => s"rpad($c, ${int(3, 20)}, '${pick(Seq("*", "ab"))}')",
          () => s"reverse($c)",
          () => s"translate($c, 'aeiou', 'AEIOU')",
          () => s"repeat(substr($c, 1, 2), ${int(1, 3)})",
          () => s"left($c, ${int(1, 6)})",
          () => s"right($c, ${int(1, 6)})",
          () => s"upper(left($c, ${int(1, 5)}))",
          () => s"lower($c)"
        ))()
      }
      def tsFn(): String = {
        val c = pick(allCols(chain, "ts")).name
        pick[() => String](Seq(
          () => s"date_trunc('${pick(Seq("year", "quarter", "month", "day", "hour"))}', $c)",
          () => s"$c + INTERVAL ${int(1, 400)} ${pick(Seq("DAY", "HOUR"))}",
          () => s"CAST(EXTRACT(${pick(Seq("year", "quarter", "month", "day", "hour", "minute"))} FROM $c) AS BIGINT)",
          () => s"CASE WHEN CAST(EXTRACT(month FROM $c) AS BIGINT) % ${int(2, 4)} = 0 THEN date_trunc('month', $c) ELSE NULL END"
        ))()
      }
      def intFn(): String = pick[() => String](Seq(
        () => s"CAST(position('${pick(Seq("a", "e", "5", "r"))}' IN ${pick(allCols(chain, "str")).name}) AS BIGINT)",
        () => s"CAST(length(${strFn()}) AS BIGINT)",
        () => s"CAST(abs(${pick(allCols(chain, "int")).name} - ${int(100, 5000)}) AS BIGINT)",
        () => s"CAST(ascii(substr(${pick(allCols(chain, "str")).name}, ${int(1, 4)}, 1)) AS BIGINT)"
      ))()
      def anyFn(): String = {
        val kinds = Seq("str", "int") ++ (if (has(chain, "ts")) Seq("ts") else Nil)
        pick(kinds) match {
          case "str" => strFn()
          case "int" => intFn()
          case _ => tsFn()
        }
      }
      def fnPredicate(): String = pick[() => String](Seq(
        () => s"${intFn()} ${pick(Seq("=", ">", "<="))} ${int(0, 12)}",
        () => s"${strFn()} LIKE '${pick(likePats)}'",
        () => s"${strFn()} ${pick(Seq("=", "<>", ">="))} '${pick(Seq("A", "ab", "x"))}'"
      ) ++ (if (!has(chain, "ts")) Nil else Seq(
        () => s"CAST(EXTRACT(${pick(Seq("year", "month", "day"))} FROM ${pick(allCols(chain, "ts")).name}) AS BIGINT) % ${int(2, 5)} = ${int(0, 1)}",
        () => s"date_trunc('month', ${pick(allCols(chain, "ts")).name}) ${pick(Seq("<", ">="))} TIMESTAMP '${pick(tsLits)}'"
      )))()
      val where =
        if (chance(0.3)) s" WHERE ${fnPredicate()}"
        else if (chance(0.5)) s" WHERE ${predicate(chain)}" else ""
      if (chance(0.35)) {
        // aggregate over function-computed keys and values
        val keys = (0 until int(1, 2)).map(i => s"${anyFn()} AS g$i")
        val aggs = Seq(s"CAST(count(*) AS BIGINT) AS a0") ++
          (if (chance(0.6)) Seq(s"${pick(Seq("min", "max"))}(${anyFn()}) AS a1") else Nil)
        s"SELECT ${(keys ++ aggs).mkString(", ")} FROM $from$where " +
          s"GROUP BY ${(1 to keys.length).mkString(", ")}"
      } else {
        val nCols = int(2, 5)
        val proj = (0 until nCols).map(i => s"${anyFn()} AS c$i")
        val distinct = if (chance(0.25)) "DISTINCT " else ""
        s"SELECT $distinct${proj.mkString(", ")} FROM $from$where"
      }
    }

    def query(): String = {
      if (sys.env.contains("FUZZ_SCALAR_AXIS") && chance(0.45)) return scalarShape()
      if (chance(0.25)) return windowShape()
      if (chance(0.2)) return groupingShape()
      if (chance(0.18)) return setOpShape()
      val (chain, from) = joinChain()
      val where = if (chance(0.75)) s" WHERE ${predicate(chain)}" else ""
      if (chance(0.45)) {
        // aggregate shape
        val nKeys = int(1, 2)
        val keys = (0 until nKeys).map(i => s"${groupKey(chain)} AS g$i")
        val aggs = (0 until int(1, 3)).map(i => s"${aggExpr(chain)} AS a$i")
        val having = if (chance(0.25)) s" HAVING count(*) > ${int(1, 20)}" else ""
        s"SELECT ${(keys ++ aggs).mkString(", ")} FROM $from$where " +
          s"GROUP BY ${(1 to nKeys).mkString(", ")}$having"
      } else {
        // projection shape (DISTINCT sometimes; UNION ALL sometimes)
        val nCols = int(2, 5)
        val types = Seq("int", "str") ++
          (if (has(chain, "dbl")) Seq("dbl") else Nil) ++
          (if (has(chain, "ts") && chance(0.3)) Seq("ts") else Nil)
        val base0 = (0 until nCols).map(i => s"${expr(chain, pick(types))} AS c$i")
        // Correlated scalar-count subquery column (r17 axis): exercises
        // decorrelation / left-outer count aggregation in both engines.
        val proj =
          if (chance(0.2) && subEdges(chain).nonEmpty) {
            val (sub, subKey, outerKey) = pick(subEdges(chain))
            base0 :+ s"(SELECT CAST(count(*) AS BIGINT) FROM $sub WHERE $sub.$subKey = $outerKey) AS csub"
          } else base0
        val distinct = if (chance(0.3)) "DISTINCT " else ""
        val base = s"SELECT $distinct${proj.mkString(", ")} FROM $from$where"
        if (chance(0.2)) {
          val where2 = s" WHERE ${predicate(chain)}"
          s"$base UNION ALL SELECT $distinct${proj.mkString(", ")} FROM $from$where2"
        } else base
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("FUZZ_N", "500").toInt
    val seed = sys.env.getOrElse("FUZZ_SEED", "20260816").toLong
    val src = sys.env.getOrElse("FUZZ_SRC", "/root/testdata/sf0.01")
    val out = sys.env.getOrElse("FUZZ_OUT", "target/fuzz")

    val spark = graft.Sessions.local(32)
    Tables.configure(spark)
    tables.keys.foreach(t => Tables.table(spark, src, t).createOrReplaceTempView(t))

    graft.engine.Sources.deleteRecursively(new java.io.File(out))
    new java.io.File(out).mkdirs()

    val gen = new Gen(new scala.util.Random(seed))
    val queries = (0 until n).map(i => f"fuzz_$i%04d" -> gen.query())

    var errors = Vector.empty[(String, String)]
    queries.foreach { case (name, sql) =>
      try {
        val df = spark.sql(sql)
        // NTZ-normalize any instant-typed column before the parquet dump
        // (fixture reads are NTZ already; this guards computed instants).
        val ntz = if (!df.schema.exists(_.dataType == TimestampType)) df
        else df.select(df.schema.fields.map { f =>
          if (f.dataType == TimestampType) col(f.name).cast("timestamp_ntz").as(f.name)
          else col(f.name)
        }.toIndexedSeq: _*)
        ntz.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      } catch {
        case scala.util.control.NonFatal(e) =>
          errors :+= (name, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    }
    // oracle_sql.json: the SAME SQL text compare.py will run in DuckDB.
    val sb = new StringBuilder("{\n")
    queries.zipWithIndex.foreach { case ((k, v), i) =>
      sb.append(s" ${graft.Verify.jsonString(k)}: ${graft.Verify.jsonString(v)}")
        .append(if (i == queries.length - 1) "\n" else ",\n")
    }
    sb.append("}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "oracle_sql.json"), sb.toString)

    errors.foreach { case (k, e) => System.err.println(s"[fuzz] $k FAILED on Spark: $e") }
    println(s"""{"fuzz":{"n":$n,"seed":$seed,"src":${graft.Verify.jsonString(src)},"spark_errors":${errors.length}}}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
