package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Dedup, Relational, Tables}

/** SIXTH-decade probes (round-12 item #7, widened per round-13 item #3):
  * ~sf970 ≈ billions of rows through the heaviest pipelines, gated
  * against CLOSED-FORM expectations — without materializing a mirror.
  *
  * Why not a real ×9700 mirror: the fifth-decade mirror measures
  * 14.4 GB for its table subset, so ×9700 needs ≈ 98 GB for lineitem
  * alone (+20 GB orders, + dump + DuckDB temp ⇒ ~150 GB peak). The box
  * has 252 GB with ~52 GB free; deleting every other scale artifact
  * frees at most ~80 GB. Exact blocker: ≥150 GB needed, ≤80 GB
  * available. (Documented per the round-12 verdict's ask.)
  *
  * What a LAZY inflation still proves, per probe family:
  *  - q1:   5.8B rows of scan→filter→partial-agg→DECIMAL-merge with
  *          Σ(4dp partials) ≈ 5·10¹⁷ — the widePartials regime.
  *  - q3:   the 3-way join arithmetic: 5.8B inflated lineitem rows
  *          broadcast-probe the 1× filtered orders⋈customer build side
  *          (the join executes 5.8B times), exact-cents revenue per
  *          group, top-10. Copies are NOT re-keyed, so every group's
  *          integer revenue is exactly N× the 1× revenue — closed form
  *          checked bit-exact by tools/decade_probe.py.
  *  - q5:   the 5-way star join: same lazy inflation, all five dims
  *          broadcast (the at-scale q5 plan shape), widePartials merge,
  *          25 nation groups at N× the exact 1× cents.
  *  - q_dedup_first_wins: 970M events (N identical copies per event)
  *          through the window-ranked survivor pipeline — the survivor
  *          set must equal the 1× output EXACTLY (all copies of the
  *          minimum-rank row are value-identical). One real 970M-row
  *          shuffle on the dedup key.
  *  - q_sessionize: 970M events through the per-user session window —
  *          duplicated events land at gap 0, so session boundaries are
  *          the 1× boundaries and each session shows n_events ×N with
  *          sum_value = (N · exact 1× cents)/100 — checked row-exact
  *          against the transformed 1× frame (itself DuckDB-pinned at
  *          three scales). One real 970M-row shuffle + per-user sort.
  *
  * What it does NOT probe (stated, not hidden): join-key cardinality
  * and shuffle layout stay at 1× for q3/q5 — the materialized ×970
  * mirror remains the strongest signal for those; the window probes DO
  * shuffle the full inflated volume.
  *
  * Round-15 additions (r14 verdict item #4 — the window-function and
  * pair families):
  *  - q_window_rank: 1.455B rows through a real per-custkey partitioned
  *    sort; inflated top-3 must equal the 1× rank-1 frame expanded to
  *    rn ∈ {1,2,3} with rk = drk = quartile = 1 (ties among copies).
  *  - q_window_frame: running sums in exact integer cents with __copy as
  *    the order tiebreak, so every row's running value is deterministic;
  *    per-(custkey, orderkey) min/max/Σ/count — four order-sensitive
  *    exact integers — match the 1× prefix closed form.
  *  - q_ngram_jaccard: per-copy banded candidates (band ∧ block ∧
  *    size-prune verbatim) + the exact intersect/Jaccard kernel at N×
  *    pair volume vs the DuckDB-pinned 1× pair list; the salted
  *    no-broadcast shuffle layout is NOT re-proven here (that is the ×97
  *    materialized mirror's signal). Run this probe at PROBE_FACTOR=970,
  *    the pair family's first FIFTH-decade signal: sf0.1 carries ~350k
  *    band∧block candidates per copy (measured via the ×9700 attempt),
  *    so ×9700 materializes ~3.4B candidate rows ≈ 80 GB of
  *    checkpoint+distinct shuffle — it exhausted this box's free disk
  *    mid-stage (measured r15); ×970 fits at ~8 GB and still pushes
  *    ~340M pairs through the exact kernel.
  *
  * Run: PROBE_FACTOR (default 9700), PROBE_SRC (default
  * /root/testdata/sf0.1), PROBE_KEYS (comma list of q1,q3,q5,
  * first_wins,sessionize,window_rank,window_frame,ngram_pairs; default
  * q1). Prints one JSON line per probe row + a summary; q1/q3/q5 rows
  * are verified by tools/decade_probe.py (exact integer closed forms, no
  * at-scale oracle scan); the window/dedup/session/pair probes
  * self-verify against the 1× engine frame and fail the exit code
  * directly.
  */
object DecadeProbe {
  def main(args: Array[String]): Unit = {
    val factor = sys.env.getOrElse("PROBE_FACTOR", "9700").toInt
    require(factor >= 1, s"PROBE_FACTOR $factor must be >= 1")
    val src = sys.env.getOrElse("PROBE_SRC", "/root/testdata/sf0.1")
    val keys = sys.env.getOrElse("PROBE_KEYS", "q1")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    // 256 partitions: 970M-row window sorts get smaller per-task runs.
    // zstd is value-neutral; the window probes shuffle+spill ~1.5B highly
    // repetitive rows (N value-identical copies), where zstd's ratio is
    // the difference between fitting this box's free disk and not.
    val spark = graft.Sessions.local(32, 256, confs = Seq("spark.io.compression.codec" -> "zstd"))
    Tables.configure(spark)

    // Overflow guard (r13 ADVICE; re-derived per r14 ADVICE — the old
    // factor-only cap assumed the sf0.1 source): the per-(group,
    // partition) __rev6 LONG partial is bounded by rowsPerPartition ×
    // the worst-case per-row magnitude, and BOTH terms come from the
    // SOURCE — a larger PROBE_SRC at the same factor grows the partial
    // linearly, which a factor-only cap cannot see. Measure the source
    // once (one column-pruned aggregate): worst per-row __rev6 =
    // max(pc)·100·(100+max(tc)) dominates every other LONG partial in
    // this file (__rev4 = __rev6/(100+tc); q3/q5 group finer), then
    // size the range-partition count so even a single-group partition
    // of worst-case rows keeps ≥2× headroom under 2⁶² — structural
    // safety at ANY source size instead of a cap that assumes one.
    val liGuard = Tables.lineitem(spark, src).agg(
      count(lit(1)),
      max(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")),
      max(expr("CAST(round(l_tax * 100) AS BIGINT)"))).head()
    val srcRows = liGuard.getLong(0)
    val worstPerRow = math.max(1L,
      liGuard.getLong(1) * 100L * (100L + liGuard.getLong(2)))
    val rowsPerPartCap = (Long.MaxValue / 4) / worstPerRow
    val inflatedRows = factor.toLong * srcRows
    val parts = math.max(64L,
      (inflatedRows + rowsPerPartCap - 1) / rowsPerPartCap).toInt
    require(parts >= 64 && parts <= (1 << 20),
      s"PROBE_FACTOR $factor × $srcRows source rows needs $parts range " +
        s"partitions (≤ $rowsPerPartCap rows each for the __rev6 LONG " +
        "partial) — outside the feasible [64, 2^20] range")

    // N value-identical copies, streamed not stored. The RANGE drives
    // (`parts` partitions — sized above from the measured source so the
    // per-partition LONG partial keeps ≥2× headroom) and the
    // projected 1× frame broadcasts — inverting the join keeps the
    // inflated rows spread over the range tasks instead of the handful of
    // parquet scan splits. The copy index is dropped immediately: nothing
    // downstream keys on it (the probes' closed forms are exactly the
    // not-re-keyed algebra).
    def inflate(df: DataFrame): DataFrame =
      spark.range(0, factor, 1, parts).select(col("id").as("__copy"))
        .crossJoin(broadcast(df))
        .drop("__copy")

    var fail = false
    def timed[T](what: String)(body: => (Long, Seq[String])): Unit = {
      val t0 = System.nanoTime()
      val (rows, lines) = body
      val wall = (System.nanoTime() - t0) / 1e9
      lines.foreach(println)
      println(s"""{"decade_probe":{"probe":"$what","factor":$factor,"src":"$src",""" +
        s""""rows_processed":$rows,"wall_sec":${f"$wall%.1f"}}}""")
    }

    // ---------------------------------------------------------------- q1
    // The EXACT q1PricingSummary arithmetic (same cents columns, same
    // widePartials partials, same DECIMAL merge and integer-space
    // rounding) applied to the inflated frame.
    if (keys.contains("q1")) timed("q1") {
      val pc = Relational.cents(col("l_extendedprice"))
      val dc = Relational.cents(col("l_discount"))
      val tc = Relational.cents(col("l_tax"))
      val partials = inflate(
          Tables.lineitem(spark, src)
            .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
              col("l_extendedprice"), col("l_discount"), col("l_tax"), col("l_shipdate")))
        .where(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"),
          spark_partition_id().as("__wp"))
        .agg(
          sum(col("l_quantity")).as("__qty"),
          sum(pc).as("__pc"),
          sum(dc).as("__dc"),
          sum(pc * (lit(100L) - dc)).as("__rev4"),
          sum(pc * (lit(100L) - dc) * (lit(100L) + tc)).as("__rev6"),
          count(lit(1)).as("__n"))
      val out = partials
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("__qty")), 2).as("sum_qty"),
          (expr("sum(CAST(__pc AS DECIMAL(38,0)))") / 100.0).as("sum_base_price"),
          (expr("(sum(CAST(__rev4 AS DECIMAL(38,0))) + 50) div 100") / 100.0).as("sum_disc_price"),
          (expr("(sum(CAST(__rev6 AS DECIMAL(38,0))) + 5000) div 10000") / 100.0).as("sum_charge"),
          sum(col("__n")).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
        .collect()
      (out.map(_.getLong(6)).sum, out.toSeq.map { r =>
        s"""{"probe":"q1_x$factor","l_returnflag":"${r.getString(0)}",""" +
          s""""l_linestatus":"${r.getString(1)}","sum_qty":${r.getDouble(2)},""" +
          s""""sum_base_price":${r.getDouble(3)},"sum_disc_price":${r.getDouble(4)},""" +
          s""""sum_charge":${r.getDouble(5)},"count_order":${r.getLong(6)}}"""
      })
    }

    // ---------------------------------------------------------------- q3
    // Graded q3JoinTopk arithmetic on the inflated fact: the 1× filtered
    // orders⋈customer side (≈30k rows) broadcasts and every inflated
    // lineitem row probes it — revenue groups are exactly N× the 1×
    // integer cents (verified closed-form by decade_probe.py).
    if (keys.contains("q3")) timed("q3") {
      val c = Tables.customer(spark, src).where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val o = Tables.orders(spark, src)
        .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
      val oc = o.join(c, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val l = Tables.lineitem(spark, src)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val joined = inflate(l)
        .join(broadcast(oc), col("l_orderkey") === col("o_orderkey"))
      val out = joined
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"),
          spark_partition_id().as("__wp"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT) * " +
          "(100 - CAST(round(l_discount * 100) AS BIGINT))")).as("__rev4"),
          count(lit(1)).as("__n"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg((expr("(sum(CAST(__rev4 AS DECIMAL(38,0))) + 50) div 100") / 100.0).as("revenue"),
          sum(col("__n")).as("__n"))
        .orderBy(desc("revenue"), asc("l_orderkey"))
        .limit(10)
        .collect()
      (out.map(_.getLong(4)).sum, out.toSeq.map { r =>
        s"""{"probe":"q3_x$factor","l_orderkey":${r.getLong(0)},""" +
          s""""o_orderdate":"${r.get(1)}","o_orderpriority":"${r.getString(2)}",""" +
          s""""revenue":${r.getDouble(3)}}"""
      })
    }

    // ---------------------------------------------------------------- q5
    // Graded q5FiveWayJoin arithmetic: all five dims broadcast (the
    // at-scale plan shape), inflated lineitem drives, widePartials
    // DECIMAL merge, 25 nation groups at exactly N× the 1× cents.
    if (keys.contains("q5")) timed("q5") {
      val c = Tables.customer(spark, src).select(col("c_custkey"), col("c_nationkey"))
      val o = Tables.orders(spark, src).select(col("o_orderkey"), col("o_custkey"))
      val su = Tables.supplier(spark, src).select(col("s_suppkey"), col("s_nationkey"))
      val n = Tables.nation(spark, src).select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val r = Tables.region(spark, src).select(col("r_regionkey"), col("r_name"))
      val l = Tables.lineitem(spark, src)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      val out = inflate(l)
        .join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"), spark_partition_id().as("__wp"))
        .agg(sum(Relational.cents(col("l_extendedprice")) *
          (lit(100L) - Relational.cents(col("l_discount")))).as("__rev4"),
          count(lit(1)).as("__np"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(expr("sum(CAST(__rev4 AS DECIMAL(38,0)))").as("__rev4w"),
          sum(col("__np")).as("n_lines"))
        .withColumn("revenue",
          expr("CAST(CAST((__rev4w + 50) div 100 AS DECIMAL(38,2)) / 100 AS DOUBLE)"))
        .select(col("r_name"), col("n_name"), col("revenue"), col("n_lines"))
        .orderBy("r_name", "n_name")
        .collect()
      (out.map(_.getLong(3)).sum, out.toSeq.map { r =>
        s"""{"probe":"q5_x$factor","r_name":"${r.getString(0)}","n_name":"${r.getString(1)}",""" +
          s""""revenue":${r.getDouble(2)},"n_lines":${r.getLong(3)}}"""
      })
    }

    // ------------------------------------------------- q_dedup_first_wins
    // N identical copies of every event through the graded window-ranked
    // survivor pipeline: the survivor per (user, type) is value-identical
    // in every copy, so the N× output must EQUAL the 1× output exactly.
    if (keys.contains("first_wins")) timed("first_wins") {
      val ev = Tables.events(spark, src)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"), col("value"))
      def run(df: DataFrame) =
        Dedup.firstWins(df, Seq("user_id", "event_type"), Seq("ts", "event_id"))
          .select(col("user_id"), col("event_type"), col("event_id").as("first_event_id"),
            col("ts").as("first_ts"), round(col("value"), 2).as("first_value"))
      val rN = run(inflate(ev)).localCheckpoint()
      val r1 = run(ev).localCheckpoint()
      val cols = r1.columns.toSeq
      val mism = r1.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__c1"))
        .join(rN.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__cN")),
          cols, "full_outer")
        .where(coalesce(col("__cN"), lit(0L)) =!= coalesce(col("__c1"), lit(0L)))
        .count()
      val (n1, nN) = (r1.count(), rN.count())
      val ok = mism == 0 && n1 == nN
      if (!ok) fail = true
      (factor.toLong * ev.count(), Seq(
        s"""{"probe":"first_wins_x$factor","check":"survivors_equal_1x",""" +
          s""""rows":[$n1,$nN],"mismatched_groups":$mism,"ok":$ok}"""))
    }

    // ------------------------------------------------------ q_sessionize
    // Duplicated events sort adjacent (gap 0) so session boundaries are
    // the 1× boundaries; each session must show n_events ×N and
    // sum_value = (N · exact 1× cents)/100 — both computed closed-form
    // from the 1× engine frame (itself DuckDB-pinned at three scales).
    if (keys.contains("sessionize")) timed("sessionize") {
      val ev = Tables.events(spark, src)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      def sessions(df: DataFrame) = {
        val w = Window.partitionBy(col("user_id")).orderBy(asc("ts"), asc("event_id"))
        df.withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > 30L * 60 * 1000000, 1L)
              .otherwise(0L))
          .withColumn("session_id", sum(col("new_session")).over(w.rowsBetween(Long.MinValue, 0)))
          .groupBy(col("user_id"), col("session_id"))
          .agg(
            min(col("ts")).as("session_start"),
            max(col("ts")).as("session_end"),
            count(lit(1)).as("n_events"),
            Relational.sumValue2(col("value")).as("sum_value"))
      }
      val rN = sessions(inflate(ev)).localCheckpoint()
      // Expected = the 1× frame with n_events ×N and the cents sum ×N
      // (recovered exactly from the rounded 2dp value: cents are integral).
      val exp = sessions(ev)
        .withColumn("n_events", col("n_events") * factor)
        .withColumn("sum_value",
          round((round(col("sum_value") * 100) * factor).cast("double") / 100.0, 2))
        .localCheckpoint()
      val cols = exp.columns.toSeq
      val mism = exp.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__c1"))
        .join(rN.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__cN")),
          cols, "full_outer")
        .where(coalesce(col("__cN"), lit(0L)) =!= coalesce(col("__c1"), lit(0L)))
        .count()
      val (n1, nN) = (exp.count(), rN.count())
      val ok = mism == 0 && n1 == nN
      if (!ok) fail = true
      (factor.toLong * ev.count(), Seq(
        s"""{"probe":"sessionize_x$factor","check":"sessions_equal_scaled_1x",""" +
          s""""sessions":[$n1,$nN],"mismatched_groups":$mism,"ok":$ok}"""))
    }

    // ------------------------------------------------------ q_window_rank
    // The graded ranking-window arithmetic over the FULL inflated orders
    // (the graded key's o_custkey ≤ 200 filter dropped — Catalyst pushes
    // partition-key predicates below the Window, so keeping it would
    // shrink the probe to 2% of the volume): 1.455B rows through a real
    // per-custkey partitioned sort. Closed form: every partition's top-3
    // rows are copies of the 1× rank-1 order (copies tie), so the output
    // is the 1× rn=1 frame expanded to rn ∈ {1,2,3} with rk = drk =
    // quartile = 1 (tile 1 spans ceil(n·N/4) ≥ 3 rows whenever a
    // partition has ≥ 12 rows — N alone guarantees that).
    if (keys.contains("window_rank")) timed("window_rank") {
      require(factor >= 12, "window_rank closed form needs partitions of >= 12 rows (quartile 1 spans the top 3)")
      val o = Tables.orders(spark, src)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      def ranked(df: DataFrame): DataFrame = df
        .withColumn("rn", row_number().over(w))
        .withColumn("rk", rank().over(w))
        .withColumn("drk", dense_rank().over(w))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          col("rn").cast("long").as("rn"), col("rk").cast("long").as("rk"),
          col("drk").cast("long").as("drk"), col("quartile"))
      val rN = ranked(inflate(o)).localCheckpoint()
      val exp = ranked(o).where(col("rn") === 1)
        .drop("rn", "rk", "drk", "quartile")
        .crossJoin(spark.range(1, 4).select(col("id").as("rn")))
        .withColumn("rk", lit(1L)).withColumn("drk", lit(1L))
        .withColumn("quartile", lit(1L))
        .select(rN.columns.map(col).toIndexedSeq: _*)
        .localCheckpoint()
      val cols = exp.columns.toSeq
      val mism = exp.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__c1"))
        .join(rN.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__cN")),
          cols, "full_outer")
        .where(coalesce(col("__cN"), lit(0L)) =!= coalesce(col("__c1"), lit(0L)))
        .count()
      val (n1, nN) = (exp.count(), rN.count())
      val ok = mism == 0 && n1 == nN
      if (!ok) fail = true
      (factor.toLong * o.count(), Seq(
        s"""{"probe":"window_rank_x$factor","check":"top3_equals_1x_top1_expanded",""" +
          s""""rows":[$n1,$nN],"mismatched_groups":$mism,"ok":$ok}"""))
    }

    // ----------------------------------------------------- q_window_frame
    // The running-sum frame semantics at full inflated volume, in exact
    // integer cents (the money-window production discipline — a double
    // running sum over 145k-copy frames would accumulate ~1e-4 dollars of
    // float error and the closed form would stop being exact). __copy
    // stays as the ordering tiebreak, so EVERY row's running value is
    // deterministic: copy m (1-based) of 1× row r has
    // run = N·P(r−1) + m·v_r, with P the exact 1× cents prefix. Verified
    // per (custkey, orderkey) group via min / max / Σ (DECIMAL) / count —
    // four exact integers per group, every one order-sensitive.
    if (keys.contains("window_frame")) timed("window_frame") {
      val o = Tables.orders(spark, src)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          Relational.cents(col("o_totalprice")).as("__v"))
      val infl = spark.range(0, factor, 1, parts).select(col("id").as("__copy"))
        .crossJoin(broadcast(o))
      val wN = Window.partitionBy(col("o_custkey"))
        .orderBy(asc("o_orderdate"), asc("o_orderkey"), asc("__copy"))
      val agg = infl
        .withColumn("run", sum(col("__v")).over(wN.rowsBetween(Long.MinValue, 0)))
        .groupBy(col("o_custkey"), col("o_orderkey"))
        .agg(min(col("run")).as("run_min"), max(col("run")).as("run_max"),
          sum(col("run").cast("decimal(38,0)")).as("run_sum"),
          count(lit(1)).as("n"))
        .localCheckpoint()
      val w1 = Window.partitionBy(col("o_custkey"))
        .orderBy(asc("o_orderdate"), asc("o_orderkey"))
      val n = lit(factor.toLong)
      val exp = o
        .withColumn("__p", coalesce(
          sum(col("__v")).over(w1.rowsBetween(Long.MinValue, -1)), lit(0L)))
        .select(col("o_custkey"), col("o_orderkey"),
          (n * col("__p") + col("__v")).as("run_min"),
          (n * (col("__p") + col("__v"))).as("run_max"),
          ((n * n).cast("decimal(38,0)") * col("__p") +
            col("__v").cast("decimal(38,0)") * lit(factor.toLong * (factor + 1L) / 2))
            .cast("decimal(38,0)").as("run_sum"),
          n.as("n"))
        .localCheckpoint()
      val cols = exp.columns.toSeq
      val mism = exp.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__c1"))
        .join(agg.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__cN")),
          cols, "full_outer")
        .where(coalesce(col("__cN"), lit(0L)) =!= coalesce(col("__c1"), lit(0L)))
        .count()
      val (n1, nN) = (exp.count(), agg.count())
      val ok = mism == 0 && n1 == nN
      if (!ok) fail = true
      (factor.toLong * o.count(), Seq(
        s"""{"probe":"window_frame_x$factor","check":"running_cents_min_max_sum_per_order",""" +
          s""""groups":[$n1,$nN],"mismatched_groups":$mism,"ok":$ok}"""))
    }

    // --------------------------------------------------------- q_agg_cube
    // The Expand operator at the sixth decade: CUBE over two columns
    // multiplies every input row into its 4 grouping sets BEFORE the
    // partial aggregate, so the inflated 1.455B lineitem rows become
    // 5.82B expanded rows through map-side combine — the one
    // physical shape (Expand → partial agg) the q1 probe does not
    // exercise. Closed form: every cube cell's n and sum_qty are exactly
    // N× the 1× cell (quantities are integral doubles, exact under any
    // summation order below 2⁵³; ×N keeps Σ ≈ 3.7·10¹¹ ≪ 2⁵³).
    if (keys.contains("cube")) timed("cube") {
      val l = Tables.lineitem(spark, src)
        .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
      def run(df: DataFrame) = df
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      val rN = run(inflate(l)).localCheckpoint()
      val exp = run(l)
        .withColumn("n", col("n") * factor)
        .withColumn("sum_qty", round(col("sum_qty") * factor, 2))
        .localCheckpoint()
      val cols = Seq("l_returnflag", "l_linestatus", "n", "sum_qty")
      val mism = exp.selectExpr(cols: _*)
        .exceptAll(rN.selectExpr(cols: _*)).count() +
        rN.selectExpr(cols: _*).exceptAll(exp.selectExpr(cols: _*)).count()
      val (n1, nN) = (exp.count(), rN.count())
      val ok = mism == 0 && n1 == nN
      if (!ok) fail = true
      (4L * factor * l.count(), Seq(
        s"""{"probe":"cube_x$factor","check":"cells_equal_Nx_1x",""" +
          s""""cells":[$n1,$nN],"mismatched_rows":$mism,"ok":$ok}"""))
    }

    // --------------------------------------------------- q_window_analytic
    // lag/lead/first/last at 970M rows with __copy as the order tiebreak,
    // so every row's neighbors are deterministic: copy m of 1× row r sees
    // prev = v_r (m > 0) or v_{r−1} (m = 0), symmetric for next; first/
    // last are partition constants. Closed form: per 1× row, the N copies
    // produce exactly three (prev, next) classes with counts
    // (N−2, 1, 1) — built from the 1× lag/lead frame and merged by value
    // (classes collide when adjacent values are equal, so BOTH sides
    // canonicalize through the same groupBy).
    if (keys.contains("window_analytic")) timed("window_analytic") {
      require(factor >= 3, "window_analytic closed form needs N >= 3 (the N-2 interior class)")
      val e = Tables.events(spark, src)
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value"), 2).as("v"))
      val infl = spark.range(0, factor, 1, parts).select(col("id").as("__copy"))
        .crossJoin(broadcast(e))
      val wN = Window.partitionBy(col("user_id"))
        .orderBy(asc("ts"), asc("event_id"), asc("__copy"))
      val wNf = wN.rowsBetween(Long.MinValue, Long.MaxValue)
      val got = infl
        .withColumn("prev_v", round(coalesce(lag(col("v"), 1).over(wN), lit(0.0)), 2))
        .withColumn("next_v", round(coalesce(lead(col("v"), 1).over(wN), lit(0.0)), 2))
        .withColumn("first_v", round(first(col("v")).over(wNf), 2))
        .withColumn("last_v", round(last(col("v")).over(wNf), 2))
        .groupBy(col("user_id"), col("event_id"), col("v"),
          col("prev_v"), col("next_v"), col("first_v"), col("last_v"))
        .agg(count(lit(1)).as("__cN"))
        .localCheckpoint()
      val w1 = Window.partitionBy(col("user_id")).orderBy(asc("ts"), asc("event_id"))
      val w1f = w1.rowsBetween(Long.MinValue, Long.MaxValue)
      val n = lit(factor.toLong)
      val exp = e
        .withColumn("pv", round(coalesce(lag(col("v"), 1).over(w1), lit(0.0)), 2))
        .withColumn("nv", round(coalesce(lead(col("v"), 1).over(w1), lit(0.0)), 2))
        .withColumn("first_v", round(first(col("v")).over(w1f), 2))
        .withColumn("last_v", round(last(col("v")).over(w1f), 2))
        .select(col("user_id"), col("event_id"), col("v"), col("first_v"), col("last_v"),
          explode(array(
            struct(col("v").as("prev_v"), col("v").as("next_v"), (n - 2).as("__c")),
            struct(col("pv").as("prev_v"), col("v").as("next_v"), lit(1L).as("__c")),
            struct(col("v").as("prev_v"), col("nv").as("next_v"), lit(1L).as("__c")))).as("cls"))
        .select(col("user_id"), col("event_id"), col("v"),
          col("cls.prev_v"), col("cls.next_v"), col("first_v"), col("last_v"), col("cls.__c"))
        .groupBy(col("user_id"), col("event_id"), col("v"),
          col("prev_v"), col("next_v"), col("first_v"), col("last_v"))
        .agg(sum(col("__c")).as("__c1"))
        .localCheckpoint()
      val cols = Seq("user_id", "event_id", "v", "prev_v", "next_v", "first_v", "last_v")
      val mism = exp.join(got, cols, "full_outer")
        .where(coalesce(col("__cN"), lit(0L)) =!= coalesce(col("__c1"), lit(0L)))
        .count()
      val (n1, nG) = (exp.count(), got.count())
      val ok = mism == 0 && n1 == nG
      if (!ok) fail = true
      (factor.toLong * e.count(), Seq(
        s"""{"probe":"window_analytic_x$factor","check":"lag_lead_first_last_classes",""" +
          s""""groups":[$n1,$nG],"mismatched_groups":$mism,"ok":$ok}"""))
    }

    // ------------------------------------------------------ q_window_dist
    // The distribution window functions under the HARDEST partition
    // shape: 5 order-priority partitions of ~291M rows EACH — a
    // deliberate few-huge-partitions stress (external sort + spill per
    // window task), the regime where per-key windows degenerate at
    // 100 TB. Closed form: ordering is total at 1× (orderkey tiebreak),
    // so copies of 1× row r tie as a block — rank = N·(rn₁−1)+1 and
    // cnt≤ = N·rn₁, giving pct = N·(rn₁−1)/(N·n_p−1) and
    // cume = N·rn₁/(N·n_p). Both sides compute the same exactly-
    // representable integer operands through one correctly-rounded
    // division, so round-6 equality is exact, not approximate.
    if (keys.contains("window_dist")) timed("window_dist") {
      val o = Tables.orders(spark, src)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(asc("o_totalprice"), asc("o_orderkey"))
      val perGroup = inflate(o)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
        .groupBy(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          col("pct_rank"), col("cume"))
        .agg(count(lit(1)).as("__cN"))
        .localCheckpoint()
      val n = lit(factor.toLong)
      val wp = Window.partitionBy(col("o_orderpriority"))
      val exp = o
        .withColumn("__rn", row_number().over(w).cast("long"))
        .withColumn("__np", count(lit(1)).over(wp))
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          round((n * (col("__rn") - 1)).cast("double") /
            (n * col("__np") - 1).cast("double"), 6).as("pct_rank"),
          round((n * col("__rn")).cast("double") /
            (n * col("__np")).cast("double"), 6).as("cume"))
        .withColumn("__c1", n)
        .localCheckpoint()
      val cols = Seq("o_orderkey", "o_orderpriority", "o_totalprice", "pct_rank", "cume")
      val mism = exp.join(perGroup, cols, "full_outer")
        .where(coalesce(col("__cN"), lit(0L)) =!= coalesce(col("__c1"), lit(0L)))
        .count()
      val (n1, nG) = (exp.count(), perGroup.count())
      val ok = mism == 0 && n1 == nG
      if (!ok) fail = true
      (factor.toLong * o.count(), Seq(
        s"""{"probe":"window_dist_x$factor","check":"pct_cume_closed_form_per_group",""" +
          s""""groups":[$n1,$nG],"mismatched_groups":$mism,"ok":$ok}"""))
    }

    // ------------------------------------------------------ q_ngram_jaccard
    // The quadratic pair class at N× pair volume: per-copy candidates
    // (band ∧ block ∧ size-prune, the graded predicate verbatim) and the
    // exact intersect/Jaccard confirm kernel both execute N× the 1×
    // volume, gated bit-exact against the DuckDB-pinned 1× pair list.
    // Scope, stated like q3/q5's: the 1× band frame broadcasts and the
    // inflated side probes it map-side — signature recompute per copy is
    // skipped because the MinHash kernel is deterministic on identical
    // text (property-tested), and the no-broadcast SALTED shuffle layout
    // is not re-proven here (its ×97 materialized-mirror run is that
    // signal; a lazy ×9700 self-join would sort ~2×50 GB of band rows —
    // past this box's free disk, same blocker as the materialized mirror).
    if (keys.contains("ngram_pairs")) timed("ngram_pairs") {
      import graft.engine.Dedup
      import graft.functions.GraftExpressions
      val sigs1 = Dedup.signatures(
          Dedup.blockedDocSets(Tables.documents(spark, src),
            GraftExpressions.charShingles(col("text"), 3, barrier = true),
            "grams", minChars = 3), "grams")
        .where(size(col("grams")) > 0)
        .select(col("doc_id"), col("lang"), col("len_bucket"),
          col("grams"), size(col("grams")).as("__n"), col("bands"))
        .localCheckpoint()
      def bandRows(df: DataFrame, sfx: String, extra: Seq[Column] = Nil) = df.select(
        extra ++ Seq(col("doc_id").as(s"id_$sfx"),
          col("lang").as(s"lang_$sfx"), col("len_bucket").as(s"lb_$sfx"),
          col("__n").as(s"__n_$sfx"),
          posexplode(col("bands")).as(Seq(s"__bi_$sfx", s"__bh_$sfx"))): _*)
      val left = spark.range(0, factor, 1, parts).select(col("id").as("__copy"))
        .crossJoin(broadcast(sigs1.drop("grams")))
      val cand = bandRows(left, "a", Seq(col("__copy")))
        // the graded candidate predicate verbatim: same band position AND
        // hash AND (lang, len_bucket) block, ordered pair, size prune
        .join(broadcast(bandRows(sigs1, "b")),
          col("__bi_a") === col("__bi_b") && col("__bh_a") === col("__bh_b") &&
            col("lang_a") === col("lang_b") && col("lb_a") === col("lb_b") &&
            col("id_a") < col("id_b"))
        // the graded size-ratio prune for τ = 0.8 = 4/5: J ≤ min/max
        .where(lit(5) * least(col("__n_a"), col("__n_b")) >=
          lit(4) * greatest(col("__n_a"), col("__n_b")))
        .select(col("__copy"), col("id_a"), col("id_b"))
      // In-task per-copy dedup + single-pass verification — the same two
      // moves that took containment_pairs to ×9700 (full rationale and
      // the contiguity guard's justification at that probe): the
      // broadcast-join chain keeps every candidate row in its copy's
      // range task and streams copies contiguously, so a per-copy-reset
      // HashSet replaces the global distinct (the ×9700 sort-spill
      // blocker), and grouping sets derive the per-pair AND per-copy
      // counts from ONE kernel pass with no confirmed-frame checkpoint.
      val candDedup = {
        import spark.implicits._
        cand.as[(Long, Long, Long)]
          .mapPartitions { it =>
            val seen = new java.util.HashSet[Long]()
            val closedCopies = new java.util.HashSet[Long]()
            var cur = Long.MinValue
            it.flatMap { case (c, a, b) =>
              if (c != cur) {
                require(!closedCopies.contains(c),
                  s"copy $c reappeared after its contiguous run — in-task dedup unsound here")
                if (cur != Long.MinValue) closedCopies.add(cur)
                cur = c; seen.clear()
              }
              require(a < (1L << 31) && b < (1L << 31), s"id pack overflow: $a,$b")
              if (seen.add((a << 31) | b)) Some((c, a, b)) else None
            }
          }
          .toDF("__copy", "id_a", "id_b")
      }
      // Exact confirm at N× volume, dict attached from the broadcast 1×
      // frame (ids are copy-invariant; the arrays exist once).
      def dict(sfx: String) = sigs1.select(col("doc_id").as(s"id_$sfx"),
        col("grams").as(s"grams_$sfx"), col("__n").as(s"__n_$sfx"))
      val confirmed = candDedup
        .join(broadcast(dict("a")), "id_a").join(broadcast(dict("b")), "id_b")
        .withColumn("inter", GraftExpressions.intersectSize(
          col("grams_a"), col("grams_b"), barrier = true))
        .withColumn("__j", round(col("inter").cast("double") /
          (col("__n_a") + col("__n_b") - col("inter")).cast("double"), 6))
        .withColumn("__isCand", lit(1L))
        .withColumn("__isConf", when(col("__j") >= 0.8, 1L).otherwise(0L))
        .select(col("__copy"), col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          when(col("__isConf") === 1L, col("__j")).as("jaccard"),
          col("__isCand"), col("__isConf"))
      val agg = confirmed
        .groupingSets(
          Seq(Seq(col("doc_a"), col("doc_b"), col("jaccard")), Seq(col("__copy"))),
          col("doc_a"), col("doc_b"), col("jaccard"), col("__copy"))
        .agg(sum(col("__isConf")).as("__cN"), sum(col("__isCand")).as("__candN"),
          grouping_id().as("__gid"))
        .localCheckpoint()
      val perPair = agg.where(col("__gid") === 1 && col("jaccard").isNotNull)
        .select(col("doc_a"), col("doc_b"), col("jaccard"), col("__cN"))
      val perCopy = agg.where(col("__gid") =!= 1)
        .select(col("__copy"), col("__cN"), col("__candN")).localCheckpoint()
      // Closed form: the graded 1× output (DuckDB-pinned), N times each.
      val exp1 = Dedup.queries("q_ngram_jaccard")(spark, src)
        .select(col("doc_a"), col("doc_b"), col("jaccard")).localCheckpoint()
      val mism = exp1.withColumn("__c1", lit(factor.toLong))
        .join(perPair, Seq("doc_a", "doc_b", "jaccard"), "full_outer")
        .where(coalesce(col("__cN"), lit(0L)) =!= coalesce(col("__c1"), lit(0L)))
        .count()
      val n1 = exp1.count()
      val copyTotals = perCopy.agg(
        coalesce(sum(col("__cN")), lit(0L)), coalesce(sum(col("__candN")), lit(0L))).head()
      val (nN, candN) = (copyTotals.getLong(0), copyTotals.getLong(1))
      // Every copy must confirm EXACTLY the 1× pair count — a copy whose
      // count drifts pinpoints nondeterminism in the kernel path.
      val badCopies = perCopy.where(col("__cN") =!= n1).count()
      val copies = perCopy.count()
      val ok = mism == 0 && nN == n1 * factor && badCopies == 0 &&
        copies == factor.toLong
      if (!ok) fail = true
      (candN, Seq(
        s"""{"probe":"ngram_pairs_x$factor","check":"per_copy_pairs_equal_1x",""" +
          s""""pairs_1x":$n1,"pairs_xN":$nN,"candidates_xN":$candN,""" +
          s""""mismatched_groups":$mism,"bad_copies":$badCopies,"ok":$ok}"""))
    }

    // -------------------------------------------------- q_containment_pairs
    // The prefix-filter pair family at N× pair volume (r15 verdict item
    // #8 — extending the ngram_pairs per-copy invariant to the second
    // pair kernel): the graded q_containment_pairs corpus (1/8 doc slice
    // + planted half-truncations) is built ONCE at 1×; per copy, the
    // graded candidate predicate runs verbatim — rarest-token prefix cut
    // with the integer-ceil arithmetic, token join, id_a ≠ id_b, the
    // lossless |B|·τden ≥ |A|·τnum size prune, per-copy distinct — and
    // the exact merge-intersect confirm kernel executes N× the 1×
    // volume. Gate: every copy's confirmed pair list ≡ the graded 1×
    // output (DuckDB-pinned at the graded SFs), per (pair, containment),
    // bad_copies must be 0. Scope, stated like ngram_pairs': the 1×
    // prefix/index/dict frames broadcast (corpus slice ~1.2k docs — KB,
    // not the corpus-sized inverted index the graded key shuffle-joins;
    // that no-broadcast layout has its ×97 signal) — what scales N× here
    // is the candidate join volume and the confirm kernel, which is the
    // class under test.
    //
    // ×9700 (RUN, r16 — DECADEPROBE_x9700cont_r16.json: 7.573B
    // candidates / 3.732B confirmed / 4,802 s, per-copy exact): the
    // historical blocker was never the kernel but the per-(copy, pair)
    // `distinct` — 7.6B rows ≈ 180 GB of sort-spill at ×9700. The shape
    // below removes it: both joins broadcast, so candidate rows never
    // leave their copy's range task, and a per-copy-reset in-task
    // HashSet (see candDedup) dedups with ~30 MB of task state and ZERO
    // corpus-sized shuffle; verification is the jw-probe grouping-sets
    // single kernel pass. (jw_pairs below also runs ×9700 — its kernel
    // consumes the lazy join with no dedup stage at all.)
    if (keys.contains("containment_pairs")) timed("containment_pairs") {
      import graft.engine.Dedup
      import graft.functions.GraftExpressions
      val base = Dedup.fanOut(Tables.documents(spark, src)).where(col("doc_id") % 8 === 0)
        .select(col("doc_id"), Dedup.normTokens(col("text")).as("toks"))
      val planted = base.select((col("doc_id") + 300000L).as("doc_id"),
        slice(col("toks"), lit(1),
          floor((size(col("toks")) + 1) / 2).cast("int")).as("toks"))
      val corpus1 = base.unionByName(planted).where(size(col("toks")) > 0)
        .select(col("doc_id"), col("toks"), size(col("toks")).as("__ns"))
        .localCheckpoint()
      val toks1 = corpus1.select(col("doc_id"), col("__ns"), explode(col("toks")).as("tok"))
      val dfDict = toks1.groupBy(col("tok")).agg(count(lit(1)).as("__df"))
      val byRarity = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(asc("__df"), asc("tok"))
      val prefix1 = toks1.join(dfDict, "tok")
        .withColumn("__rn", row_number().over(byRarity))
        // k = |A| − ceil(τ·|A|) + 1 in true integer division — the graded
        // key's exact recall arithmetic (Dedup.containmentPairs).
        .where(col("__rn") <= expr("__ns - ((__ns * 9 + 9) div 10) + 1"))
        .select(col("doc_id").as("id_a"), col("__ns").as("__na"), col("tok"))
        .localCheckpoint()
      val index1 = toks1.select(col("doc_id").as("id_b"), col("__ns").as("__nb"), col("tok"))
      // IN-TASK per-copy dedup (the ×9700 unlock — see the arithmetic
      // note above): both joins broadcast, so every candidate row stays
      // in its copy's range task, and the broadcast-hash-join chain
      // streams the range side IN ORDER — each copy's candidate rows
      // arrive as one contiguous run. A HashSet over (id_a, id_b) packed
      // into one Long, RESET at each copy boundary, replaces the global
      // `distinct` whose ×9700 sort-spill (~180 GB) was the recorded
      // blocker; set size = one copy's candidates (~30 MB), and the
      // contiguity assumption is GUARDED (a copy reappearing after its
      // run ended fails loudly instead of under-deduping). Task count
      // stays at `parts` (not `factor`): the downstream grouping-sets
      // partial aggregation emits ≤ distinct-pair-groups rows PER TASK,
      // so the shuffle is tasks × groups — 64 tasks keep it in the GBs
      // where one-task-per-copy would make it tasks-squared-ish (~150 GB).
      val candDedup = {
        import spark.implicits._
        spark.range(0, factor, 1, parts).select(col("id").as("__copy"))
          .crossJoin(broadcast(prefix1))
          .join(broadcast(index1), "tok")
          .where(col("id_a") =!= col("id_b") &&
            col("__nb") * 10 >= col("__na") * 9)
          .select(col("__copy"), col("id_a"), col("id_b"))
          .as[(Long, Long, Long)]
          .mapPartitions { it =>
            val seen = new java.util.HashSet[Long]()
            val closedCopies = new java.util.HashSet[Long]()
            var cur = Long.MinValue
            it.flatMap { case (c, a, b) =>
              if (c != cur) {
                require(!closedCopies.contains(c),
                  s"copy $c reappeared after its contiguous run — in-task dedup unsound here")
                if (cur != Long.MinValue) closedCopies.add(cur)
                cur = c; seen.clear()
              }
              require(a < (1L << 31) && b < (1L << 31), s"id pack overflow: $a,$b")
              if (seen.add((a << 31) | b)) Some((c, a, b)) else None
            }
          }
          .toDF("__copy", "id_a", "id_b")
      }
      def dict(sfx: String) = corpus1.select(col("doc_id").as(s"id_$sfx"),
        col("toks").as(s"toks_$sfx"), col("__ns").as(s"__n$sfx"))
      val confirmed = candDedup
        .join(broadcast(dict("a")), "id_a").join(broadcast(dict("b")), "id_b")
        .withColumn("inter", GraftExpressions.intersectSize(
          col("toks_a"), col("toks_b"), barrier = true))
        .withColumn("__isCand", lit(1L))
        .withColumn("__isConf",
          when(col("inter") * 10 >= col("__na") * 9, 1L).otherwise(0L))
        .select(col("__copy"), col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          when(col("__isConf") === 1L,
            round(col("inter").cast("double") / col("__na").cast("double"), 6))
            .as("containment"),
          col("__isCand"), col("__isConf"))
      // Single kernel pass (the jw_pairs grouping-sets discipline): the
      // per-pair face counts CONFIRMED multiplicities; the per-copy face
      // carries both candidate and confirmed sums, so the candidate
      // count needs no second pass either.
      val agg = confirmed
        .groupingSets(
          Seq(Seq(col("doc_a"), col("doc_b"), col("containment")), Seq(col("__copy"))),
          col("doc_a"), col("doc_b"), col("containment"), col("__copy"))
        .agg(sum(col("__isConf")).as("__cN"), sum(col("__isCand")).as("__candN"),
          grouping_id().as("__gid"))
        .localCheckpoint()
      val perPair = agg.where(col("__gid") === 1 && col("containment").isNotNull)
        .select(col("doc_a"), col("doc_b"), col("containment"), col("__cN"))
      val perCopy = agg.where(col("__gid") =!= 1)
        .select(col("__copy"), col("__cN"), col("__candN")).localCheckpoint()
      val exp1 = Dedup.queries("q_containment_pairs")(spark, src)
        .select(col("doc_a"), col("doc_b"), col("containment")).localCheckpoint()
      val mism = exp1.withColumn("__c1", lit(factor.toLong))
        .join(perPair, Seq("doc_a", "doc_b", "containment"), "full_outer")
        .where(coalesce(col("__cN"), lit(0L)) =!= coalesce(col("__c1"), lit(0L)))
        .count()
      val n1 = exp1.count()
      val copyTotals = perCopy.agg(
        coalesce(sum(col("__cN")), lit(0L)), coalesce(sum(col("__candN")), lit(0L))).head()
      val (nN, candN) = (copyTotals.getLong(0), copyTotals.getLong(1))
      val badCopies = perCopy.where(col("__cN") =!= n1).count()
      val copies = perCopy.count()
      val ok = mism == 0 && nN == n1 * factor && badCopies == 0 &&
        copies == factor.toLong
      if (!ok) fail = true
      (candN, Seq(
        s"""{"probe":"containment_pairs_x$factor","check":"per_copy_pairs_equal_1x",""" +
          s""""pairs_1x":$n1,"pairs_xN":$nN,"candidates_xN":$candN,""" +
          s""""mismatched_groups":$mism,"bad_copies":$badCopies,"ok":$ok}"""))
    }

    // ------------------------------------------------- q_jw_threshold_join
    // The edit-distance pair kernel at N× volume (r15 verdict item #8's
    // optional extension): per copy, the graded brand-blocked self-join
    // runs verbatim — a_key < b_key ordering, the codegen'd Jaro-Winkler
    // kernel under the JwLengthPruning rewrite, τ = JwJoinTau — against
    // the broadcast 1× part frame; every copy's confirmed pair list must
    // equal the graded 1× output (DuckDB-pinned). Unlike the set-kernel
    // probes the candidate space is NOT materialized (≈8M brand pairs ×
    // N would be ~7.8G rows at ×970): the kernel consumes the lazy join
    // and only confirmed pairs (n1 × N rows, KBs) persist — the
    // candidate count reported is the closed form N · Σ_b n_b(n_b−1)/2.
    if (keys.contains("jw_pairs")) timed("jw_pairs") {
      import graft.engine.FuzzyJoin
      import graft.functions.GraftExpressions.jaroWinkler
      graft.functions.JwLengthPruning.ensure(spark)
      val p1 = Tables.part(spark, src)
        .select(col("p_partkey"), col("p_name"), col("p_brand")).localCheckpoint()
      // c·(c−1) is even, so the integer-exact form is (c·(c−1)) div 2.
      val pairs1 = p1.groupBy(col("p_brand")).agg(count(lit(1)).as("c"))
        .agg(sum(expr("(c * (c - 1)) div 2"))).head().getLong(0)
      val a = p1.select(col("p_partkey").as("a_key"), col("p_name").as("a_name"),
        col("p_brand"))
      val b = p1.select(col("p_partkey").as("b_key"), col("p_name").as("b_name"),
        col("p_brand"))
      val confirmed = spark.range(0, factor, 1, parts).select(col("id").as("__copy"))
        .crossJoin(broadcast(a))
        .join(broadcast(b), "p_brand")
        .where(col("a_key") < col("b_key"))
        .withColumn("jw", round(jaroWinkler(col("a_name"), col("b_name")), 6))
        .where(col("jw") >= lit(FuzzyJoin.JwJoinTau))
        .select(col("__copy"), col("a_key"), col("b_key"), col("jw"))
      // ONE kernel pass (this is what unlocks ×9700, the pair family's
      // sixth decade): the confirmed frame at ×9700 is ~1.5B rows — a
      // localCheckpoint would spill ~45 GB, and separate per-pair /
      // per-copy aggregations would re-run the 7.76B×10-pair kernel once
      // each. GROUPING SETS computes both aggregations from a single
      // kernel pass; map-side partial aggregation collapses each task's
      // rows to ≤(n1 + copies-per-task) entries before any shuffle, so
      // the exchange moves KBs, not the confirmed row set.
      val agg = confirmed
        .groupingSets(
          Seq(Seq(col("a_key"), col("b_key"), col("jw")), Seq(col("__copy"))),
          col("a_key"), col("b_key"), col("jw"), col("__copy"))
        .agg(count(lit(1)).as("__cN"), grouping_id().as("__gid"))
        .localCheckpoint()
      val perPair = agg.where(col("__gid") === 1) // grouped by (a,b,jw); __copy aggregated
        .select(col("a_key"), col("b_key"), col("jw"), col("__cN"))
      val perCopy = agg.where(col("__gid") =!= 1)
        .select(col("__copy"), col("__cN")).localCheckpoint()
      val exp1 = FuzzyJoin.queries("q_jw_threshold_join")(spark, src)
        .select(col("a_key"), col("b_key"), col("jw")).localCheckpoint()
      val mism = exp1.withColumn("__c1", lit(factor.toLong))
        .join(perPair, Seq("a_key", "b_key", "jw"), "full_outer")
        .where(coalesce(col("__cN"), lit(0L)) =!= coalesce(col("__c1"), lit(0L)))
        .count()
      val n1 = exp1.count()
      val nN = perCopy.agg(coalesce(sum(col("__cN")), lit(0L))).head().getLong(0)
      val badCopies = perCopy.where(col("__cN") =!= n1).count()
      val copies = perCopy.count()
      val candN = factor.toLong * pairs1
      val ok = mism == 0 && nN == n1 * factor && badCopies == 0 &&
        copies == factor.toLong
      if (!ok) fail = true
      (candN, Seq(
        s"""{"probe":"jw_pairs_x$factor","check":"per_copy_pairs_equal_1x",""" +
          s""""pairs_1x":$n1,"pairs_xN":$nN,"candidates_xN":$candN,""" +
          s""""mismatched_groups":$mism,"bad_copies":$badCopies,"ok":$ok}"""))
    }

    // ---------------------------------------------------------- kll_sketch
    // The KLL equi-depth route at the fifth decade (r16 verdict item #7 —
    // the arbitrary-precision half of the percentile story, next to the
    // PercentileSpec buffer-bound proof): the ENGINE's sketch pipeline
    // (Sketches.kllSketchBytes — real per-partition KllDoublesSketch
    // updates, driver merge of the bounded byte artifacts) ingests the
    // lazily-inflated l_quantity column at N× volume, then the 9 decile
    // bin edges it reports are graded against the CLOSED-FORM quantiles
    // of the inflated distribution: uniform N× replication leaves every
    // value's normalized rank identical to the 1× frame's, so the exact
    // rank of each reported edge — and each equi-depth bin's exact mass —
    // is computable on the 1× frame while the sketch itself did the
    // full N× ingest. Gate: every |rank(edge_q) − q| ≤ ε and every bin
    // mass within [0.1 − 2ε, 0.1 + 2ε], ε = 1.65%·2 (the published
    // two-sided k=200 band the graded _check twin pins at sf0.01).
    if (keys.contains("kll_sketch")) timed("kll_sketch") {
      import graft.engine.Sketches
      import org.apache.datasketches.kll.KllDoublesSketch
      val li1 = Tables.lineitem(spark, src)
        .select(col("l_quantity").cast("double").as("v")).na.drop.localCheckpoint()
      val n1 = li1.count()
      val inflated = spark.range(0, factor, 1, parts).crossJoin(broadcast(li1))
      val bytes = Sketches.kllSketchBytes(inflated, "v")
      val sk = KllDoublesSketch.heapify(
        org.apache.datasketches.memory.Memory.wrap(bytes))
      val qs = (1 to 9).map(_ / 10.0)
      val edges = qs.map(sk.getQuantile)
      val eps = 0.0165 * 2
      // Exact normalized ranks of the 9 edges in ONE 1×-frame pass.
      val rankCols = edges.zipWithIndex.map { case (e, i) =>
        avg(when(col("v") <= e, 1.0).otherwise(0.0)).as(s"__r$i")
      }
      val r = li1.agg(rankCols.head, rankCols.tail: _*).head()
      val ranks = edges.indices.map(r.getDouble)
      val binMass = (0.0 +: ranks :+ 1.0).sliding(2).map(p => p(1) - p(0)).toSeq
      val edgeOk = qs.zip(ranks).forall { case (q, rk) => math.abs(rk - q) <= eps }
      val binsOk = binMass.forall(m => m >= 0.1 - 2 * eps && m <= 0.1 + 2 * eps)
      val nOk = sk.getN == n1 * factor
      val ok = edgeOk && binsOk && nOk
      if (!ok) fail = true
      (n1 * factor, Seq(
        s"""{"probe":"kll_equidepth_x$factor","check":"bin_edges_within_eps",""" +
          s""""sketch_n":${sk.getN},"rows_1x":$n1,"eps":$eps,""" +
          s""""edges":[${edges.mkString(",")}],"edge_ranks":[${ranks.mkString(",")}],""" +
          s""""bin_mass":[${binMass.map(m => f"$m%.6f").mkString(",")}],""" +
          s""""edge_ok":$edgeOk,"bins_ok":$binsOk,"n_ok":$nOk,"ok":$ok}"""))
    }

    spark.stop()
    if (fail) sys.exit(1)
  }
}
