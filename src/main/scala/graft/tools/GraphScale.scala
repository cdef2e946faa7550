package graft.tools

import org.apache.spark.sql.functions._

import graft.engine.Graph

/** Fifth-decade gate for the graph family (r16 verdict item #6): the two
  * graded graph kernels run at 97,000,000-node/edge volume against
  * CLOSED-FORM expectations — iterative convergence and wedge counting
  * are exactly the shapes that misbehave at scale (checkpoint lineage,
  * skewed degree), and neither had an at-scale artifact.
  *
  *  - `pagerank_cycles`: [[Graph.pagerankDistributed]] — the form
  *    [[Graph.pagerank]] runs past its driver budget, called directly so
  *    a small GRAPH_N still measures it (per-iteration distributed
  *    materialization) — over N nodes arranged
  *    in N/1000 DISJOINT directed 1000-cycles. Every node has exactly
  *    one out-edge and one in-edge, so by symmetry every iteration
  *    assigns every node the IDENTICAL rank, and the whole run reduces
  *    to the scalar recurrence r ← round((1−d)/N + d·r, 12) from
  *    r₀ = round(1/N, 12) — replicated bit-exactly driver-side with the
  *    same HALF_UP decimal rounding Spark's `round` applies. Checks:
  *    exactly N ranks, EXACTLY ONE distinct rank value, and that value
  *    == the scalar recurrence. A lost edge creates a dangling node
  *    (uniform redistribution shifts every rank off the recurrence), a
  *    duplicated edge halves its source's transition weight, a stale
  *    lineage re-reads an earlier iteration — each breaks single-value
  *    equality, so the gate is sensitive to the failure modes of the
  *    loop, not just its arithmetic.
  *  - `triangles_star`: [[Graph.triangleCountsDistributed]] — the
  *    graded key's skew-proof kernel past its driver budget — over the hub+chain frame at N ids: a
  *    hub vertex adjacent to ALL N ids plus the consecutive-id chain,
  *    2N−1 edges with deg(hub) = N (the adversarial skew the
  *    Schank–Wagner orientation exists to kill; id-orientation would
  *    center ~N²/2 wedges on the hub). Closed form: triangles are
  *    exactly (hub, i, i+1) per chain edge — hub in N−1 triangles, the
  *    two chain endpoints in 1 each, every interior id in 2 — checked
  *    as the full per-count histogram {1: 2, 2: N−2, N−1: 1} plus the
  *    3·(N−1) incidence total.
  *
  * Run: GRAPH_N (default 97,000,000 — must be a multiple of 1000),
  * GRAPH_KEYS (default both). Prints one JSON line per probe + a
  * summary; exit 1 on any failure.
  */
object GraphScale {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("GRAPH_N", "97000000").toLong
    require(n % 1000 == 0 && n >= 2000, s"GRAPH_N $n must be a multiple of 1000")
    val keys = sys.env.getOrElse("GRAPH_KEYS", "pagerank_cycles,triangles_star")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet

    val spark = graft.Sessions.local(32, 256, confs = Seq("spark.io.compression.codec" -> "zstd"))

    var fail = false

    if (keys.contains("pagerank_cycles")) {
      val t0 = System.nanoTime()
      val nodes = spark.range(0, n, 1, 256).select(col("id").as("node"))
      // Disjoint directed 1000-cycles: i → base + (pos + 1) mod 1000.
      val edges = spark.range(0, n, 1, 256).select(
        col("id").as("src"),
        ((col("id") - (col("id") % 1000)) + (col("id") % 1000 + 1) % 1000).as("dst"),
        lit(1.0).as("n"))
      val ranks = Graph.pagerankDistributed(edges, nodes).localCheckpoint()
      val agg = ranks.agg(count(lit(1)), countDistinct(col("r")),
        min(col("r")), max(col("r"))).head()
      val (rows, distinctR) = (agg.getLong(0), agg.getLong(1))
      val rVal = agg.getDouble(2)
      // The scalar recurrence with Spark round()'s HALF_UP decimal
      // semantics (Round on DoubleType goes through BigDecimal).
      def r12(x: Double): Double =
        BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      var expect = r12(1.0 / n)
      (0 until Graph.PrIters).foreach { _ =>
        expect = r12((1 - Graph.Damping) / n + Graph.Damping * expect)
      }
      val ok = rows == n && distinctR == 1 && rVal == expect
      if (!ok) fail = true
      println(s"""{"probe":"pagerank_cycles_n$n","mode":"distributed","iters":${Graph.PrIters},""" +
        s""""rows":$rows,"distinct_ranks":$distinctR,"rank":$rVal,"expected":$expect,""" +
        s""""ok":$ok,"wall_sec":${(System.nanoTime() - t0) / 1e9}}""")
    }

    if (keys.contains("triangles_star")) {
      val t0 = System.nanoTime()
      val ids = spark.range(0, n, 1, 256)
      val star = ids.select(lit(-1L).as("a"), col("id").as("b"))
      val chain = ids.where(col("id") < n - 1)
        .select(col("id").as("a"), (col("id") + 1).as("b"))
      val tri = Graph.triangleCountsDistributed(star.union(chain).localCheckpoint())
        .localCheckpoint()
      // Histogram of per-node triangle counts — closed form.
      val hist = tri.groupBy(col("n_triangles")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val hubRow = tri.where(col("doc_id") === -1L)
        .select(col("n_triangles")).collect().map(_.getLong(0)).toSeq
      val incidences = tri.agg(sum(col("n_triangles"))).head().getLong(0)
      val ok = hist == Map(1L -> 2L, 2L -> (n - 2), (n - 1) -> 1L) &&
        hubRow == Seq(n - 1) && incidences == 3 * (n - 1)
      if (!ok) fail = true
      val histJson = hist.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      println(s"""{"probe":"triangles_star_n$n","edges":${2 * n - 1},""" +
        s""""hist":{$histJson},"hub_triangles":${hubRow.mkString(",")},""" +
        s""""incidences":$incidences,"ok":$ok,"wall_sec":${(System.nanoTime() - t0) / 1e9}}""")
    }

    println(s"""{"graph_scale":{"n":$n,"pass":${!fail}}}""")
    spark.stop()
    if (fail) sys.exit(1)
  }
}
