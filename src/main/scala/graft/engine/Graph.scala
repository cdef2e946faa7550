package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over corpus-derived graphs — the two staples a data
  * pipeline actually runs on its OWN artifacts rather than on an external
  * graph store: PageRank over the event-transition graph (which screen /
  * event type accumulates attention once transition structure, not raw
  * counts, decides) and triangle counting over the near-duplicate pair
  * graph (the density/clique metric that validates a dedup threshold —
  * a near-dup graph whose triangle mass explodes is template families,
  * not chance collisions).
  *
  * Scale shape, deliberately split in two:
  *   - corpus → graph is the only corpus-scale stage (one window shuffle
  *     on user_id for transitions; banded LSH candidate generation for
  *     near-dup edges — never all-pairs);
  *   - the iteration/enumeration then runs on the DERIVED graph: the
  *     transition graph is bounded by |event types|² (model-state sized,
  *     like Stats' ≤25-nation frame), while the triangle join shuffles on
  *     vertex keys with per-task fan-out bounded by the max clique size.
  *   The derived graph's size picks each finish: [[pagerank]] and the
  *   triangle census collect a graph that fits [[DriverFinishRows]] and
  *   finish on the driver, and run their distributed forms past it.
  */
object Graph {
  import Tables.events
  type Q = (SparkSession, String) => DataFrame

  val Damping = 0.85
  val PrIters = 10

  /** Weighted directed edge list of consecutive-event transitions,
    * (src, dst, n) — the same per-user (ts, event_id) total order as
    * EventAnalytics.qEventTransitions (deterministic: that key is unique).
    */
  private[graft] def transitionEdges(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.withColumn("next_type", lead(col("event_type"), 1).over(w))
      .where(col("next_type").isNotNull)
      .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
      .agg(count(lit(1)).cast("double").as("n"))
  }

  /** PageRank with uniform teleport and uniform dangling redistribution:
    *   r₀(v) = 1/N;  r_{t+1}(v) = (1−d)/N + d·Σ_u r_t(u)·P(u,v)
    * where P rows sum to 1 — dangling nodes (no outgoing edges) get
    * explicit uniform edges to every node, so total rank mass is
    * conserved exactly (spec-asserted) instead of leaking per iteration.
    * d = [[Damping]], [[PrIters]] iterations.
    *
    * Determinism contract: each iteration's rank is rounded to 12
    * decimals IN BOTH ENGINES (the oracle unrolls the same iterations),
    * so float-summation-order noise (~1e-16 per ≤N-term sum) is absorbed
    * at every step instead of compounding across iterations — the same
    * discipline as the cosine keys' round-then-compare, applied per
    * iteration because the computation is iterative.
    *
    * `edgesIn` carries (src, dst, n), `nodesIn` a `node` column. Two
    * finishes, one result (GraphSpec pins rows and schema): when the
    * edges and the distinct nodes each fit [[DriverFinishRows]] they are
    * collected (one bounded collect each) and iterated on the driver
    * ([[pagerankOnDriver]]); otherwise [[pagerankDistributed]] runs the
    * same iterations as DataFrame ops.
    */
  def pagerank(edgesIn: DataFrame, nodesIn: DataFrame): DataFrame =
    pagerankWithin(edgesIn, nodesIn, DriverFinishRows)

  /** [[pagerank]] with the driver budget as a parameter — the seam
    * GraphSpec uses to force the distributed loop.
    */
  private[graft] def pagerankWithin(edgesIn: DataFrame, nodesIn: DataFrame,
      budget: Int): DataFrame = {
    val nodes = nodesIn.select(col("node")).distinct().limit(budget + 1).collect().map(_.get(0))
    val edges = if (nodes.length > budget) None else indexedEdges(edgesIn, nodes, budget)
    edges.map(pagerankOnDriver(nodesIn, nodes, _)).getOrElse(pagerankDistributed(edgesIn, nodesIn))
  }

  /** `edgesIn`'s (src, dst, n) rows as src and dst indices into `nodes`
    * (−1 off the node set) and weights, if there are at most `budget` —
    * so the collected Rows are garbage before the driver loop runs.
    */
  private def indexedEdges(edgesIn: DataFrame, nodes: Array[Any],
      budget: Int): Option[(Array[Int], Array[Int], Array[Double])] = {
    val rows = edgesIn.select(col("src"), col("dst"), col("n").cast("double"))
      .limit(budget + 1).collect()
    if (rows.length > budget) return None
    val index = new java.util.HashMap[Any, Int](2 * nodes.length)
    nodes.indices.foreach(i => index.put(nodes(i), i))
    def at(v: Any): Int = if (index.containsKey(v)) index.get(v) else -1
    Some((rows.map(r => at(r.get(0))), rows.map(r => at(r.get(1))), rows.map(_.getDouble(2))))
  }

  /** The distributed form of [[pagerank]] for node sets past the driver
    * budget (user- or document-level graphs): every per-iteration
    * materialization runs distributed — proven at 97M nodes by
    * tools/GraphScale's closed-form cycle probe.
    */
  private[graft] def pagerankDistributed(edgesIn: DataFrame, nodesIn: DataFrame): DataFrame = {
    // Materialize the edge list ONCE — it feeds three plan branches
    // (outflow totals, normalized edges, dangling detection); unpinned,
    // the corpus-scale window behind it would run three times.
    val edges = edgesIn.localCheckpoint()
    val nodes = nodesIn.select(col("node")).distinct().localCheckpoint()
    val n = nodes.count().toDouble
    val outw = edges.groupBy(col("src")).agg(sum(col("n")).as("w"))
    // Row-stochastic transition frame over the real edges, one row per
    // edge — scanned once per iteration.
    val p = edges.join(outw, "src")
      .select(col("src"), col("dst"), (col("n") / col("w")).as("p"))
      .localCheckpoint()
    // A dangling node spreads its rank uniformly over all nodes; that
    // is one scalar per iteration (their rank sum / n), not D·N edges.
    val dangling = nodes
      .join(edges.select(col("src")).distinct(), col("node") === col("src"), "left_anti")
      .localCheckpoint()
    var ranks = nodes.select(col("node"), round(lit(1.0 / n), 12).as("r"))
    var i = 0
    while (i < PrIters) {
      val contrib = ranks.join(p, col("node") === col("src"))
        .groupBy(col("dst")).agg(sum(col("r") * col("p")).as("m"))
        .select(col("dst").as("cnode"), col("m"))
      val spread = ranks.join(dangling, "node")
        .agg((coalesce(sum(col("r")), lit(0.0)) / n).as("d"))
      // Eager tiny materialization per iteration: keeps the loop's plan
      // depth constant (a 10-deep nested join/agg plan costs more in
      // analysis than these ≤|nodes|-row jobs cost to run) — the same
      // reason Dedup.nearDupComponents checkpoints every round.
      ranks = nodes.join(contrib, col("node") === col("cnode"), "left").crossJoin(spread)
        .select(col("node"),
          round(lit((1 - Damping) / n) +
            lit(Damping) * (coalesce(col("m"), lit(0.0)) + col("d")), 12).as("r"))
        .localCheckpoint()
      i += 1
    }
    ranks
  }

  /** The driver finish of [[pagerank]] over the collected distinct
    * `nodes` and the [[indexedEdges]]: the distributed form's iterations
    * on dense node indices — the transition-type graph would otherwise
    * pay ~13 driver-synchronous tiny jobs to move ≤|types|² rows through
    * full stage machinery. Same explicit dangling redistribution, same
    * per-iteration HALF_UP round-12 (java.math.BigDecimal — exactly
    * Spark's `round`); the iteration contract already absorbs sum-order
    * noise at every step, and each sum still runs in edge order.
    */
  private def pagerankOnDriver(nodesIn: DataFrame, nodes: Array[Any],
      edges: (Array[Int], Array[Int], Array[Double])): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    def round12(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()
    val n = nodes.length
    val (src, dst, w) = edges
    // Rank flows only between nodes, as through the distributed form's
    // joins; an edge out of a node adds to its out-weight wherever it ends.
    val outw = new Array[Double](n)
    val hasOut = new Array[Boolean](n)
    var e = 0
    while (e < src.length) {
      if (src(e) >= 0) { outw(src(e)) += w(e); hasOut(src(e)) = true }
      e += 1
    }
    val dangling = (0 until n).filterNot(hasOut).toArray
    var ranks = Array.fill(n)(round12(1.0 / n))
    var i = 0
    while (i < PrIters) {
      val contrib = new Array[Double](n)
      e = 0
      while (e < src.length) {
        if (src(e) >= 0 && dst(e) >= 0) contrib(dst(e)) += ranks(src(e)) * (w(e) / outw(src(e)))
        e += 1
      }
      // Dangling nodes redistribute uniformly (the explicit 1/n edges).
      val danglingMass = dangling.iterator.map(ranks(_)).sum
      ranks = Array.tabulate(n)(v =>
        round12((1 - Damping) / n + Damping * (contrib(v) + danglingMass / n)))
      i += 1
    }
    // The distributed form's schema: Spark's `round` is nullable.
    val schema = StructType(Seq(nodesIn.schema("node"),
      StructField("r", DoubleType, nullable = true)))
    pairFrame(nodesIn.sparkSession, schema, nodes, ranks)
  }

  /** Graded PageRank over the event-transition type graph: (node, pr),
    * pr rounded to 8 decimals. Oracle: the identical 10 iterations
    * unrolled as SQL CTE stages with the same per-iteration rounding.
    */
  val qGraphPagerank: Q = (s, d) => {
    val ev = events(s, d)
    pagerank(transitionEdges(ev), ev.select(col("event_type").as("node")))
      .select(col("node"), round(col("r"), 8).as("pr"))
      .orderBy("node")
  }

  /** Jaccard threshold for the triangle graph — 0.97 keeps the near-dup
    * graph sparse enough that triangle enumeration is output-bounded
    * (sf0.1: 36k edges / 2.5M triangles vs 965k / 308M at the dedup
    * keys' 0.9), while still being served EXACTLY by the 0.9-tuned LSH
    * banding: pairs ≥ 0.97 are a subset of pairs ≥ 0.9, and band
    * collision probability is monotone in similarity, so the candidate
    * set that is exhaustive at 0.9 (q_minhash_recall pins zero misses)
    * is exhaustive a fortiori here.
    */
  val TriangleTau = 0.97

  /** Per-node triangle counts over an undirected edge list given as
    * (a, b) with a < b: enumerate wedges a→b→c (the id-orientation makes
    * each triangle appear exactly once as a < b < c), close them against
    * the edge list, then credit all three corners. Two equi-joins on
    * vertex keys — no all-pairs stage anywhere; per-task fan-out is
    * bounded by the max out-degree under the id orientation — fine for
    * near-uniform graphs, but a low-id HUB fans out to its whole
    * neighborhood (wedges ~ deg², the scale-killer
    * [[triangleCountsDegreeOriented]] exists for).
    */
  def triangleCounts(edgesIn: DataFrame): DataFrame = {
    // One artifact, three plan consumers.
    val e = edgesIn.select(col("a"), col("b")).localCheckpoint()
    val wedges = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("a"), col("e1.b").as("b"), col("e2.b").as("c"))
    val closing = e.select(col("a").as("ca"), col("b").as("cb"))
    val tri = wedges
      .join(closing, col("a") === col("ca") && col("c") === col("cb"))
      .select(col("a"), col("b"), col("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Undirected edges (a, b) re-oriented low→high by (degree, id) rank —
    * the Schank–Wagner orientation: every out-neighbor of u outranks u,
    * so out-degree(u) ≤ √(2m) for ALL u (if out-degree(u) = k, each of
    * u's k higher-ranked out-neighbors has degree ≥ k, giving ≥ k²/2
    * edges ⇒ k ≤ √(2m)) — degree is carried on both endpoints so the
    * wedge stage can order dst pairs without another join.
    */
  private[graft] def orientByDegree(e: DataFrame): DataFrame = {
    val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "dega"), "a")
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "degb"), "b")
    val aLower = col("dega") < col("degb") ||
      (col("dega") === col("degb") && col("a") < col("b"))
    withDeg.select(
      when(aLower, col("a")).otherwise(col("b")).as("src"),
      when(aLower, col("b")).otherwise(col("a")).as("dst"),
      when(aLower, col("degb")).otherwise(col("dega")).as("dst_deg"))
  }

  /** Rows a driver finish may collect: at or under it, the near-dup
    * components ([[Dedup.nearDupComponents]]), the triangle census
    * ([[triangleCountsDegreeOriented]]) and [[pagerank]] (edges and nodes
    * each) collect their graph once and finish on the driver; over it,
    * they run their distributed forms.
    * At fixture scale the distributed forms cost jobs, not rows (~11k
    * edges, 16–28 jobs per key), and every job pays a fixed cost.
    *
    * Measured at the budget (2^20 pairs; local[4] session, JDK 17, 4-vCPU
    * Xeon): the collected pairs are 16 MB of primitive arrays, and a whole
    * components or triangle call runs in a 512 MB heap that also holds the
    * local executor's cached edges (384 MB fails); sampled peak heap use
    * stays under 440 MB. Worst-case driver work: components over 2^21
    * distinct docs ≈ 1.5–2.3 s for the whole call (sort + union-find);
    * triangles are bounded by m·√(2m) wedge checks, and the dense worst
    * case — a 1,448-node clique, m = 1,047,628, 5.0·10⁸ triangles —
    * takes ≈ 2.7 s for the whole call. PageRank at the budget (2^20
    * edges over 2^20 string nodes, cycles or half of them dangling)
    * completes in a 512 MB heap at its limit — heap use after GC
    * reaches 509 MB — in 15–21 s for the whole call, 11.5–16 s with
    * 1 GB; the 10 × 2^20 BigDecimal round-12s take ≈ 10 s of it. On the
    * cycles the distributed form takes ≈ 48 s.
    */
  val DriverFinishRows: Int = 1 << 20

  /** The first two columns of `df` as primitive arrays if `df` has at
    * most `budget` rows, else None; None too when a column is not
    * LongType or holds a null (the driver finishes handle neither, so the
    * distributed forms keep their semantics for such input). One job:
    * coalesced to one partition, a single task packs the pairs and stops
    * reading at row budget + 1, so neither side ever holds more than
    * budget pairs — 16 bytes each, not a Row per pair. `df` should be
    * materialized: past the budget the caller's distributed form reads it
    * again.
    */
  private[graft] def collectLongPairs(df: DataFrame,
      budget: Int = DriverFinishRows): Option[(Array[Long], Array[Long])] = {
    import org.apache.spark.sql.types.LongType
    if (df.schema.fields.take(2).exists(_.dataType != LongType)) return None
    df.coalesce(1).queryExecution.toRdd.mapPartitions { rows =>
      val (a, b) = (Array.newBuilder[Long], Array.newBuilder[Long])
      var (n, fits) = (0, true)
      while (fits && rows.hasNext) {
        val r = rows.next()
        fits = n < budget && !r.isNullAt(0) && !r.isNullAt(1)
        if (fits) { a += r.getLong(0); b += r.getLong(1); n += 1 }
      }
      Iterator(if (fits) (a.result(), b.result()) else null)
    }.collect().headOption.flatMap(Option(_))
  }

  /** A DataFrame of (c0(i), c1(i)) rows under `schema`, shipped as one
    * array chunk per default-parallelism slice — the driver finishes'
    * output, without a Row per result on the driver.
    */
  private[graft] def pairFrame[A, B](spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      c0: Array[A], c1: Array[B]): DataFrame = {
    val k = math.max(1, math.min(c0.length, spark.sparkContext.defaultParallelism))
    val chunks = (0 until k).map { j =>
      val (from, to) = ((c0.length.toLong * j / k).toInt, (c0.length.toLong * (j + 1) / k).toInt)
      (c0.slice(from, to), c1.slice(from, to))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(chunks, k).flatMap {
      case (x, y) => x.indices.iterator.map(i => Row(x(i), y(i)))
    }, schema)
  }

  /** The sorted distinct ids of `a` and `b`, and each side mapped to its
    * index there — so index order is id order.
    */
  private[graft] def denseIds(a: Array[Long],
      b: Array[Long]): (Array[Long], Array[Int], Array[Int]) = {
    val all = a ++ b
    java.util.Arrays.sort(all)
    var n = 0
    var i = 0
    while (i < all.length) {
      if (n == 0 || all(n - 1) != all(i)) { all(n) = all(i); n += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(all, n)
    def index(x: Array[Long]) = x.map(java.util.Arrays.binarySearch(ids, _))
    (ids, index(a), index(b))
  }

  /** Skew-proof triangle census: the (degree, id) re-orientation of
    * [[triangleCounts]]. Wedges form at the LOWEST-ranked corner of each
    * triangle — two out-edges (src→d1, src→d2) with rank(d1) < rank(d2)
    * — and close against the oriented edge (d1→d2), which exists with
    * exactly that orientation because rank ordering is total; each
    * triangle is therefore enumerated exactly once and per-node counts
    * equal the id-oriented form's (GraphSpec pins hash-equality on the
    * fixture graph and on planted corners).
    *
    * The (a, b) input is localCheckpointed once. When it has at most
    * [[DriverFinishRows]] rows it is collected and enumerated on the
    * driver under the same orientation ([[trianglesOnDriver]]);
    * otherwise [[triangleCountsDistributed]] runs on the checkpoint.
    * Both return the same rows and schema.
    *
    * Scale contract: per-center wedge fan-out is bounded by
    * out-degree ≤ √(2m) REGARDLESS of the degree distribution, in both
    * forms — on a planted hub/star graph the id-orientation's wedge
    * stage grows ~deg(hub)² while this form's stays linear in m
    * (ScaleSmoke gates the planted-skew frame at ×N through the
    * distributed form). This is the form the graded key runs; the
    * id-oriented sibling remains for the invariance spec.
    */
  def triangleCountsDegreeOriented(edgesIn: DataFrame): DataFrame = {
    // One job; it stays because the bounded collect and, past the budget,
    // the distributed form's three plan consumers all read these edges.
    val e = edgesIn.select(col("a"), col("b")).localCheckpoint()
    collectLongPairs(e)
      .map { case (a, b) => trianglesOnDriver(e, a, b) }
      .getOrElse(triangleCountsDistributed(e))
  }

  /** The distributed form of [[triangleCountsDegreeOriented]]: orient,
    * self-join out-edges into wedges, close them against the oriented
    * edges, credit all three corners. `e` (a, b) should be materialized:
    * the orientation feeds three plan consumers, whose identical
    * exchanges Spark reuses, and each would otherwise re-read `e`'s
    * lineage.
    */
  private[graft] def triangleCountsDistributed(e: DataFrame): DataFrame = {
    val o = orientByDegree(e.select(col("a"), col("b")))
    val d1LowerThanD2 = col("e1.dst_deg") < col("e2.dst_deg") ||
      (col("e1.dst_deg") === col("e2.dst_deg") && col("e1.dst") < col("e2.dst"))
    val wedges = o.as("e1")
      .join(o.as("e2"), col("e1.src") === col("e2.src") && d1LowerThanD2)
      .select(col("e1.src").as("u"), col("e1.dst").as("v"), col("e2.dst").as("w"))
    val closing = o.select(col("src").as("cv"), col("dst").as("cw"))
    val tri = wedges
      .join(closing, col("v") === col("cv") && col("w") === col("cw"))
      .select(col("u"), col("v"), col("w"))
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_triangles"))
  }

  /** The driver finish of [[triangleCountsDegreeOriented]] over the
    * collected edges (a(i), b(i)) of `e`. Same (degree, id) orientation
    * and same multiset semantics as [[triangleCountsDistributed]]: an
    * edge listed twice counts twice, a self-loop adds to its node's
    * degree and closes wedges exactly as the join does.
    *
    * For each center u, its out-neighbours are marked with their edge
    * multiplicity; every out-edge v→w of every out-neighbour v (w ≠ v)
    * that lands on a marked w closes mult(u→v)·mult(u→w)·mult(v→w)
    * triangles. The work is Σ_u Σ_{v ∈ out(u)} |out(v)| ≤ m·√(2m), the
    * distributed form's wedge bound.
    */
  private def trianglesOnDriver(e: DataFrame, a: Array[Long], b: Array[Long]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val (ids, ia, ib) = denseIds(a, b)
    val n = ids.length
    val m = a.length
    val deg = new Array[Int](n)
    var i = 0
    while (i < m) { deg(ia(i)) += 1; deg(ib(i)) += 1; i += 1 }
    // Oriented edges as sorted (src << 32 | dst) keys, run-length collapsed
    // into CSR form: out(u) = (dst, mult)(outOff(u) until outOff(u + 1)).
    val key = new Array[Long](m)
    i = 0
    while (i < m) {
      val (x, y) = (ia(i), ib(i))
      val xLower = deg(x) < deg(y) || (deg(x) == deg(y) && x < y)
      key(i) = if (xLower) (x.toLong << 32) | y else (y.toLong << 32) | x
      i += 1
    }
    java.util.Arrays.sort(key)
    val outOff = new Array[Int](n + 1)
    val dst = new Array[Int](m)
    val mult = new Array[Long](m)
    var k = 0
    i = 0
    while (i < m) {
      if (i > 0 && key(i) == key(i - 1)) mult(k - 1) += 1
      else {
        dst(k) = key(i).toInt; mult(k) = 1; k += 1
        outOff((key(i) >>> 32).toInt + 1) += 1
      }
      i += 1
    }
    var u = 0
    while (u < n) { outOff(u + 1) += outOff(u); u += 1 }
    val mark = new Array[Long](n)
    val tri = new Array[Long](n)
    u = 0
    while (u < n) {
      var j = outOff(u)
      while (j < outOff(u + 1)) { mark(dst(j)) = mult(j); j += 1 }
      j = outOff(u)
      while (j < outOff(u + 1)) {
        val v = dst(j)
        var l = outOff(v)
        while (l < outOff(v + 1)) {
          val w = dst(l)
          if (w != v && mark(w) > 0) {
            val t = mult(j) * mark(w) * mult(l)
            tri(u) += t; tri(v) += t; tri(w) += t
          }
          l += 1
        }
        j += 1
      }
      j = outOff(u)
      while (j < outOff(u + 1)) { mark(dst(j)) = 0; j += 1 }
      u += 1
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType, e.schema("a").nullable || e.schema("b").nullable),
      StructField("n_triangles", LongType, nullable = false)))
    val hit = (0 until n).filter(tri(_) > 0).toArray
    pairFrame(e.sparkSession, schema, hit.map(ids(_)), hit.map(tri(_)))
  }

  /** Graded triangle census of the document near-dup graph at τ = 0.97:
    * (doc_id, n_triangles) for every document in ≥ 1 triangle. Edges come
    * from the SAME banded MinHash-LSH pipeline as q_neardup_lsh (exact
    * Jaccard confirm, so the edge set equals the brute-force oracle's).
    * The pair stage runs `Auto` shape dispatch, like q_neardup_components:
    * Broadcast under the doc cap, the no-broadcast Salted form past it.
    */
  val qGraphTriangles: Q = (s, d) => {
    val edges = Dedup.lshNearDupPairs(Dedup.minhashBands(s, d), "toks",
        97, 100, TriangleTau, Dedup.Auto(), ordered = false)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    triangleCountsDegreeOriented(edges)
      .orderBy(desc("n_triangles"), col("doc_id"))
  }

  /** Planted-skew probe frame (ScaleSmoke-only, not graded): a hub
    * vertex (-1) adjacent to EVERY doc id plus the consecutive-id chain
    * (i, i+1) — so deg(hub) = n while every triangle (hub, i, i+1)
    * needs one chain edge, making the output linear in n. Under id
    * orientation the hub (lowest id) would center ~n²/2 wedges — the
    * star-graph blowup the degree orientation exists to kill: here the
    * hub outranks everything, every edge points INTO it, and wedges
    * form only at chain nodes (out-degree ≤ 3). ScaleSmoke gates the
    * ratio at ×N; the n² form would blow its budget by ~N.
    */
  def starTriangleFrame(s: SparkSession, d: String): DataFrame = {
    val ids = Tables.documents(s, d).select(col("doc_id"))
    val star = ids.select(lit(-1L).as("a"), col("doc_id").as("b"))
    val chain = ids.as("l")
      .join(ids.as("r"), col("l.doc_id") + 1 === col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
    triangleCountsDistributed(star.union(chain).localCheckpoint())
  }

  val queries: Map[String, Q] = Map(
    "q_graph_pagerank" -> qGraphPagerank,
    "q_graph_triangles" -> qGraphTriangles
  )
}
