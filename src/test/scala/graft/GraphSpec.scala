package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import graft.engine.Graph

/** Semantics the mirrored PageRank/triangle oracles cannot independently
  * witness (both sides share the iteration/enumeration shape): rank mass
  * must be conserved EXACTLY under dangling nodes, the stationary
  * ordering must reflect link structure (not raw degree), and triangle
  * credit must hit each corner of each triangle exactly once.
  */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def edges(rows: (String, String, Double)*) =
    rows.toDF("src", "dst", "n")
  private def nodes(ns: String*) = ns.toDF("node")

  test("pagerank conserves total rank mass to 1 with a dangling node") {
    // c has no outgoing edges — without explicit uniform dangling
    // redistribution its mass would leak every iteration and the total
    // would decay below 1.
    val r = Graph.pagerank(
      edges(("a", "b", 1.0), ("b", "c", 1.0)), nodes("a", "b", "c"))
      .select(sum(col("r"))).as[Double].head()
    assert(math.abs(r - 1.0) < 1e-9, s"rank mass $r != 1")
  }

  // Five nodes and five edges; e is dangling (no out-edges).
  private def prEdges = edges(("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 3.0),
    ("c", "a", 1.0), ("d", "a", 2.0))
  private def prNodes = nodes("a", "b", "c", "d", "e")

  /** Whether `df` is the driver finish's output: the distributed loop
    * ends in a local checkpoint, the driver finish ships its arrays. */
  private def onDriver(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD => !r.rdd.isCheckpointed
      case _ => false
    }

  // Eight nodes, half of them dangling (e, f, g, h).
  private def halfDanglingEdges = edges(("a", "b", 1.0), ("a", "c", 2.0), ("b", "e", 1.0),
    ("c", "f", 1.0), ("d", "g", 1.0))
  private def halfDanglingNodes = nodes("a", "b", "c", "d", "e", "f", "g", "h")

  test("pagerank driver finish equals pagerankDistributed: rows and schema") {
    // The distributed loop is the path past the budget (and GraphScale's
    // at 97M nodes); budget 0 forces it through the seam. Same
    // iterations, same per-iteration rounding, so the ranks match
    // bit-for-bit, the dangling nodes' uniform redistribution included.
    for ((es, ns) <- Seq((prEdges, prNodes), (halfDanglingEdges, halfDanglingNodes))) {
      val driver = Graph.pagerank(es, ns)
      val dist = Graph.pagerankWithin(es, ns, budget = 0)
      assert(onDriver(driver) && !onDriver(dist))
      assert(driver.schema == dist.schema,
        s"${driver.schema.treeString} vs ${dist.schema.treeString}")
      assert(driver.orderBy("node").collect().toSeq == dist.orderBy("node").collect().toSeq)
      val mass = dist.select(sum(col("r"))).as[Double].head()
      assert(math.abs(mass - 1.0) < 1e-9, s"rank mass $mass != 1")
    }
  }

  test("pagerankDistributed's dangling mass stays linear: no operator outputs more than E + N rows") {
    // Redistributing the dangling mass as edges from each dangling node
    // to every node makes D·N rows — 32 here, against E + N = 13 — in
    // the transition frame and in every iteration's join with it.
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Graph.pagerankDistributed(halfDanglingEdges, halfDanglingNodes)
      assert(org.apache.spark.GraftListenerBusAccess.waitUntilEmpty(spark.sparkContext, 30000L))
    } finally spark.listenerManager.unregister(listener)
    val plans = { import scala.jdk.CollectionConverters._; seen.asScala.toSeq }
    // The edge and node checkpoints, the transition frame and each
    // iteration's rank materialization at least.
    assert(plans.size > Graph.PrIters, s"${plans.size} executions seen")
    val helper = new AdaptiveSparkPlanHelper {}
    val rows = plans.flatMap(p => helper.collect(p) {
      case op if op.metrics.contains("numOutputRows") =>
        (op.nodeName, op.metrics("numOutputRows").value)
    })
    val limit = 5 + 8
    assert(rows.nonEmpty && rows.forall(_._2 <= limit),
      s"operators over E + N = $limit rows: ${rows.filter(_._2 > limit).distinct}")
  }

  test("a pagerank input over the driver budget takes the distributed loop") {
    // At the budget both the 5 nodes and the 5 edges fit; one under it,
    // either side alone over it sends the run to the distributed loop.
    assert(onDriver(Graph.pagerankWithin(prEdges, prNodes, budget = 5)))
    assert(!onDriver(Graph.pagerankWithin(prEdges, prNodes, budget = 4)))
    val fewNodes = nodes("a", "b", "c", "d") // 5 edges, 4 nodes
    val dist = Graph.pagerankWithin(prEdges, fewNodes, budget = 4)
    assert(!onDriver(dist))
    assert(dist.orderBy("node").collect().toSeq ==
      Graph.pagerank(prEdges, fewNodes).orderBy("node").collect().toSeq)
  }

  test("pagerank ranks a pure sink above its feeders in a star graph") {
    // a, b, d all point at hub; hub is dangling (redistributes uniformly).
    val r = Graph.pagerank(
      edges(("a", "hub", 1.0), ("b", "hub", 1.0), ("d", "hub", 1.0)),
      nodes("a", "b", "d", "hub"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("hub") > r("a") && r("a") == r("b") && r("b") == r("d"),
      s"star ranks wrong: $r")
  }

  test("pagerank weights edges: a 9:1 outflow split ranks targets 9:1-ish") {
    // s splits outflow 90/10 between x and y; x must end well above y.
    val r = Graph.pagerank(
      edges(("s", "x", 9.0), ("s", "y", 1.0), ("x", "s", 1.0), ("y", "s", 1.0)),
      nodes("s", "x", "y"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("x") > 2 * r("y"), s"weighted split not reflected: $r")
  }

  test("triangle counts credit each corner of each triangle exactly once") {
    // K4 on {1,2,3,4}: 4 triangles, each node in exactly 3 of them.
    // The pendant edge (4,9) creates no triangle and node 9 must be absent.
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 9L)).toDF("a", "b")
    val got = Graph.triangleCounts(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $got")
  }

  test("pagerank over the streamed transition changelog equals the batch key") {
    // The online rendering: edges maintained by transitionStream's
    // per-user state (two-batch seam), the bounded iteration then runs
    // on the changelog aggregate — graph analytics fed by streaming
    // state rather than a corpus re-scan.
    import graft.streaming.Streams
    import graft.streaming.Streams.Event
    val fixture = graft.engine.Tables.events(spark, TestSpark.sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"), col("value"))
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    val (b1, b2) = fixture.splitAt(fixture.size / 2)
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event](
      Streams.sessionConf(spark))
    val q = Streams.start(
      Streams.transitionStream(ms.toDS()).toDF(),
      Streams.MemoryStreamSink("pr_transition_stream",
        Some(java.nio.file.Files.createTempDirectory("graft-prs").toString)))
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val edges = spark.table("pr_transition_stream")
      .groupBy(col("from_type").as("src"), col("to_type").as("dst"))
      .agg(count(lit(1)).cast("double").as("n"))
    val nodes = graft.engine.Tables.events(spark, TestSpark.sfDir)
      .select(col("event_type").as("node"))
    val online = Graph.pagerank(edges, nodes)
      .select(col("node"), round(col("r"), 8).as("pr"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val batch = SparkEntry.queries("q_graph_pagerank")(spark, TestSpark.sfDir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(online == batch, s"online $online vs batch $batch")
  }

  test("degree orientation is count-invariant vs id orientation (K4 + fixture graph)") {
    // Counts are a property of the undirected graph; the orientation only
    // decides WHERE wedges form. Pin equality on the planted K4+pendant
    // and on the real fixture near-dup graph.
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 9L)).toDF("a", "b")
    val gotK4 = Graph.triangleCountsDegreeOriented(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotK4 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $gotK4")
    val edges = graft.engine.Dedup.lshNearDupPairs(
        graft.engine.Dedup.minhashBands(spark, TestSpark.sfDir), "toks",
        97, 100, Graph.TriangleTau, graft.engine.Dedup.Broadcast)
      .select(col("doc_a").as("a"), col("doc_b").as("b")).localCheckpoint()
    val idOriented = Graph.triangleCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val degOriented = Graph.triangleCountsDegreeOriented(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(idOriented == degOriented,
      s"orientation changed counts: ${idOriented.size} vs ${degOriented.size}")
    assert(degOriented.nonEmpty, "fixture graph must contain triangles")
  }

  test("planted star: degree orientation bounds wedge fan-out where id orientation explodes") {
    // Hub 0 adjacent to every leaf 1..n, chain (i, i+1) between leaves:
    // one triangle (0, i, i+1) per chain edge. Under id orientation the
    // hub (lowest id) centers C(n,2) wedges; under (degree, id) rank the
    // hub outranks everything, every edge points INTO it, and the max
    // out-degree — the per-task fan-out bound — stays ≤ √(2m).
    val n = 200L
    val star = (1L to n).map(i => (0L, i))
    val chain = (1L until n).map(i => (i, i + 1))
    val e = (star ++ chain).toDF("a", "b")
    val m = star.size + chain.size
    val maxOut = Graph.orientByDegree(e)
      .groupBy(col("src")).agg(count(lit(1)).as("out"))
      .agg(max(col("out"))).head().getLong(0)
    assert(maxOut <= math.ceil(math.sqrt(2.0 * m)).toLong,
      s"degree-oriented max out-degree $maxOut exceeds sqrt(2m)")
    // id orientation: the hub's out-degree IS n — the deg² wedge source.
    val counts = Graph.triangleCountsDegreeOriented(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(0L) == n - 1, s"hub must corner one triangle per chain edge: $counts")
    assert(counts == Graph.triangleCounts(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      "star counts must be orientation-invariant")
  }

  private def triangleMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("distributed degree-oriented form equals triangleCounts (K4, fixture graph, star)") {
    // The graded key finishes on the driver at fixture scale, so the
    // distributed form (the path past the budget, and ScaleSmoke's and
    // GraphScale's) is pinned here directly against the id-oriented
    // reference; the tests above pin the driver path against it.
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 9L)).toDF("a", "b")
    val fixture = graft.engine.Dedup.lshNearDupPairs(
        graft.engine.Dedup.minhashBands(spark, TestSpark.sfDir), "toks",
        97, 100, Graph.TriangleTau, graft.engine.Dedup.Broadcast)
      .select(col("doc_a").as("a"), col("doc_b").as("b")).localCheckpoint()
    val n = 200L
    val star = ((1L to n).map(i => (0L, i)) ++ (1L until n).map(i => (i, i + 1)))
      .toDF("a", "b")
    for ((name, e) <- Seq("k4" -> k4, "fixture" -> fixture, "star" -> star)) {
      val dist = Graph.triangleCountsDistributed(e.localCheckpoint())
      val driver = Graph.triangleCountsDegreeOriented(e)
      assert(triangleMap(dist) == triangleMap(Graph.triangleCounts(e)), name)
      assert(triangleMap(driver) == triangleMap(dist), name)
      assert(driver.schema == dist.schema,
        s"$name: ${driver.schema.treeString} vs ${dist.schema.treeString}")
    }
  }

  test("driver triangle finish keeps the distributed form's multigraph semantics") {
    // A repeated edge and a self-loop: the distributed joins count each
    // listed edge and close wedges through the loop; the driver finish
    // must give the same rows rather than a simple-graph answer.
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 3L), (3L, 4L), (2L, 4L),
      (2L, 2L), (5L, 6L)).toDF("a", "b")
    val driver = triangleMap(Graph.triangleCountsDegreeOriented(e))
    assert(driver.nonEmpty && driver ==
      triangleMap(Graph.triangleCountsDistributed(e.localCheckpoint())), s"driver $driver")
  }

  test("graded triangle key matches brute-force exact-Jaccard on sf0.001") {
    val docs = graft.engine.Tables.documents(spark, TestSpark.sfDir)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
      .localCheckpoint()
    val brute = docs.as("x").join(docs.as("y"), col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        (size(array_intersect(col("x.toks"), col("y.toks"))).cast("double") /
          size(array_union(col("x.toks"), col("y.toks")))).as("j"))
      .where(col("j") >= Graph.TriangleTau)
      .select(col("a"), col("b"))
    val expected = Graph.triangleCounts(brute)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = SparkEntry.queries("q_graph_triangles")(spark, TestSpark.sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, s"LSH-edge triangles differ from brute force")
  }
}
