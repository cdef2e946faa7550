package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.{Dedup, Graph}

/** nearDupComponents: connected components over a pair list — the
  * cluster-then-keep-canonical step a principled dedup pipeline needs
  * (pairwise doc_b-dropping keeps every locally-minimal doc, i.e.
  * multiple representatives per transitive cluster).
  */
class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val rows = Dedup.nearDupComponents(pairs.toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect()
    assert(rows.map(_._1).distinct.length == rows.length,
      s"duplicate doc_id rows emitted: ${rows.toSeq.sorted}")
    rows.toMap
  }

  /** The driver finish (default budget) against the distributed loop
    * (budget 0 forces it): same rows, same schema. maxIter binds only the
    * distributed loop, which throws before its first round at maxIter 0
    * — so a result from `maxIter = 0` proves the driver finish ran.
    */
  private def assertFinishesAgree(pairs: org.apache.spark.sql.DataFrame): Unit = {
    val driver = Dedup.componentsWithin(pairs, 0, None, Graph.DriverFinishRows)
    val distributed = Dedup.componentsWithin(pairs, Dedup.ComponentsMaxIter, None, budget = 0)
    assert(driver.schema == distributed.schema,
      s"${driver.schema.treeString} vs ${distributed.schema.treeString}")
    val (d, s) = (driver.as[(Long, Long)].collect().sorted.toSeq,
      distributed.as[(Long, Long)].collect().sorted.toSeq)
    assert(d == s, s"driver=$d distributed=$s")
  }

  private val soup = (1 to 80).map { i =>
    val h = i * 2654435761L
    val a = math.floorMod(h, 60L); val b = math.floorMod(h >> 7, 60L)
    (math.min(a, b), math.max(a, b) + 1) // +1 avoids self-loops
  }.distinct

  test("driver finish equals the distributed loop: chain, clique + cross-link, soup, merge") {
    assertFinishesAgree(Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b"))
    assertFinishesAgree((
      (1L to 9L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (20L, 22L), (21L, 22L)) ++
      Seq((10L, 20L))).toDF("doc_a", "doc_b"))
    assertFinishesAgree(soup.toDF("doc_a", "doc_b"))
    assertFinishesAgree(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L),
      (21L, 22L)).toDF("doc_a", "doc_b"))
  }

  test("driver finish equals the distributed loop on nullable fixture pairs") {
    // LSH pairs carry nullable id columns, unlike the toDF shapes above.
    assertFinishesAgree(Dedup.qNeardupLsh(spark, TestSpark.sfDir)
      .select("doc_a", "doc_b").localCheckpoint())
  }

  test("an input over the driver budget takes the distributed loop") {
    // maxIter binds the distributed loop only: one round cannot settle a
    // 40-node chain, so the over-budget run throws while the driver
    // finish (no rounds) returns the single component.
    val chain = (1L to 39L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException](
      Dedup.componentsWithin(chain, 1, None, budget = 38))
    assert(e.getMessage.contains("did not converge"))
    val atBudget = Dedup.componentsWithin(chain, 1, None, budget = 39)
    assert(atBudget.as[(Long, Long)].collect().toMap == (1L to 40L).map(_ -> 1L).toMap)
  }

  test("frontier-filtered rounds are bit-equal to full-frontier rounds") {
    // The r17 frontier optimization's equivalence pin: run the loop once
    // with the production frontier (changed labels only) via the
    // distributed finish (budget 0), and once passing the FULL label set as the
    // frontier every round — per-round results and the fixpoint must
    // coincide (the scaladoc's monotonicity proof, checked on a shape
    // with a long chain, a clique, and a cross-link so late rounds have
    // a genuinely small frontier).
    val pairs = (
      (1L to 9L).map(i => (i, i + 1)) ++            // chain 1..10
      Seq((20L, 21L), (20L, 22L), (21L, 22L)) ++    // clique
      Seq((10L, 20L))                               // cross-link
    ).toDF("doc_a", "doc_b")
    val prod = Dedup.componentsWithin(pairs, 30, None, budget = 0)
      .as[(Long, Long)].collect().toMap
    // Full-frontier replay of the same loop.
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")).localCheckpoint()
    var labels = edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("component"))
      .select(col("src").as("doc_id"), col("component")).localCheckpoint()
    var it = 0
    var converged = false
    while (it < 30 && !converged) {
      val next = Dedup.componentsRound(edges, labels, labels)
        .localCheckpoint()
      converged = next.where(col("__moved")).limit(1).count() == 0
      labels = next.drop("__moved", "__changed")
      it += 1
    }
    val full = labels.as[(Long, Long)].collect().toMap
    assert(prod == full, s"frontier=$prod full=$full")
  }

  test("a transitive chain collapses to one component labeled by its min id") {
    // 1-2, 2-3, 3-4 (no direct 1-4): all one cluster.
    val got = components(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("disjoint clusters keep separate labels") {
    val got = components(Seq((1L, 2L), (10L, 11L), (11L, 12L), (20L, 21L)))
    assert(got == Map(1L -> 1L, 2L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("matches a reference union-find on a generated pair soup") {
    // Deterministic pseudo-random edges over 60 nodes.
    val pairs = soup
    // Reference: tiny union-find.
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val want = pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(x => x -> find(x)).toMap
    val got = components(pairs)
    assert(got == want)
  }

  test("reliable checkpoint dir: same components, checkpoint files actually written") {
    // The cluster fault-tolerance path: every round materializes to the
    // reliable dir via df.checkpoint() instead of executor-local blocks.
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val got = Dedup.nearDupComponents(pairs.toDF("doc_a", "doc_b"),
        checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // budget 0: the rounds of the distributed loop checkpoint there too.
    assert(Dedup.componentsWithin(pairs.toDF("doc_a", "doc_b"), 30, Some(dir),
      budget = 0).as[(Long, Long)].collect().toMap == got)
    val written = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(written > 0, s"no checkpoint files under $dir")
  }

  test("end-to-end: components over q_neardup_lsh pairs cover every paired doc") {
    val pairs = graft.engine.Dedup.qNeardupLsh(spark, "/root/testdata/sf0.01")
      .select("doc_a", "doc_b")
    val comp = Dedup.nearDupComponents(pairs)
    val docs = pairs.select(col("doc_a").as("d")).union(pairs.select(col("doc_b").as("d")))
      .distinct().count()
    assert(comp.count() == docs)
    // Every component label is a member of its own component (canonical id).
    val selfLabeled = comp.as[(Long, Long)].collect().groupBy(_._2)
      .forall { case (label, members) => members.exists(_._1 == label) }
    assert(selfLabeled)
  }
}
