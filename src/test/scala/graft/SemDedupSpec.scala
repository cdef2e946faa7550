package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{Ivf, SemDedup}

/** SemDeDup semantics the mirrored oracle cannot independently witness
  * (both engines replicate the same pipeline, so a shared semantic slip
  * would hash-match): exactly the planted copies must be pruned, each to
  * its own original; clustering must be run-deterministic under the
  * rounding contract; and the prune rule must be within-cell only.
  */
class SemDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val result =
    SparkEntry.queries("q_semdedup")(spark, TestSpark.sfDir).collect()

  test("exactly the planted near-copies are pruned, each to its original") {
    val pruned = result.filter(_.getBoolean(3))
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val nBase = graft.engine.Tables.embeddings(spark, TestSpark.sfDir).count()
    val expected = (0L until nBase by 25L).map(i => (SemDedup.PlantOffset + i) -> i).toMap
    assert(pruned == expected,
      s"pruned set ${pruned.size} != planted ${expected.size}")
  }

  test("every kept vector has rep null; corpus is base + planted copies") {
    assert(result.filter(!_.getBoolean(3)).forall(_.isNullAt(2)))
    val nBase = graft.engine.Tables.embeddings(spark, TestSpark.sfDir).count()
    assert(result.length == nBase + (nBase + 24) / 25)
  }

  test("clustering is run-deterministic (centroid rounding holds)") {
    // Two independent evaluations must agree bit-for-bit — the
    // 9-decimal per-update rounding is what absorbs Spark's own
    // partial-agg summation-order noise; without it cell assignments
    // near Voronoi boundaries could flip between runs.
    val again = SparkEntry.queries("q_semdedup")(spark, TestSpark.sfDir).collect()
    assert(result.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("planted copies co-cluster with their originals at fixture scale") {
    // Not required for oracle agreement (both engines make the same
    // call either way) but required for the prune semantics to fire:
    // a copy only meets its original inside one cell.
    val cells = result.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val copies = cells.keys.filter(_ >= SemDedup.PlantOffset)
    assert(copies.nonEmpty &&
      copies.forall(c => cells(c) == cells(c - SemDedup.PlantOffset)))
  }

  test("scaled-k prune agrees with fixed-k on the planted near-copy set") {
    // The production mode (k ∝ n, Ivf-trained cells, map-only NearestCell
    // assignment) partitions space differently from the graded fixed-k=8
    // clustering, so full outputs differ — but the DECISIONS on the
    // planted near-copies must coincide: every copy pruned, each to its
    // own original, and nothing else pruned (natural cosines top out at
    // 0.61, far under τ = 0.8, regardless of the cell structure).
    val scaled = SemDedup.scaledPrune(spark, TestSpark.sfDir).collect()
    val prunedScaled = scaled.filter(_.getBoolean(3))
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val prunedFixed = result.filter(_.getBoolean(3))
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(prunedScaled == prunedFixed,
      s"scaled ${prunedScaled.size} vs fixed ${prunedFixed.size} prune decisions")
    assert(scaled.length == result.length, "same corpus must be traced")
  }

  test("two-level prune agrees with flat-scaled and fixed-k on the planted set") {
    // The beyond-broadcast path (coarse sqrt(k) + per-coarse sub-cells,
    // single probe) partitions space differently near coarse boundaries,
    // but planted near-copies sit at cos ~ 1 from their originals - same
    // coarse AND sub cell - so the prune decisions must be identical.
    val two = SemDedup.scaledPruneTwoLevel(spark, TestSpark.sfDir).collect()
    val prunedTwo = two.filter(_.getBoolean(3))
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val prunedFixed = result.filter(_.getBoolean(3))
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(prunedTwo == prunedFixed,
      s"two-level ${prunedTwo.size} vs fixed ${prunedFixed.size} prune decisions")
    assert(two.length == result.length, "same corpus must be traced")
  }

  test("graded scaled faces agree with their Ivf-trained production twins") {
    // The r12 graded keys replace Ivf.train's xxhash64 seed sample with
    // id-order seeds + rounded Lloyd (the oracle-replicable discipline)
    // but keep the identical scale shape (k ∝ n, map-only / equi-join
    // assignment, bounded cells). Different cell structures ⇒ different
    // full traces, but the planted prune DECISIONS must coincide with
    // the production faces AND the fixed-k key.
    val prunedFixed = result.filter(_.getBoolean(3))
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    for (key <- Seq("q_semdedup_scaled", "q_semdedup_scaled2")) {
      val det = SparkEntry.queries(key)(spark, TestSpark.sfDir).collect()
      val prunedDet = det.filter(_.getBoolean(3))
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(prunedDet == prunedFixed,
        s"$key ${prunedDet.size} vs fixed ${prunedFixed.size} prune decisions")
      assert(det.length == result.length, s"$key must trace the same corpus")
    }
  }

  test("planted-truth corpus (q=4): both scaled faces reproduce the closed form exactly") {
    // CI face of tools/SemDedupPlant (r14 verdict item #1): a corpus whose
    // every cell id and keep/prune decision is a closed-form function of
    // the row index by construction margins — the INDEPENDENT oracle for
    // the scaled faces whose DuckDB clustering oracle dies at mirror
    // scale. q=4 → k=16 sites × 64 members = 1024 rows; the r15 artifact
    // runs the same construction at q=56 (200,704 rows ≈ the ×97 scale).
    import graft.tools.SemDedupPlant
    val dir = java.nio.file.Files.createTempDirectory("graft-plant").toString
    SemDedupPlant.corpus(spark, 4).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val exp = SemDedupPlant.expected(spark, 4).localCheckpoint()
    for ((key, cellCol) <- Seq("q_semdedup_scaled" -> "cell_flat",
        "q_semdedup_scaled2" -> "cell_two")) {
      val got = SparkEntry.queries(key)(spark, dir)
        .select(col("vec_id"), col("cell"), col("rep"), col("pruned"))
      val e = exp.withColumnRenamed(cellCol, "cell")
        .select(col("vec_id"), col("cell"), col("rep"), col("pruned"))
      assert(got.exceptAll(e).count() == 0 && e.exceptAll(got).count() == 0,
        s"$key diverges from the closed form")
    }
  }

  test("an empty corpus clusters to the empty assignment") {
    val empty = SemDedup.plantedCorpus(spark, TestSpark.sfDir).where(lit(false))
    val cells = SemDedup.deterministicCells(empty, SemDedup.K, 1)
    assert(cells.columns.toSeq.take(2) == Seq("vec_id", "cell"))
    assert(cells.collect().isEmpty)
  }

  test("Lloyd updates reject a null or short vector with a declared error") {
    // The column-sum mean divides Σ element_at(v, i) by count(1): a null
    // vector would shrink its centroid and a short one would throw from
    // ANSI element_at. All three update sites refuse both up front.
    val corpus = SemDedup.plantedCorpus(spark, TestSpark.sfDir)
    val last = col("vec_id") === corpus.agg(max(col("vec_id"))).head().get(0)
    val bad = Seq(
      "null" -> corpus.withColumn("v",
        when(last, lit(null).cast("array<double>")).otherwise(col("v"))),
      "short" -> corpus.withColumn("v",
        when(last, slice(col("v"), 1, 3)).otherwise(col("v"))))
    val sites = Seq[(String, DataFrame => Unit)](
      "deterministicCells" -> (c => SemDedup.deterministicCells(c, SemDedup.K, 1).collect()),
      "deterministicScaledCells" -> (c => SemDedup.deterministicScaledCells(c, SemDedup.K).collect()),
      "Ivf.train" -> (c => Ivf.train(c.withColumnRenamed("v", "embedding"), SemDedup.K).collect()))
    for ((what, c) <- bad; (site, run) <- sites) {
      val e = intercept[IllegalArgumentException](run(c))
      assert(e.getMessage.contains("uniform non-null vectors"), s"$site on a $what vector")
    }
  }

  test("all eight id-order seed cells are non-empty after one update") {
    // A seed is distance-0 to its own centroid at assignment 0, so with
    // Iters = 1 no cell can empty out — the precondition that lets both
    // engines skip empty-cell carry-forward.
    val cellIds = result.map(_.getLong(1)).distinct.sorted
    assert(cellIds.sameElements(0L until SemDedup.K),
      s"cells present: ${cellIds.mkString(",")}")
  }
}
