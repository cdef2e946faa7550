package graft.tools

import org.apache.spark.sql.functions._
import graft.engine.{CosineLsh, Dedup, Ivf, Tables}

/** Runnable end-to-end EMBEDDING curation + indexing pipeline — the
  * vector-side twin of `PipelineMain`, composed only of library
  * operators:
  *
  *   embeddings
  *     → drop zero vectors (no direction, cosine undefined)
  *     → exact dedup on the vector bytes (min vec_id survives)
  *     → cosine near-dup (hyperplane LSH, Auto shape) → components
  *       → keep each cluster's canonical (min) vector
  *     → train IVF-Flat coarse quantizer on the curated corpus
  *     → persist the cell assignment (the index artifact)
  *     → run a sample ANN query through the persisted index
  *
  * Usage: runMain graft.tools.VectorPipelineMain [sfDir] [outDir]
  * Every stage is a shuffle-bounded DataFrame op; only the k×dim
  * centroid matrix ever touches the driver.
  */
object VectorPipelineMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.drop(1).headOption.getOrElse("/tmp/graft_vec_pipeline")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Sessions.local(cpus.toInt, logLevel = "WARN")
    Tables.configure(spark)

    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
    // Demo-only augmentation: the fixture has no duplicate vectors (max
    // pairwise cosine 0.60), so plant one perturbed near-copy per 10th
    // vector — same construction as the graded q_cosine_neardup — so the
    // dedup stages below visibly fire.
    val planted = base.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x * lit(1.1)).otherwise(x)).as("embedding"))
    val raw = base.unionByName(planted)
    val total = raw.count()

    // 1. Zero vectors have no direction; exact-dup vectors carry no new
    //    information — keep the first (min vec_id) of each identical
    //    vector, keyed on the embedding ARRAY itself (Spark partitions on
    //    array columns fine; a 64-bit hash key would silently merge
    //    distinct vectors on collision).
    val nonZero = raw.where(
      graft.functions.GraftExpressions.dotProduct(col("embedding"), col("embedding")) > 0)
    val deduped = Dedup.firstWins(nonZero, Seq("embedding"), Seq("vec_id"))
      .localCheckpoint() // consumed by near-dup, anti-join, and the report

    // 2. Near-identical vectors (cos >= 0.98): cluster and keep each
    //    component's canonical member. Auto shape: Broadcast under the
    //    cap, the salted no-broadcast form beyond.
    val pairs = CosineLsh.nearDup(deduped, dim = 64, threshold = 0.98,
        shapeIn = Dedup.Auto())
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val losers = Dedup.nearDupComponents(pairs)
      .where(col("doc_id") =!= col("component"))
      .select(col("doc_id").as("vec_id"))
    val curated = deduped.join(losers.hint("merge"), Seq("vec_id"), "left_anti")
      .localCheckpoint() // feeds training, assignment, search, and the write

    curated.write.mode("overwrite").parquet(s"$outDir/corpus")

    // 3. Index: trained coarse quantizer + persisted assignment.
    val centroids = Ivf.train(curated, k = 8, iters = 3)
    val cells = Ivf.assign(curated, centroids)
    cells.write.mode("overwrite").parquet(s"$outDir/cells")
    val cellsBack = spark.read.parquet(s"$outDir/cells")

    // 4. Sample ANN query through the persisted index.
    val queryId = curated.select(min(col("vec_id"))).head().getLong(0)
    val top = Ivf.search(curated, centroids, queryId, nprobe = 2, topK = 5,
      cellsIn = Some(cellsBack)).collect()

    val kept = spark.read.parquet(s"$outDir/corpus").count()
    import spark.implicits._
    Seq((total, deduped.count(), kept))
      .toDF("input_vecs", "after_exact_dedup", "after_neardup")
      .write.mode("overwrite").parquet(s"$outDir/report")
    println(s"[vec-pipeline] input=$total deduped -> curated=$kept; " +
      s"query $queryId top-${top.length}: " +
      top.map(r => s"${r.getLong(0)}@${r.getDouble(2)}").mkString(", ") +
      s" -> $outDir")
    spark.stop()
  }
}
