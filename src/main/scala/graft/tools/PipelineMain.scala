package graft.tools

import org.apache.spark.sql.functions._
import graft.engine.{Dedup, Tables}

/** Runnable end-to-end batch corpus-curation pipeline composed ONLY of
  * library operators — the batch counterpart of `StreamMain` and the
  * "switch from the reference" usage artifact:
  *
  *   documents
  *     → quality scoring (length/stopword/diversity)      [filter]
  *     → set-normalized exact dedup (min doc_id survives)
  *     → MinHash-LSH near-dup (salted) → component clustering [canonical wins]
  *     → containment pruning (docs ≥90% contained in a survivor drop —
  *       the subset-duplicates Jaccard can't see)
  *     → curated corpus written lang-PARTITIONED (pruned future scans)
  *       + run report
  *
  * Usage: runMain graft.tools.PipelineMain [sfDir] [outDir]
  * Every stage is a shuffle-bounded DataFrame op; nothing passes through
  * the driver except the final printed counts.
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.drop(1).headOption.getOrElse("/tmp/graft_pipeline")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Sessions.local(cpus.toInt, logLevel = "WARN")
    Tables.configure(spark)

    val docs = Tables.documents(spark, sfDir)
    val total = docs.count()

    // 1. Quality gate: drop ultra-short and stopword-saturated docs.
    val toks = split(col("text"), " ")
    val stop = array(lit("the"), lit("a"), lit("of"), lit("and"))
    val scored = docs
      .withColumn("n_tokens", size(toks).cast("double"))
      .withColumn("stop_ratio",
        size(filter(toks, t => array_contains(stop, t))).cast("double") / col("n_tokens"))
      .withColumn("quality",
        least(col("n_tokens") / 100.0, lit(1.0)) * (lit(1.0) - col("stop_ratio")))
    // localCheckpoint: quality feeds BOTH the dedup stage and the report
    // count; without it each consumer re-runs the scoring from the scan.
    val quality = scored.where(col("n_tokens") >= 5 && col("quality") >= 0.05)
      .localCheckpoint()

    // 2. Set-normalized exact dedup: first (min doc_id) per token set wins.
    // localCheckpoint: consumed by signature building, the anti-join, and
    // the report count — three executions of the window dedup otherwise.
    val deduped = Dedup.firstWins(
      quality.withColumn("__norm", Dedup.normKey(col("text"))),
      Seq("__norm"), Seq("doc_id")).drop("__norm")
      .localCheckpoint()

    // 3. Near-dup removal at Jaccard >= 0.9, salted (no-broadcast) shape:
    //    cluster the pairs into connected components and keep each
    //    component's min doc_id — per-pair doc_b-dropping would leave
    //    every locally-minimal doc as an extra representative of its
    //    cluster (see Dedup.nearDupComponents).
    val sigs = Dedup.signatures(deduped
      .select(col("doc_id"), Dedup.normTokens(col("text")).as("toks")))
    // Auto: Broadcast under the doc cap, the no-broadcast Salted shape
    // beyond — the dispatch a standing pipeline wants as corpora grow.
    val pairs = Dedup.lshNearDupPairs(sigs, "toks", 9, 10, 0.9, Dedup.Auto())
    val nearDupLosers = Dedup.nearDupComponents(pairs)
      .where(col("doc_id") =!= col("component")).select(col("doc_id"))
    val curated = deduped.join(nearDupLosers.hint("merge"), Seq("doc_id"), "left_anti")
      .localCheckpoint() // feeds the containment stage AND the report count

    // 4. Containment pruning: a survivor drops when its token set is
    //    ≥90% contained in another survivor AND it is at most HALF the
    //    container's size — the quoted-paragraph/boilerplate shape
    //    Jaccard ≥ 0.9 structurally misses. The size guard is the
    //    policy: over a small shared vocabulary, bare τ-containment
    //    flags nearly EVERY doc (measured 500/500 at sf0.01 — a
    //    corpus-collapse, not curation); requiring the container to
    //    dominate keeps only genuine subset-duplicates (54/500).
    val curatedToks = curated
      .select(col("doc_id"), Dedup.normTokens(col("text")).as("toks"))
      .localCheckpoint() // feeds the pair stage AND the size dictionary
    val sizes = curatedToks.select(col("doc_id"), size(col("toks")).as("__n"))
    val containedLosers = Dedup.containmentPairs(curatedToks, "toks", 9, 10)
      .join(sizes.select(col("doc_id").as("doc_a"), col("__n").as("__na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("__n").as("__nb")), "doc_b")
      .where(col("__na") * 2 <= col("__nb"))
      .select(col("doc_a").as("doc_id")).distinct()
    val finalCorpus = curated.join(containedLosers.hint("merge"), Seq("doc_id"), "left_anti")

    // 5. Layout: lang-partitioned at rest, so downstream per-language
    //    reads prune whole directories (Tables.writePartitioned scaladoc).
    Tables.writePartitioned(finalCorpus, s"$outDir/corpus", Seq("lang"))
    // Each stage count exactly once: quality/deduped/curated are
    // localCheckpointed above (so counting them is a cached scan, not a
    // pipeline re-run) and the final count reads back the parquet just
    // written.
    val kept = spark.read.parquet(s"$outDir/corpus").count()
    val nQuality = quality.count()
    val nDeduped = deduped.count()
    val nCurated = curated.count()
    import spark.implicits._
    Seq((total, nQuality, nDeduped, nCurated, kept))
      .toDF("input_docs", "after_quality", "after_exact_dedup", "after_neardup",
        "after_containment")
      .write.mode("overwrite").parquet(s"$outDir/report")
    println(s"[pipeline] input=$total quality=$nQuality deduped=$nDeduped " +
      s"neardup=$nCurated curated=$kept -> $outDir")
    spark.stop()
  }
}
