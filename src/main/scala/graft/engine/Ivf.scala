package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-Flat ANN index with a TRAINED coarse quantizer (the round-2 gap:
  * `q_ann_ivf` consumes the fixture's pre-assigned `label` as its cell —
  * correct query shape, but a real pipeline must BUILD the index).
  *
  * Training is Lloyd's kmeans expressed in DataFrame ops:
  *   - deterministic seeding: the k vectors with the smallest
  *     xxhash64(vec_id) — a hash-ordered sample (spread like a random
  *     sample, stable across runs and task retries);
  *   - assignment: a MAP-ONLY codegen'd argmin projection
  *     (graft.functions.NearestCell) over the k×dim centroid matrix
  *     carried as model state in the expression — no join, no shuffle,
  *     at any corpus size (the r3 form crossJoined corpus × centroids
  *     and re-aggregated by (vec_id, v), shuffling corpus×k rows with
  *     the full VECTOR as a grouping key);
  *   - update: element-wise centroid mean via posexplode → (cell, pos)
  *     partial-aggregated avg — the map-side-combine shape that scales.
  *
  * Only the k×dim centroid set ever reaches the driver (model state,
  * O(k·dim) regardless of corpus size — the same contract as Spark ML's
  * KMeans, whose per-iteration collectAsMap does the same). The corpus is
  * never collected.
  *
  * At 100 TB: train on a sampled fraction (`sampleFraction`), then one
  * distributed `assign` pass over the full corpus; centroids broadcast.
  */
object Ivf {
  import graft.functions.GraftExpressions.dotProduct
  type Q = (SparkSession, String) => DataFrame

  private def vec(c: Column): Column = transform(c, x => x.cast("double"))

  /** ‖v − c‖² = v·v − 2·v·c + c·c, reusing precomputed self-dots. */
  private def dist2(v: Column, nv2: Column, cv: Column, nc2: Column): Column =
    nv2 - lit(2) * dotProduct(v, cv) + nc2

  /** Train a k-cell coarse quantizer; returns (cell: int, cv: array<double>).
    * `embs` must carry (vec_id, embedding).
    *
    * `checkpointDir`: the training corpus is materialized once and
    * re-scanned every Lloyd iteration — `localCheckpoint` by default
    * (executor-local, lost on executor death), a reliable
    * `df.checkpoint()` under the given directory when provided, so a
    * long cluster training run survives executor loss (same contract as
    * Dedup.nearDupComponents).
    */
  def train(embs: DataFrame, k: Int, iters: Int = 5,
      sampleFraction: Double = 1.0, checkpointDir: Option[String] = None): DataFrame = {
    val spark = embs.sparkSession
    // (r17) sampleFraction = 1.0 keeps every row — skip the per-row
    // hash-filter expression entirely in that (graded) configuration.
    val base = embs.select(col("vec_id"), vec(col("embedding")).as("v"))
    val staged = (if (sampleFraction >= 1.0) base
      else base.where(pmod(xxhash64(col("vec_id")), lit(10000)) <
        lit((sampleFraction * 10000).toLong)))
      .withColumn("nv2", dotProduct(col("v"), col("v")))
    // Scanned once per Lloyd iteration. (setCheckpointDir is a
    // session-global mutation — done once, up front.)
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    val corpus =
      if (checkpointDir.isDefined) staged.checkpoint() else staged.localCheckpoint()
    val dim = uniformDim(corpus)
    // Hash-ordered deterministic seed sample.
    var centroids: Array[Array[Double]] = corpus
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(k)
      .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
    var it = 0
    while (it < iters) {
      // (r17) Per-iteration update as ONE groupBy(cell) with dim column
      // sums + a count — the former posexplode form pushed rows × dim
      // (cell, pos, x) rows through two chained aggregations plus an
      // orderBy (3 exchanges / 4 stages per iteration); this is 1
      // exchange / 2 stages, and the mean is the identical sum/count
      // division Spark's avg evaluates.
      val sums = (0 until dim).map(i =>
        sum(element_at(col("v"), i + 1)).as(s"s$i"))
      val updated = corpus
        .withColumn("cell",
          graft.functions.GraftExpressions.nearestCell(col("v"), centroids))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect()
      // Empty cells keep their previous centroid (standard Lloyd handling).
      val next = centroids.map(_.clone())
      updated.foreach { r =>
        val n = r.getLong(1).toDouble
        next(r.getInt(0)) = Array.tabulate(dim)(i => r.getDouble(i + 2) / n)
      }
      centroids = next
      it += 1
    }
    centroidFrame(spark, centroids)
  }

  /** The one vector length of a `v`-carrying corpus (0 when it is
    * empty), in one aggregate. The column-sum Lloyd update divides
    * Σ element_at(v, i) by count(1), so a null vector would be counted
    * in n and shrink its centroid, a longer one would have its tail
    * ignored and a shorter one would throw from ANSI element_at: a corpus
    * that is not uniform fails here with a declared error instead.
    */
  private[engine] def uniformDim(corpus: DataFrame): Int = {
    val r = corpus.agg(count(when(col("v").isNull, 1)),
      min(size(col("v"))), max(size(col("v")))).head()
    val nulls = r.getLong(0)
    require(nulls == 0 && (r.isNullAt(1) || r.getInt(1) == r.getInt(2)),
      s"Lloyd update needs uniform non-null vectors: $nulls null, " +
        s"length min ${r.get(1)} max ${r.get(2)}")
    if (r.isNullAt(2)) 0 else r.getInt(2)
  }

  private def centroidFrame(spark: SparkSession, centroids: Array[Array[Double]]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell", org.apache.spark.sql.types.IntegerType, false),
      org.apache.spark.sql.types.StructField("cv",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, false), false)))
    val rows = centroids.zipWithIndex.map { case (c, i) => Row(i, c.toSeq) }
    spark.createDataFrame(rows.toSeq.asJava, schema)
      .withColumn("nc2", dotProduct(col("cv"), col("cv")))
  }

  /** Distributed cell assignment: (vec_id, cell) for every corpus vector.
    * Map-only — the centroid frame (k×dim model state, the only thing
    * ever collected) folds into a NearestCell argmin projection, so the
    * full-corpus assignment pass is a scan with zero shuffles.
    */
  def assign(embs: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = collectCentroids(centroids)
    embs.select(col("vec_id"), vec(col("embedding")).as("v"))
      .select(col("vec_id"),
        graft.functions.GraftExpressions.nearestCell(col("v"), cents).as("cell"))
  }

  /** centroid DataFrame → dense k×dim matrix, cell-ordered and validated
    * contiguous (model state; O(k·dim) on the driver by contract).
    */
  private[graft] def collectCentroids(centroids: DataFrame): Array[Array[Double]] = {
    val rows = centroids.select(col("cell"), col("cv")).orderBy("cell").collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      require(r.getInt(0) == i, s"non-contiguous centroid cells at $i: ${r.getInt(0)}")
    }
    rows.map(_.getSeq[Double](1).toArray)
  }

  /** ANN query: probe the `nprobe` cells nearest the query vector, exact
    * cosine re-rank inside them. `nprobe = k` degenerates to the exact
    * full scan (spec-asserted), trading recall for scan cost linearly.
    *
    * `cellsIn`: pass the persisted `assign` output to amortize the
    * assignment across queries (the index artifact); omitted, it is
    * recomputed — fine for a one-off, wasteful for a query workload.
    * Zero vectors have no direction and are excluded from candidates
    * (their cosine is 0/0; the oracle engine errors there too).
    */
  def search(embs: DataFrame, centroids: DataFrame, queryVecId: Long,
      nprobe: Int, topK: Int, cellsIn: Option[DataFrame] = None): DataFrame = {
    val e = embs.select(col("vec_id"), vec(col("embedding")).as("v"))
      .withColumn("nv2", dotProduct(col("v"), col("v")))
    // (r17) The ONE query vector reaches the driver (the Pq.search
    // contract — bounded per-query model state) and the nprobe cell pick
    // runs driver-side over the k×dim centroid matrix, which `assign`
    // collects anyway. The old plan materialized the query row via TWO
    // extra parquet scans + exchanges and picked cells through a
    // broadcast-nested-loop subplan — 2 scans, 2 crossjoins and a
    // TakeOrdered removed from every probe. Same arithmetic in the same
    // fold order (dist2 ≡ nv2 − 2·q·c + ‖c‖², ascending-index dots;
    // ties cut by cell id), so the probed set is unchanged.
    val cents = collectCentroids(centroids)
    def dotA(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val qv: Array[Double] = e.where(col("vec_id") === queryVecId)
      .select(col("v")).head().getSeq[Double](0).toArray
    val nq2 = dotA(qv, qv)
    val probed: Seq[Int] = cents.zipWithIndex
      .map { case (cv, c) => (nq2 - 2 * dotA(qv, cv) + dotA(cv, cv), c) }
      .sortBy { case (d2, c) => (d2, c) }
      .take(nprobe).map(_._2).toSeq
    val cells = cellsIn.getOrElse(assign(embs, centroids))
    e.where(col("nv2") > 0)
      .join(cells, "vec_id")
      .where(col("cell").isin(probed.map(Integer.valueOf): _*)) // candidate cells only
      .where(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), col("cell"),
        round(dotProduct(col("v"), typedLit(qv.toSeq)) /
          (sqrt(col("nv2")) * lit(math.sqrt(nq2))), 6)
          .as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(topK)
  }

  // ------------------------------------------------ incremental maintenance

  /** Append a DELTA of new vectors to a persisted index WITHOUT retraining:
    * assignment is a pure function of (vector, centroids), so delta rows are
    * assigned with the same map-only argmin projection and unioned onto the
    * existing (vec_id, cell) artifact. Ids already present in `existing`
    * are dropped from the delta (anti-join) so re-ingesting a batch is
    * idempotent — the persisted index keeps exactly one row per vector.
    *
    * Contract (IvfDeltaSpec): assignDelta(assign(base), delta) is row-equal
    * to assign(base ∪ delta) — growing the corpus incrementally converges
    * to the same index a full rebuild would produce, at the cost of one
    * map-only pass over the DELTA instead of the corpus.
    *
    * What retraining buys instead is BETTER CELLS for drifted data; that
    * decision is [[driftProbe]]'s job, not this method's.
    */
  def assignDelta(existing: DataFrame, deltaEmbs: DataFrame, centroids: DataFrame): DataFrame = {
    // Idempotency must hold WITHIN the batch too: a delta that carries the
    // same vec_id twice (replayed upstream, unioned feeds) would otherwise
    // survive the anti-join in duplicate and break one-row-per-vector.
    val fresh = deltaEmbs.dropDuplicates("vec_id")
      .join(existing.select(col("vec_id")), Seq("vec_id"), "left_anti")
    existing.unionByName(assign(fresh, centroids))
  }

  /** Drift report: is the trained quantizer still a good fit for newly
    * arriving vectors? Compares mean squared quantization error (distance²
    * to the nearest centroid) of the delta against the base corpus the
    * index was built for.
    */
  final case class DriftReport(baseMse: Double, deltaMse: Double, ratio: Double,
      retrainRecommended: Boolean)

  /** Mean squared quantization error of `embs` under `centroids` — the
    * standard kmeans inertia normalized per vector. One scalar leaves the
    * executors (bounded model state).
    */
  def quantizationMse(embs: DataFrame, centroids: DataFrame): Double = {
    val cents = collectCentroids(centroids)
    val cf = centroidFrame(embs.sparkSession, cents)
    embs.select(col("vec_id"), vec(col("embedding")).as("v"))
      .withColumn("nv2", dotProduct(col("v"), col("v")))
      .withColumn("cell", graft.functions.GraftExpressions.nearestCell(col("v"), cents))
      .join(broadcast(cf), "cell")
      .select(avg(dist2(col("v"), col("nv2"), col("cv"), col("nc2"))).as("mse"))
      .head().getDouble(0)
  }

  /** Probe quantizer fitness after appending deltas: if the delta's mean
    * quantization error exceeds `ratioThreshold` × the base's, the delta
    * is drifting away from the trained cells (recall of under-probed
    * searches degrades with cell fit) and a retrain is recommended. Two
    * scalars reach the driver; both passes are map-only scans.
    *
    * The threshold trades retrain cost against recall: in-distribution
    * deltas land near ratio 1.0; a distribution shift (new embedding
    * model, new modality, new language) lands far above any reasonable
    * threshold (IvfDeltaSpec plants a shifted delta at ratio > 10).
    */
  def driftProbe(baseEmbs: DataFrame, deltaEmbs: DataFrame, centroids: DataFrame,
      ratioThreshold: Double = 2.0): DriftReport = {
    val b = quantizationMse(baseEmbs, centroids)
    val d = quantizationMse(deltaEmbs, centroids)
    val ratio = if (b > 0) d / b else Double.PositiveInfinity
    DriftReport(b, d, ratio, ratio > ratioThreshold)
  }

  /** Graded INCREMENTAL-index key: train the quantizer on the BASE corpus
    * only (vec_id % 5 ≠ 0), persist its assignment, then append the
    * remaining 20% of vectors via [[assignDelta]] — no retrain — and
    * search the grown index. nprobe = k makes the search provably exact
    * regardless of cell quality (the spec-pinned `nprobe=k ≡ brute force`
    * contract), so the oracle is the exact global cosine top-15 and the
    * grade checks the append path (train-on-base → assign → assignDelta →
    * probe-join → re-rank) loses no vector. Partial-probe recall on the
    * delta is IvfDeltaSpec's job.
    */
  val qAnnDelta: Q = (s, d) => {
    val embs = Tables.embeddings(s, d)
      .repartition(s.sessionState.conf.numShufflePartitions)
      .select(col("vec_id"), col("embedding"))
    val base = embs.where(col("vec_id") % 5 =!= 0)
    val delta = embs.where(col("vec_id") % 5 === 0)
    val k = 8
    val centroids = train(base, k = k, iters = 3)
    val baseIdx = assign(base, centroids).localCheckpoint()
    val grown = assignDelta(baseIdx, delta, centroids).localCheckpoint()
    search(embs, centroids, queryVecId = 7L, nprobe = k, topK = 15, cellsIn = Some(grown))
      .select(col("vec_id"), col("cos_sim"))
  }

  /** Graded end-to-end TRAINED-IVF key (unlike `q_ann_ivf`, which probes
    * the fixture's precomputed `label`): train an 8-cell quantizer with
    * Lloyd iterations, persist the distributed cell assignment, probe
    * `nprobe` cells for the query vector, exact cosine re-rank inside.
    * The whole path is deterministic (hash-ordered seeding, min_by cell
    * tiebreak), so the result is a pure function of the data.
    *
    * The oracle is exact global cosine top-k: sound because the probed
    * cells provably contain the global top-k here — nprobe = k makes
    * `search` scan every cell (the spec-pinned `nprobe=k ≡ brute force`
    * contract), so grading checks the trained pipeline's plumbing
    * (train → assign → probe-join → re-rank) returns exactly the right
    * vectors, not merely approximately. Partial-probe recall bounds are
    * IvfSpec's job (no oracle can re-derive kmeans cells in SQL). The
    * `cell` column is dropped from the graded output for the same
    * reason: cell IDs are engine-derived model state.
    */
  val qAnnIvfTrained: Q = (s, d) => {
    val embs = Tables.embeddings(s, d)
      .repartition(s.sessionState.conf.numShufflePartitions)
      .select(col("vec_id"), col("embedding"))
    val k = 8
    val centroids = train(embs, k = k, iters = 3)
    val cells = assign(embs, centroids).localCheckpoint() // the persisted index artifact
    search(embs, centroids, queryVecId = 7L, nprobe = k, topK = 15, cellsIn = Some(cells))
      .select(col("vec_id"), col("cos_sim"))
  }

  /** Graded PARTIAL-probe ANN — the approximate path a real ANN user
    * actually runs (`q_ann_ivf_trained` grades nprobe = k ≡ exact; this
    * key grades nprobe = 2 < k = 8). An under-probed search is only
    * oracle-checkable when the probed cells provably contain the global
    * top-k, so the key PLANTS them (the q_cosine_neardup construction):
    * 20 near-copies of query vector 7 — copy j bumps component (j mod 64)
    * by ×1.05 + 0.01 — giving cos(v₇, copy) ≈ 0.999⁺ while the raw
    * fixture's max pairwise cosine is 0.60. The true global top-15 is
    * therefore 15 of the 20 copies; all copies sit within a tiny L2 ball
    * around v₇, so every trained quantizer assigns them the cell whose
    * centroid is nearest v₇ — exactly probe cell #1 (cell #2 is slack).
    * The whole path is deterministic (hash seeding, fixed fixture), so
    * the containment is a checked property of this corpus — IvfSpec pins
    * graded-output ≡ exact brute force — not a per-run gamble. Oracle:
    * exact global cosine top-15 over the identically-constructed corpus.
    */
  val qAnnIvfPartial: Q = (s, d) => {
    // ONE corpus-construction definition (Pq.plantedCorpus) across the
    // three planted ANN keys — the shared exact-top-15 oracles rest on
    // the corpora being identical.
    val corpus = Pq.plantedCorpus(s, d)
    val k = 8
    val centroids = train(corpus, k = k, iters = 3)
    val cells = assign(corpus, centroids).localCheckpoint()
    search(corpus, centroids, queryVecId = 7L, nprobe = 2, topK = 15, cellsIn = Some(cells))
      .select(col("vec_id"), col("cos_sim"))
  }

  val queries: Map[String, Q] = Map(
    "q_ann_ivf_trained" -> qAnnIvfTrained,
    "q_ann_ivf_partial" -> qAnnIvfPartial,
    "q_ann_delta" -> qAnnDelta
  )
}
