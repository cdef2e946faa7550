package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Random-hyperplane (SimHash) LSH for embedding-cosine near-duplicates —
  * the label-free scale path next to `Similarity.qSimilarityJoin` (which
  * blocks on the fixture's precomputed `label`): when no cluster column
  * exists, candidates come from sign-pattern collisions instead.
  *
  * Charikar's scheme: bit (t, b) of a vector v is sign(v · h_{t,b}) for a
  * fixed random hyperplane h; P[bit agrees for u, v] = 1 − θ(u,v)/π. A
  * table's signature packs `bits` such bits into a long; two vectors
  * collide in a table iff ALL bits agree (p^bits), and become a candidate
  * if they collide in ≥1 of `nTables` tables: recall = 1 − (1 − p^bits)^T
  * — 99.9% at cos ≥ 0.95 with 8 bits × 12 tables, while a random pair
  * (cos ≈ 0, p = 0.5) collides with probability ~4%/table. Discriminates
  * only HIGH thresholds (θ small); for τ ≤ ~0.7 use IVF cells or labels.
  *
  * Everything is declarative DataFrame ops — hyperplanes are a
  * deterministic Rademacher (±1) family derived from xxhash64(t, b, i),
  * so signatures are reproducible across runs/retries with no RNG state.
  * Candidate generation reuses the MinHash-LSH shape: per-table sigs as
  * an array column, posexplode + equi-join on (table, sig),
  * first-matching-table exact-once emission, exact cosine confirm — so
  * precision is exact; only recall is probabilistic.
  *
  * Scale notes (100 TB): the hyperplane sign matrix is O(T·bits·dim)
  * doubles, memoized once per executor JVM (GraftOps.signMatrix) — the
  * signature is a single codegen'd map-only expression per row, no
  * exchange anywhere between scan and signature (the r3 crossJoin + two
  * aggregations amplified rows ~T·bits× through a shuffle).
  * The candidate join keys on (table, sig) — high cardinality, skew-free
  * for spread-out corpora. Like the MinHash family, the physical shape is
  * a parameter (Dedup.LshShape): `Broadcast` probes banded signatures and
  * vector dictionaries from broadcast maps (fastest while they fit
  * executor memory), `Salted` runs the no-broadcast form — salted
  * sort-merge signature join plus vec-id co-partitioned confirms — for
  * corpora past broadcast limits. Zero vectors have no direction (cosine
  * would be 0/0) and are excluded up front.
  */
object CosineLsh {
  import graft.functions.GraftExpressions.dotProduct
  type Q = (SparkSession, String) => DataFrame

  /** Deterministic ±1 hyperplanes: (table, bit, hvec: array<double>).
    * This declarative frame is the SPEC twin of the native kernel's
    * memoized sign matrix (GraftOps.signMatrix) — both derive signs from
    * the same chained xxhash64(table, bit, i) parity, and CosineLshSpec
    * asserts the two signature paths are bit-identical. Parity holds for
    * FINITE inputs only: on a NaN dot the kernel's Java `>= 0` clears
    * the bit while Spark SQL's NaN-is-greatest ordering would set it —
    * nearDup excludes non-finite vectors before either path runs.
    * Production signature computation goes through [[withSignatures]].
    */
  def hyperplanes(spark: SparkSession, dim: Int, nTables: Int, bits: Int): DataFrame =
    spark.range(nTables).select(col("id").cast("int").as("table"))
      .select(col("table"), explode(sequence(lit(0), lit(bits - 1))).as("bit"))
      .select(col("table"), col("bit"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => when(pmod(xxhash64(col("table"), col("bit"), i), lit(2)) === 0, lit(1.0))
            .otherwise(lit(-1.0))).as("hvec"))

  /** The crossJoin + double-aggregation signature form the native
    * expression replaced — kept ONLY as the independent formulation the
    * parity spec checks the kernel against (a ~T·bits× row amplification
    * through a shuffle; never on a graded path).
    */
  private[graft] def signaturesViaJoin(e: DataFrame, planes: DataFrame): DataFrame = {
    val sigs = e.select(col("vec_id"), col("v"))
      .crossJoin(broadcast(planes))
      .withColumn("__dot", dotProduct(col("v"), col("hvec")))
      .select(col("vec_id"), col("table"),
        when(col("__dot") >= 0, expr("shiftleft(CAST(1 AS BIGINT), bit)"))
          .otherwise(lit(0L)).as("bitval"))
      .groupBy(col("vec_id"), col("table"))
      .agg(sum(col("bitval")).as("sig"))
      .groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("table"), col("sig")))),
        s => s.getField("sig")).as("sigs"))
    e.join(sigs, "vec_id")
  }

  /** (vec_id, v, n, sigs) — per-table packed sign signatures,
    * table-ordered, computed by the one-pass native expression: map-only,
    * no exchange between the scan and the signature column (spec-pinned),
    * exactly the MinHashBands shape the token-LSH family uses. `dim` is
    * enforced per row inside the kernel — a ragged corpus fails loudly
    * instead of silently hashing against per-length sign matrices.
    */
  private[graft] def withSignatures(e: DataFrame, nTables: Int, bits: Int,
      dim: Int): DataFrame =
    e.withColumn("sigs",
      graft.functions.GraftExpressions.cosineLshSigs(col("v"), nTables, bits, dim, barrier = true))

  /** All pairs whose cosine, rounded to 6 decimals, is ≥ `threshold`
    * (exact-confirmed; round-then-compare is the cross-engine-stable
    * filter policy — see the confirm step. Recall
    * 1 − (1 − p^bits)^nTables with p = 1 − arccos(threshold)/π).
    * `embs` must carry (vec_id, embedding).
    *
    * Candidate generation and confirm attach run on the SHARED banded-LSH
    * core (`Dedup.bandedCandidates` / `Dedup.attachPairSides`): the
    * per-table packed signatures play the band-array role (position =
    * table, hash = packed sign long), so shape dispatch and exact-once
    * first-match emission have exactly one implementation across the
    * MinHash and hyperplane families. Only this family's pieces live
    * here: the norm guard, the signature expression, and the cosine
    * confirm metric.
    */
  def nearDup(embs: DataFrame, dim: Int, threshold: Double,
      nTables: Int = 12, bits: Int = 8,
      shapeIn: Dedup.LshShape = Dedup.Broadcast): DataFrame = {
    // prepSigs applies this family's degenerate-row guard (the NaN
    // fail-open hazard; the MinHash counterpart is lshNearDupPairs'
    // empty-set exclusion): zero vectors have no direction (cosine 0/0)
    // and NaN/Inf components poison every downstream comparison — Spark
    // orders NaN ABOVE all doubles, so a bare `n > 0` would fail OPEN
    // for NaN norms; the upper bound closes both NaN and Inf.
    val sigs = prepSigs(embs, dim, nTables, bits)
    val shape = Dedup.resolveShape(shapeIn, sigs)
    val pairs = Dedup.bandedCandidates(sigs, "vec_id", "sigs", shape)
    val dict = sigs.select(col("vec_id"), col("v"), col("n"))
    Dedup.attachPairSides(pairs, dict, "vec_id", shape)
      // Threshold compares the ROUNDED cosine — deliberately: both
      // engines compute bit-identical doubles and round identically, so
      // the filter decision is cross-engine stable; filtering on the raw
      // value would reintroduce the ulp-drift trap (G2) right at τ.
      // barrier: the filter above would otherwise be pushed below this
      // projection with the dot product inlined — twice the per-pair work.
      .withColumn("cos_sim", round(
        dotProduct(col("v_a"), col("v_b"), barrier = true) / (col("n_a") * col("n_b")), 6))
      .where(col("cos_sim") >= threshold)
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"), col("cos_sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** Shared preparation: cast to double, compute the norm, exclude
    * degenerate vectors (the family's NaN fail-open guard), attach
    * packed signatures, checkpoint.
    */
  private def prepSigs(embs: DataFrame, dim: Int, nTables: Int, bits: Int): DataFrame = {
    val e = Dedup.fanOut(embs)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("n", sqrt(dotProduct(col("v"), col("v"))))
      .where(col("n") > 0 && col("n") < lit(Double.PositiveInfinity))
    withSignatures(e, nTables, bits, dim).localCheckpoint()
  }

  /** Which NEW vectors near-duplicate the EXISTING corpus: (vec_a = new
    * id, vec_b = corpus id, cos_sim ≥ τ) — the embedding twin of
    * `Dedup.nearDupAgainst` for incremental vector ingest (dedup a delta
    * of embeddings against the indexed corpus before appending). Same
    * cross-corpus banded core; Auto dispatch considers BOTH sides (the
    * Broadcast branch broadcasts both dictionaries —
    * Dedup.resolveShapeBoth scaladoc).
    */
  def nearDupAgainst(newEmbs: DataFrame, corpusEmbs: DataFrame, dim: Int,
      threshold: Double, nTables: Int = 12, bits: Int = 8,
      shapeIn: Dedup.LshShape = Dedup.Auto()): DataFrame = {
    val newSigs = prepSigs(newEmbs, dim, nTables, bits)
    val corpusSigs = prepSigs(corpusEmbs, dim, nTables, bits)
    val shape = Dedup.resolveShapeBoth(shapeIn, newSigs, corpusSigs)
    val pairs = Dedup.bandedCandidatesAcross(newSigs, corpusSigs, "vec_id", "sigs", shape)
    def dict(df: DataFrame) = df.select(col("vec_id"), col("v"), col("n"))
    Dedup.attachPairSides(pairs, dict(newSigs), dict(corpusSigs), "vec_id", shape)
      .withColumn("cos_sim", round(
        dotProduct(col("v_a"), col("v_b"), barrier = true) / (col("n_a") * col("n_b")), 6))
      .where(col("cos_sim") >= threshold)
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"), col("cos_sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** Graded surface for [[nearDup]]. The raw fixture's max pairwise
    * cosine is 0.60 (measured at sf0.1) — far below what sign-LSH
    * discriminates — so the key PLANTS deterministic near-duplicates
    * inside the query: every 10th vector gets a copy (vec_id + 1000000)
    * with its first component scaled ×1.1, giving cos(v, v') ≈ 0.99998.
    * The construction is plain double arithmetic, so the DuckDB oracle
    * builds the identical corpus and confirms with EXACT all-pairs
    * cosine. At τ = 0.99 a planted pair's per-table collision rate is
    * p⁸ ≈ 0.986, so the 12-table miss probability is (1−p⁸)¹² ≈ 1e-22 —
    * the LSH recall loss is far below the oracle's resolution, which is
    * what makes an exact-match gate sound for a probabilistic operator.
    */
  /** The planted-near-dup corpus both graded keys (and their oracles)
    * construct: every 10th vector duplicated with its first component
    * ×1.1 — cos(v, copy) ≥ 0.99 by construction, background max 0.60.
    */
  private def plantedNearDupCorpus(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val planted = base.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x * lit(1.1)).otherwise(x)).as("embedding"))
    base.unionByName(planted)
  }

  val qCosineNeardup: Q = (s, d) =>
    nearDup(plantedNearDupCorpus(s, d), dim = 64, threshold = 0.99,
      shapeIn = Dedup.Auto())

  /** Embedding-cluster RESOLUTION — the vector twin of the text-side
    * detect → cluster → resolve chain (`q_neardup_resolve`): hyperplane-
    * LSH cosine pairs → connected components (the shared
    * `Dedup.nearDupComponents`) → one canonical
    * vec per cluster with its group size. This is the frame a semantic-
    * dedup job joins back to the corpus to keep one representative per
    * embedding cluster. Identical physical story to the text chain:
    * banded candidates, then the components finish the pair list's size
    * picks.
    */
  val qCosineResolve: Q = (s, d) => {
    val corpus = plantedNearDupCorpus(s, d)
    val pairs = nearDup(corpus, dim = 64, threshold = 0.99, shapeIn = Dedup.Auto())
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val comp = Dedup.nearDupComponents(pairs)
    Dedup.resolveToCanonical(corpus.select(col("vec_id").as("doc_id")), comp)
      .orderBy("canonical")
  }

  val queries: Map[String, Q] = Map(
    "q_cosine_neardup" -> qCosineNeardup,
    "q_cosine_resolve" -> qCosineResolve
  )
}
