package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication family — the reference's core semantic (SURVEY.md §2.A R2:
  * first-occurrence-wins within a bounded time window) in batch form, plus
  * the LLM-pipeline near-dup operators (exact, Jaccard, MinHash).
  *
  * Scale notes (100 TB):
  *  - first-wins dedup is a single shuffle on the dedup key; the window
  *    row_number form does key-partitioned sort, never a global sort.
  *  - time-bucketed dedup bounds state exactly like the reference's
  *    WindowStore retention: the partition key includes the bucket, so state
  *    per key is O(buckets retained), not O(history).
  *  - near-dup avoids the O(n²) pair space by MinHash-LSH band buckets
  *    (or (lang, length-bucket) blocking for the simple variants). The LSH
  *    candidate machinery has TWO physical shapes sharing one logical form:
  *    `Broadcast` (fastest while the banded corpus fits an executor;
  *    measured at sf0.1) and `Salted` (no broadcasts anywhere — salted
  *    sort-merge band join + doc-id co-partitioned confirm joins — the
  *    shape that survives a corpus 1000× past broadcast limits).
  */
object Dedup {
  import Tables._
  import graft.functions.GraftExpressions.intersectSize
  type Q = (SparkSession, String) => DataFrame

  /** Whitespace tokenization → sorted distinct tokens: THE normalization
    * every token-based dedup surface shares (batch queries, the streaming
    * twin, the pipeline demo). One definition, so a tokenization tweak
    * changes all of them together — the parity contracts depend on it.
    */
  def normTokens(text: Column): Column = array_sort(array_distinct(split(text, " ")))

  /** String form of [[normTokens]] — the engine-neutral set-equality key. */
  def normKey(text: Column): Column = array_join(normTokens(text), " ")

  /** Exact dedup: DISTINCT over a projection. */
  val qDedupExact: Q = (s, d) =>
    events(s, d)
      .select(col("user_id"), col("event_type"))
      .distinct()
      .orderBy("user_id", "event_type")

  /** Generic first-wins dedup: per key, keep the single row that sorts
    * first by `orderCols`. row_number (not dropDuplicates) so the survivor
    * is a deterministic function of the data (G4). One shuffle on the key;
    * the sort is per-key-partition, never global — the 100 TB shape.
    */
  def firstWins(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String]): DataFrame =
    oneWins(df, keyCols, orderCols.map(asc))

  /** One survivor per key under an arbitrary total order — the shared
    * plumbing behind firstWins/lastWins; callers with mixed tie-break
    * directions (e.g. max ts, tie -> MIN id) pass their own Columns.
    */
  def oneWins(df: DataFrame, keyCols: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Latest-wins twin of [[firstWins]]: per key keep the NEWEST record.
    * This is the KTable / log-compaction semantic from the reference's
    * ecosystem — a compacted topic retains the last value per key, the
    * dual of the dedup transformer's first-value-wins. Same one-shuffle
    * row_number plan with the order reversed.
    */
  def lastWins(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String]): DataFrame =
    oneWins(df, keyCols, orderCols.map(desc))

  /** Keyed MERGE/upsert — the batch face of a compacted topic: fold a
    * delta of new/updated records into a corpus snapshot, keeping one
    * survivor per key under `order` (pass `desc("ts"), desc("id")` for
    * latest-wins). Union + [[oneWins]]: ONE shuffle on the key over
    * corpus+delta. For a persisted partitioned snapshot where the delta
    * touches few partitions, [[mergePartitionedSnapshot]] rewrites only
    * those directories instead of re-shuffling 100 TB.
    */
  def mergeSnapshot(corpus: DataFrame, delta: DataFrame,
      keyCols: Seq[String], order: Seq[Column]): DataFrame =
    oneWins(corpus.unionByName(delta), keyCols, order)

  /** [[mergeSnapshot]] honoring DELETE markers — the full compacted-topic
    * algebra: a null-value record on a compacted topic is a tombstone
    * that removes its key, and this is that semantic's batch face. Delta
    * rows with `tombstoneCol` true carry no payload, only the intent
    * "this key is gone"; they must WIN their key under `order` like any
    * update (so `order` must rank them with their ts — a tombstone older
    * than the live record must NOT delete it) and then be dropped from
    * the surviving snapshot. A later re-insert (newer non-tombstone)
    * resurrects the key — exactly compaction's behavior before the
    * tombstone's retention expires. Corpus rows lacking the column are
    * treated as live (schema-evolution friendly: a v1 snapshot merges
    * with a tombstone-aware delta unchanged).
    */
  def mergeSnapshotWithDeletes(corpus: DataFrame, delta: DataFrame,
      keyCols: Seq[String], order: Seq[Column],
      tombstoneCol: String = "deleted"): DataFrame = {
    def marked(df: DataFrame): DataFrame =
      if (df.columns.contains(tombstoneCol))
        df.withColumn(tombstoneCol, coalesce(col(tombstoneCol), lit(false)))
      else df.withColumn(tombstoneCol, lit(false))
    oneWins(marked(corpus).unionByName(marked(delta)), keyCols, order)
      .where(!col(tombstoneCol)).drop(tombstoneCol)
  }

  /** Partition-aware snapshot maintenance: rewrite ONLY the partition
    * directories the delta touches. The touched partition VALUES are a
    * bounded driver artifact (partition columns are low-cardinality by
    * the Tables.writePartitioned contract — the same bounded-collect
    * budget as the centroid pulls); the merge then reads just those
    * directories (planning-time pruning), folds the delta in with
    * [[mergeSnapshot]], and dynamic partition overwrite replaces just
    * those directories — untouched partitions are never read or
    * rewritten, so the cost scales with the delta, not the corpus.
    * The merged slice is localCheckpoint'd before the write because the
    * write overwrites directories its own lineage reads (at deployment
    * scale the same discipline is write-new-snapshot-then-swap; the few
    * touched partitions are delta-sized, so materializing them is
    * bounded).
    */
  def mergePartitionedSnapshot(spark: SparkSession, dir: String, delta: DataFrame,
      partCol: String, keyCols: Seq[String], order: Seq[Column]): Unit = {
    val touched = delta.select(col(partCol)).distinct().collect().map(_.get(0))
    // Loud guard: `isin` never matches null, so a null-partition delta
    // row would merge against an EMPTY slice of the corpus and its
    // dynamic overwrite would then drop every other key already in the
    // null partition — fail instead of silently losing data.
    require(!touched.contains(null),
      s"mergePartitionedSnapshot: null $partCol partition values in the delta " +
        "are unsupported")
    val affected = Tables.configure(spark).read.parquet(dir)
      .where(col(partCol).isin(touched: _*))
    mergeSnapshot(affected, delta, keyCols, order)
      .localCheckpoint()
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(dir)
  }

  /** Graded surface for [[mergePartitionedSnapshot]]: a latest-wins
    * corpus snapshot of the first half of the event log is persisted
    * partitioned by event_type; a delta (second half, TWO of the five
    * types) is merged in-place; the key reads the maintained snapshot
    * back. Oracle: latest-wins over the union of the two halves' own
    * latest-wins snapshots — delta rows win their keys outright (their
    * timestamps are strictly later), untouched types must surface
    * bit-identically from the never-rewritten directories.
    */
  val qMergeUpsert: Q = (s, d) => {
    val dir = java.nio.file.Files.createTempDirectory("graft_merge_upsert_").toString
    try {
      val keys = Seq("user_id", "event_type")
      val order = Seq(desc("ts"), desc("event_id"))
      val ev = events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts"), col("value"))
      val cutoff = lit("2024-01-15").cast("timestamp")
      Tables.writePartitioned(
        oneWins(ev.where(col("ts") < cutoff), keys, order), dir, Seq("event_type"))
      val delta = oneWins(
        ev.where(col("ts") >= cutoff && col("event_type").isin("click", "purchase")),
        keys, order)
      mergePartitionedSnapshot(s, dir, delta, "event_type", keys, order)
      Tables.configure(s).read.parquet(dir)
        .select(col("user_id"), col("event_type"), col("event_id").as("cur_event_id"),
          col("ts").as("cur_ts"), round(col("value"), 2).as("cur_value"))
        .orderBy("user_id", "event_type")
        .localCheckpoint()
    } finally Sources.deleteRecursively(new java.io.File(dir))
  }

  /** Graded surface for [[mergeSnapshotWithDeletes]]: the q_merge_upsert
    * corpus/delta split, with every fifth user's delta records arriving
    * as tombstones — those keys must vanish from the snapshot while the
    * same users' rows under UNTOUCHED event types survive from the
    * corpus (a tombstone deletes a key, not a user). Pure frame op (the
    * partitioned-rewrite plumbing is q_merge_upsert's contract).
    */
  val qMergeTombstone: Q = (s, d) => {
    val keys = Seq("user_id", "event_type")
    val order = Seq(desc("ts"), desc("event_id"))
    val ev = events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"))
    val cutoff = lit("2024-01-15").cast("timestamp")
    val corpus = oneWins(ev.where(col("ts") < cutoff), keys, order)
    val delta = oneWins(
      ev.where(col("ts") >= cutoff && col("event_type").isin("click", "purchase")),
      keys, order)
      .withColumn("deleted", col("user_id") % 5 === 0)
    mergeSnapshotWithDeletes(corpus, delta, keys, order)
      .select(col("user_id"), col("event_type"), col("event_id").as("cur_event_id"),
        col("ts").as("cur_ts"), round(col("value"), 2).as("cur_value"))
      .orderBy("user_id", "event_type")
  }

  /** Reference semantic R2, batch form: per (user_id, event_type) keep the
    * earliest record.
    */
  val qDedupFirstWins: Q = (s, d) =>
    firstWins(events(s, d), Seq("user_id", "event_type"), Seq("ts", "event_id"))
      .select(col("user_id"), col("event_type"), col("event_id").as("first_event_id"),
        col("ts").as("first_ts"), round(col("value"), 2).as("first_value"))
      .orderBy("user_id", "event_type")

  /** Latest-wins per key (max ts, tie → max event_id) — the compacted-
    * topic / KTable view of the event log: "current value per key".
    */
  val qDedupLatest: Q = (s, d) =>
    lastWins(events(s, d), Seq("user_id", "event_type"), Seq("ts", "event_id"))
      .select(col("user_id"), col("event_type"), col("event_id").as("last_event_id"),
        col("ts").as("last_ts"), round(col("value"), 2).as("last_value"))
      .orderBy("user_id", "event_type")

  /** Exact novelty detection — the cheap first tier of delta-vs-corpus
    * dedup (q_neardup_delta / q_simhash_delta are the fuzzy tiers):
    * which NEW docs' normalized keys appear NOWHERE in the corpus. A
    * left-anti join on the normalized key: one shuffle, no payload
    * movement (keys only), and at 100 TB the corpus side is the
    * persisted key column of the index, not the documents. Split here
    * is deterministic (doc_id % 8) so the key is a pure function of
    * the fixture.
    */
  val qDeltaNewDocs: Q = (s, d) => {
    // fanOut (G10) + one materialization: the norm-key projection is the
    // expensive part and feeds BOTH branches of the split.
    val docs = fanOut(documents(s, d))
      .select(col("doc_id"), normKey(col("text")).as("norm"))
      .localCheckpoint()
    val corpus = docs.where(col("doc_id") % 8 =!= 0)
    val delta = docs.where(col("doc_id") % 8 === 0)
    delta.join(corpus, Seq("norm"), "left_anti")
      .select(col("doc_id")).orderBy("doc_id")
  }

  /** Canonical-survivor selection: among duplicates sharing a normalized
    * token-set key, keep the BEST copy (longest raw text, tie → lowest
    * doc_id) rather than the first-seen — the curation policy when a dup
    * group mixes truncated and full copies of the same page. One shuffle
    * on the normalized key; the group-size count and the survivor
    * row_number share that single partitioning.
    */
  val qDedupKeepBest: Q = (s, d) => {
    val byNorm = Window.partitionBy(col("norm"))
    documents(s, d)
      .select(col("doc_id"), col("n_chars"), normKey(col("text")).as("norm"))
      .withColumn("n_dups", count(lit(1)).over(byNorm))
      .withColumn("rn", row_number().over(byNorm.orderBy(desc("n_chars"), asc("doc_id"))))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("n_chars"), col("n_dups"))
      .orderBy("doc_id")
  }

  /** Reference semantic R2 with bounded memory: first-wins only within a
    * 1-hour bucket — the same id in a later bucket is NOT a duplicate
    * (models the reference WindowStore retention).
    */
  val qDedupWindowed: Q = (s, d) => {
    val bucket = date_trunc("hour", col("ts"))
    val w = Window.partitionBy(col("user_id"), col("event_type"), bucket)
      .orderBy(asc("ts"), asc("event_id"))
    events(s, d)
      .withColumn("hour_bucket", bucket)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_survivors"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")
  }

  /** Set-normalized dedup groups (batch twin of
    * `Streams.dedupDocsWithinWatermark`): documents are duplicates when
    * their DISTINCT token sets match — invariant to word order and
    * repetition. One hash-aggregate shuffle on the normalized key; the
    * survivor is min(doc_id), a pure function of the data (G4). The key
    * is the normalized token STRING (not an engine hash) so the oracle
    * computes the identical grouping.
    */
  val qDedupNormalized: Q = (s, d) =>
    documents(s, d)
      .select(col("doc_id"),
        normKey(col("text")).as("norm"))
      .groupBy(col("norm"))
      .agg(min(col("doc_id")).as("first_doc_id"), count(lit(1)).as("n_docs"))
      .select(col("first_doc_id"), col("n_docs"), length(col("norm")).as("n_norm_chars"))
      .orderBy("first_doc_id")

  /** Exact text dedup over documents (LLM-pipeline op). */
  val qDedupDocs: Q = (s, d) =>
    documents(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct_texts"),
        (count(lit(1)) - countDistinct(col("text"))).as("n_dup_docs"))
      .orderBy("lang")

  /** Near-duplicate pairs: token-set Jaccard ≥ τ within candidate blocks.
    * Blocking key = (lang, n_chars div 64): near-identical docs have
    * near-identical length, so candidates stay within one block.
    *
    * Runs on the shared LSH core with the blocks ANDed into the
    * candidate join (block ∧ band ∧ size-prune; `lshNearDupPairs`
    * scaladoc) — so like every other graded near-dup key it has a
    * no-corpus-broadcast physical form and `Auto` picks it past the doc
    * cap. A J ≥ 0.9 pair shares no band with probability (1−0.81)¹⁶ ≈
    * 3e-12 (accepted vs the exact blocked oracle). The r3 form
    * broadcast the entire tokenized corpus as the build side — a
    * measured local fast path, but a scale-killer with no alternative
    * shape; the band-AND-block candidate join ships ids+sizes+bands
    * only, and the exact confirm attaches each token array once per
    * side.
    */
  val qNeardupPairs: Q = (s, d) =>
    lshNearDupPairs(signatures(blockedDocSets(documents(s, d), normTokens(col("text")), "toks")),
      "toks", 9, 10, 0.9, Auto(), blockCols = DocBlockCols)

  /** Sorted-neighborhood dedup — the record-linkage blocking discipline
    * (Hernández & Stolfo's merge/purge, public knowledge) the LSH/banding
    * families don't cover: sort each block by a sort key, compare only
    * rows within a rank window of w. Where LSH candidates come from hash
    * collisions, these come from sort adjacency — which catches the
    * "same prefix, diverged tail" near-dups a banding miss can drop, and
    * costs O(w·n) candidate pairs deterministically (no collision
    * distribution to reason about).
    *
    * Scale shape: the rank is a PARTITIONED window (per (lang, source)
    * block — never a global sort); the neighborhood join is a pure
    * EQUI-join on (block, rank) with the lower side exploded to its w
    * probe ranks — linear ×w fan-out, shuffle on the block+rank key, no
    * per-block quadratic pair scan (an |rn_a − rn_b| ≤ w range predicate
    * over a block equi-join would compute O(block²) pairs first). The
    * known boundary weakness of the method (true dups > w apart in sort
    * order) is the documented trade; production runs multi-pass with
    * rotated sort keys.
    */
  val qSortedNeighborhood: Q = (s, d) => {
    val w = 3
    val win = Window.partitionBy(col("lang"), col("source"))
      .orderBy(col("text"), col("doc_id"))
    val ranked = fanOut(documents(s, d))
      .withColumn("rn", row_number().over(win))
      .select(col("lang"), col("source"), col("rn"), col("doc_id"),
        array_distinct(split(col("text"), " ")).as("toks"))
    // Left side probes each of its w successor ranks — candidate =
    // (block, rank) equi-match; jaccard confirms.
    val probes = ranked
      .withColumn("rn", explode(sequence(col("rn") + 1, col("rn") + w)))
      .select(col("lang"), col("source"), col("rn"),
        col("doc_id").as("doc_a"), col("toks").as("toks_a"))
    probes.join(ranked, Seq("lang", "source", "rn"))
      .select(col("doc_a"), col("doc_id").as("doc_b"),
        round(
          size(array_intersect(col("toks_a"), col("toks"))).cast("double") /
            size(array_union(col("toks_a"), col("toks"))), 6) // union is already distinct
          .as("jaccard"))
      .where(col("jaccard") >= 0.9)
      .orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------------------------- LSH core

  /** The blocking key of the blocked near-dup keys: same language, same
    * 64-char length bucket (near-identical docs have near-identical
    * length, so candidates stay within one block).
    */
  private[graft] val DocBlockCols = Seq("lang", "len_bucket")

  /** Blocked-corpus preamble shared by `q_neardup_pairs`,
    * `q_ngram_jaccard`, and their PlanSpec forced-salted twins — ONE
    * definition so the graded keys and the plan-pinned twins cannot
    * drift: fan the single-partition fixture scan out FIRST (the
    * [[fanOut]] contract — the exchange ships raw text once and the
    * set build parallelizes), then project (doc_id, lang, len_bucket,
    * `setCol`). `minChars` drops docs too short to carry the set
    * expression (shingling needs ≥ n chars).
    */
  private[graft] def blockedDocSets(docs: DataFrame, setExpr: Column,
      setCol: String, minChars: Int = 0): DataFrame = {
    val base = if (minChars > 0) docs.where(length(col("text")) >= minChars) else docs
    fanOut(base).select(col("doc_id"), col("lang"),
      (col("n_chars") / 64).cast("long").as("len_bucket"),
      setExpr.as(setCol))
  }

  /** MinHash signature + LSH bands — all map-side, no UDF:
    * 32 hash functions h_i(t) = xxhash64 of element t with SEED i (NOT SQL
    * `xxhash64(i, t)`, which chains seed 42 over both args); signature_i =
    * min over the doc's distinct set elements; 16 bands of 2 hashes each,
    * band hash = xxhash64 chained over the band's slice with seed = band
    * index. Identical element sets ⇒ identical signatures (property-tested
    * in src/test — hash values are engine-specific, so no oracle). 16×2
    * banding gives P[candidate] = 1−(1−J²)¹⁶ — ≥0.9-Jaccard pairs are
    * caught with probability 1−(0.19)¹⁶ ≈ 1−3e-12 (and ≥0.8 pairs with
    * 1−(0.36)¹⁶ ≈ 1−8e-8), which is what lets the LSH queries confirm
    * against an EXACT all-pairs oracle.
    */
  private[graft] val NumHashes = 32
  private[graft] val NumBands = 16

  /** Round-robin fan-out to the session's shuffle parallelism — the
    * fixture tables scan as a SINGLE partition (one row group), so any
    * per-row work written below the scan runs in one task unless the
    * frame is spread first. Apply BEFORE the tokenize/shingle
    * projection: the exchange then ships raw text once and the set
    * build + hashing parallelize (r4 review catch — projecting first
    * serialized the set build AND shipped the bigger token arrays).
    */
  private[graft] def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** Adds (minhash_sig: array<long>, bands: array<long>) to any frame with
    * a `setCol` array column, via the one-pass native expression
    * (graft.functions.MinHashBands — the equivalent built-in
    * `transform(sequence(...), ...)` chain re-evaluates the whole
    * signature per band after CollapseProject: measured 16× recompute).
    * Applicable to arbitrary inputs (property-tested on generated token
    * sets in src/test). CALLER CONTRACT: single-partition inputs (fixture
    * scans) must be [[fanOut]]-spread BEFORE the set projection feeding
    * this — a downstream localCheckpoint otherwise materializes the whole
    * set-build + 32-hash computation in one task.
    */
  private[graft] def signatures(docs: DataFrame, setCol: String = "toks"): DataFrame =
    docs
      .withColumn("__mb",
        graft.functions.GraftExpressions.minhashBands(col(setCol), NumHashes, NumBands, barrier = true))
      .withColumn("minhash_sig", col("__mb.sig"))
      .withColumn("bands", col("__mb.bands"))
      .drop("__mb")

  /** (doc_id, toks, minhash_sig, bands) for the documents fixture. */
  private[graft] def minhashBands(s: SparkSession, d: String): DataFrame =
    signatures(fanOut(documents(s, d))
      .select(col("doc_id"), normTokens(col("text")).as("toks")))

  /** Graded surface: one row per (doc, band) with scalar columns only —
    * the harness's rows-check sorts columns and cannot hash arrays, so the
    * signature travels as a joined string and bands as exploded rows.
    */
  val qMinhashSig: Q = (s, d) =>
    minhashBands(s, d)
      .select(col("doc_id"),
        array_join(col("minhash_sig"), ",").as("sig"),
        posexplode(col("bands")))
      .select(col("doc_id"), col("sig"),
        col("pos").cast("long").as("band_idx"), col("col").as("band_hash"))
      .orderBy("doc_id", "band_idx")

  /** ORACLE-GRADED recall check for the q_minhash_sig artifact (which is
    * itself hash-valued, so rows-only): does every EXACT J ≥ 0.9 pair —
    * blocked brute force, the same definition the q_neardup_pairs oracle
    * brute-forces in DuckDB — collide in at least one LSH band of the
    * signatures? n_exact cross-checks the Spark block-brute join against
    * DuckDB's independent one; n_missed is the band-recall claim (oracle
    * expects 0 — per-pair miss probability at J ≥ 0.9 under 16×2 banding
    * is (1−J²)¹⁶ ≤ 3e-12, so a nonzero count means the signature kernel
    * broke, not bad luck). The block-brute join is the VALIDATION-scale
    * formulation (exactly what the oracle runs); the production path
    * stays the banded q_neardup_pairs itself.
    */
  val qMinhashRecall: Q = (s, d) => {
    val sigs = signatures(blockedDocSets(documents(s, d), normTokens(col("text")), "toks"))
      .where(size(col("toks")) > 0).localCheckpoint()
    def side(sfx: String) = sigs.select(
      col("doc_id").as(s"id_$sfx"), col("lang"), col("len_bucket"),
      col("toks").as(s"toks_$sfx"), size(col("toks")).as(s"n_$sfx"))
    val exact = side("a").join(side("b"), Seq("lang", "len_bucket"))
      .where(col("id_a") < col("id_b"))
      .withColumn("inter", intersectSize(col("toks_a"), col("toks_b"), barrier = true))
      .where(col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double") >= 0.9)
      .select(col("id_a"), col("id_b"))
    val cands = bandedCandidates(sigs, "doc_id", "bands", Broadcast, DocBlockCols)
    val missed = exact.join(cands, Seq("id_a", "id_b"), "left_anti")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(missed.agg(count(lit(1)).as("n_missed")))
      .select(col("n_exact"), col("n_missed"), (col("n_missed") === 0).as("recall_ok"))
  }

  /** Physical shape of the LSH candidate/confirm joins — same logical
    * result either way (equivalence-tested in LshSaltedSpec).
    */
  sealed trait LshShape
  /** Broadcast the banded side + per-doc set dictionaries: fastest while
    * they fit executor memory (single hot band buckets are single join
    * KEYS, which a sort-merge join — and AQE skew split, whose trigger is
    * input bytes, not join fan-out — would grind through in ONE task;
    * probing a broadcast map spreads the fan-out across the stream
    * partitions).
    */
  case object Broadcast extends LshShape
  /** No broadcasts anywhere — the shape past broadcast limits: the band
    * join salts ADAPTIVELY, two-level. A slim per-bucket census (band_idx,
    * band_hash, blocks → member count m) decides each bucket's salt count
    * `nsalts = ⌈m / cap⌉`; the stream side takes one deterministic salt
    * `hash(doc_id) % nsalts` and the other side replicates `nsalts`× —
    * so the TYPICAL bucket (m ≤ cap) pays ZERO replication, while a hot
    * band bucket's O(|bucket|²) pair fan-out splits across ⌈m/cap⌉
    * sort-merge tasks, each generating ≤ cap·m pairs. (The r9 fixed-16×
    * scheme replicated EVERY bucket 16×, which made the dual SMJ sort of
    * the replicated side the measured ×10 bottleneck — 19.5× at sf1-eq;
    * replication proportional to skew removes that constant while
    * keeping a STRICTLY better worst-case task bound: a 10⁶-member
    * bucket used to land 6×10¹⁰ pairs on each of 16 tasks, now ≤ cap·m
    * = 6×10⁷ on each of ~16k. Total replication for a bucket is m·⌈m/cap⌉
    * ≈ m²/cap rows — dominated, for cap ≥ 2, by the bucket's own O(m²)
    * candidate-pair output, so the scheme never shuffles more than the
    * join itself is about to emit.) The census joins ride the same band-key
    * partitioning as the main join (merge-hinted — sort-based,
    * spillable, no in-memory build side at any scale), and the confirm
    * joins stay doc-id co-partitioned sort-merge.
    */
  final case class Salted(cap: Int = 64) extends LshShape {
    require(cap >= 1, s"salt cap must be >= 1, got $cap")
  }
  /** Size-dispatched: Broadcast while the signature corpus is small
    * enough to broadcast safely, Salted beyond. The decisive broadcast is
    * the per-doc SET dictionary (~KB/doc for token arrays), so the
    * default caps well under executor broadcast limits. The dispatch
    * count is one Spark job over the checkpointed signatures; it stays
    * because the shape must be fixed before the candidate join is planned.
    */
  final case class Auto(maxBroadcastDocs: Long = 500000L) extends LshShape

  /** THE shared banded-LSH candidate engine — one implementation behind
    * the token/shingle MinHash family (`lshNearDupPairs`) and the
    * embedding hyperplane family (`CosineLsh.nearDup`): explode the
    * per-row band/table hash array, self-join on (position, hash
    * [, blockCols]), and emit each colliding (id_a < id_b) pair from its
    * FIRST shared position only — exact-once without a distinct over
    * every (pair × shared band) row (measured 85M collision rows → 12M
    * pairs at sf0.1; the distinct was a 30 s shuffle this per-row filter
    * replaces).
    *
    * `sigs` must already be checkpointed and `shape` resolved (see
    * [[resolveShape]]); Auto here is a caller bug. The candidate join
    * ships ids + block keys + band arrays + the optional prune size
    * only — never the sets or vectors.
    *
    * `sizePrune = (sizeExpr, tauNum, tauDen)` installs the lossless
    * set-size ratio prune for Jaccard τ = tauNum/tauDen: J(A,B) ≤
    * min/max, so J ≥ τ requires tauDen·min(|A|,|B|) ≥ tauNum·max.
    * It runs FIRST (cheap integer compare) so most collisions
    * short-circuit before the first-match band scan.
    *
    * `blockCols` ANDs explicit block keys into the join: candidates must
    * share the block AND a band. Use when banding alone is non-selective
    * (high background Jaccard — shingle sets) or when blocking is part of
    * the operator semantic; the intersection also shrinks every
    * (band, block) join bucket.
    *
    * Returns (id_a, id_b).
    */
  private[graft] def bandedCandidates(sigs: DataFrame, idCol: String,
      bandsCol: String, shape: LshShape, blockCols: Seq[String] = Nil,
      sizePrune: Option[(Column, Int, Int)] = None): DataFrame =
    bandedCandidatesImpl(sigs, sigs, idCol, bandsCol, shape, blockCols,
      sizePrune, selfPair = true)

  /** Shape-dispatched confirm attach, shared by all LSH families: join
    * each side of an (id_a, id_b) candidate stream to its per-id payload
    * dictionary (idCol + payload columns; payloads come back suffixed
    * `_a`/`_b`). `dictA`/`dictB` are the same frame for self-join
    * families and different frames for the cross-corpus variant.
    * Broadcast: the dictionaries broadcast, so the candidate stream
    * never shuffles the payloads. Salted: doc-id co-partitioned
    * sort-merge confirms (both low-skew high-cardinality keys) — the
    * payload ships once per side, no in-memory build side at any scale.
    * The caller computes the confirm metric on the attached columns;
    * exactly one size-ratio prune happens upstream in
    * [[bandedCandidates]] — re-pruning here would filter values that
    * already passed the identical predicate.
    */
  private[graft] def attachPairSides(pairs: DataFrame, dictA: DataFrame,
      dictB: DataFrame, idCol: String, shape: LshShape): DataFrame = {
    def side(dict: DataFrame, sfx: String) = {
      val payload = dict.columns.filterNot(_ == idCol).toIndexedSeq
      dict.select(
        col(idCol).as(s"id_$sfx") +: payload.map(c => col(c).as(s"${c}_$sfx")): _*)
    }
    shape match {
      case Broadcast =>
        pairs.join(broadcast(side(dictA, "a")), "id_a")
          .join(broadcast(side(dictB, "b")), "id_b")
      case Salted(_) =>
        pairs.hint("merge").join(side(dictA, "a").hint("merge"), "id_a")
          .hint("merge").join(side(dictB, "b").hint("merge"), "id_b")
      case _: Auto => throw new IllegalStateException("resolve Auto via resolveShape first")
    }
  }

  /** Self-join convenience: both sides share one dictionary. */
  private[graft] def attachPairSides(pairs: DataFrame, dict: DataFrame,
      idCol: String, shape: LshShape): DataFrame =
    attachPairSides(pairs, dict, dict, idCol, shape)

  /** EXACT-Jaccard confirm shared by the self-join and cross-corpus
    * MinHash paths: attach each side's set via [[attachPairSides]], count
    * the intersection with the native merge kernel, keep rounded J ≥ τ.
    */
  private def confirmJaccard(pairs: DataFrame, dictA: DataFrame, dictB: DataFrame,
      setCol: String, threshold: Double, shape: LshShape,
      ordered: Boolean = true): DataFrame =
    attachPairSides(pairs, dictA, dictB, "doc_id", shape)
      // (r17) Bounded merge kernel: candidates that cannot reach the
      // rounded threshold stop scanning early (−1 fails the filter
      // exactly as their true count would — soundness proof at
      // GraftOps.intersectSizeBounded). Most ≥τ candidates fail confirm,
      // so the kernel's work drops to ~the mismatch-detection prefix.
      .withColumn("inter", graft.functions.GraftExpressions.intersectSizeBounded(
        col(s"${setCol}_a"), col(s"${setCol}_b"), threshold, barrier = true))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("__ns_a") + col("__ns_b") - col("inter")).cast("double"), 6))
      .where(col("jaccard") >= threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("jaccard"))
      // (r17) ordered = false for INTERNAL consumers (components /
      // resolve / triangle edges): they immediately re-shuffle, so the
      // graded keys' global range-sort of the pair stream was pure waste
      // inside their materialization jobs. Graded pair outputs keep it.
      .transform(df => if (ordered) df.orderBy("doc_a", "doc_b") else df)

  private def jaccardDict(sigs: DataFrame, setCol: String): DataFrame =
    sigs.select(col("doc_id"), col(setCol), size(col(setCol)).as("__ns"))

  /** MinHash-LSH near-dup pairs on the shared core: candidates from
    * [[bandedCandidates]] over the `bands` column (with the lossless
    * size-ratio prune), then EXACT-Jaccard confirm via the native merge
    * intersect-count on payloads attached by [[attachPairSides]].
    *
    * `sigsIn` must carry (doc_id, `setCol`, bands); it is localCheckpointed
    * so the signature computation runs ONCE even though three plan branches
    * consume it (signatures are write-once artifacts in a real pipeline —
    * at 100 TB they'd be a persisted table).
    */
  private[graft] def lshNearDupPairs(sigsIn: DataFrame, setCol: String,
      tauNum: Int, tauDen: Int, threshold: Double, shapeIn: LshShape,
      blockCols: Seq[String] = Nil, ordered: Boolean = true): DataFrame = {
    // Degenerate-row guard (this family's NaN fail-open hazard): empty
    // sets are excluded up front — J(∅, ∅) = 0/0 is NaN, which Spark's
    // NaN-is-greatest ordering would pass through a `>= τ` filter as a
    // bogus pair (and all-empty docs share the degenerate all-MaxValue
    // signature, so they WOULD collide). CosineLsh.nearDup's counterpart
    // is its zero/NaN/Inf norm guard.
    // One job; it stays because the dispatch count, the candidate join
    // and the confirm dictionary all read the signatures.
    val sigs = sigsIn.where(size(col(setCol)) > 0).localCheckpoint()
    val shape = resolveShape(shapeIn, sigs)
    val pairs = bandedCandidates(sigs, "doc_id", "bands", shape, blockCols,
      sizePrune = Some((size(col(setCol)), tauNum, tauDen)))
    val dict = jaccardDict(sigs, setCol)
    confirmJaccard(pairs, dict, dict, setCol, threshold, shape, ordered)
  }

  /** Cross-corpus banded candidates: every (new, corpus) id pair sharing
    * a band (and the block keys) — the asymmetric sibling of
    * [[bandedCandidates]] for "dedup the NEW data against the EXISTING
    * corpus" (no id ordering; sides are distinct frames, so no
    * symmetric-duplicate problem; exact-once across shared bands via the
    * same first-match filter). Both frames must carry idCol, bandsCol,
    * blockCols, and be pre-filtered/checkpointed; `shape` resolved.
    */
  private[graft] def bandedCandidatesAcross(newSigs: DataFrame, corpusSigs: DataFrame,
      idCol: String, bandsCol: String, shape: LshShape, blockCols: Seq[String] = Nil,
      sizePrune: Option[(Column, Int, Int)] = None): DataFrame =
    bandedCandidatesImpl(newSigs, corpusSigs, idCol, bandsCol, shape, blockCols,
      sizePrune, selfPair = false)

  /** The ONE banded-candidate join implementation behind the self and
    * cross variants. `selfPair = true` adds the `id_a < id_b` ordering
    * that dedups symmetric self-join pairs; distinct frames need no
    * ordering. Broadcast broadcasts the RIGHT side (= the whole corpus
    * for self joins, the persisted corpus index for ingest — the side a
    * production deployment keeps built); Salted salts the left and
    * replicates the right per-bucket `⌈m/cap⌉`× under sort-merge
    * (`merge` hint: the join with no in-memory build side at 100 TB) —
    * each left id keeps one deterministic salt (stable under task retry,
    * census-derived), so every pair joins exactly once, in sub-key
    * salt(a).
    */
  private def bandedCandidatesImpl(leftSigs: DataFrame, rightSigs: DataFrame,
      idCol: String, bandsCol: String, shape: LshShape, blockCols: Seq[String],
      sizePrune: Option[(Column, Int, Int)], selfPair: Boolean): DataFrame = {
    def explodeBands(df: DataFrame): DataFrame = {
      val keep = (col(idCol) +: blockCols.map(col)) :+ col(bandsCol)
      val withN = sizePrune.map { case (e, _, _) => keep :+ e.as("__n") }.getOrElse(keep)
      df.select(withN :+ posexplode(col(bandsCol)).as(Seq("__band_idx", "__band_hash")): _*)
    }
    def joinKey(a: String, b: String) = {
      val key = (Seq(col(s"$a.__band_idx") === col(s"$b.__band_idx"),
        col(s"$a.__band_hash") === col(s"$b.__band_hash")) ++
        blockCols.map(c => col(s"$a.$c") === col(s"$b.$c")))
        .reduce(_ && _)
      if (selfPair) key && col(s"$a.$idCol") < col(s"$b.$idCol") else key
    }
    val cands = shape match {
      case Broadcast =>
        // The checkpointed left side is already round-robin partitioned
        // (signatures()/fanOut contract), so the O(pairs) probe fans out
        // over its partitions with no further shuffle.
        explodeBands(leftSigs).alias("a")
          .join(broadcast(explodeBands(rightSigs).alias("b")), joinKey("a", "b"))
      case Salted(cap) =>
        // Two-level adaptive salting (see Salted scaladoc): a slim census
        // of LEFT bucket sizes fixes each bucket's nsalts; both sides
        // join it merge-hinted on the band key — the same clustering the
        // main join needs, so the census attach adds sorts of SLIM
        // frames, not exchanges of the corpus. Buckets with no left
        // member drop out of the right side too (inner join): no left
        // partner ⇒ no pair, a free prune for the cross-corpus variant.
        val bKey = Seq("__band_idx", "__band_hash") ++ blockCols
        val census = explodeBands(leftSigs)
          .groupBy(bKey.map(col): _*)
          .agg(count(lit(1)).as("__m"))
          .select(bKey.map(col) :+
            ceil(col("__m").cast("double") / cap).cast("long").as("__nsalts"): _*)
        val bandedA = explodeBands(leftSigs)
          .join(census.hint("merge"), bKey)
          .withColumn("__salt", pmod(xxhash64(col(idCol)), col("__nsalts")))
          .drop("__nsalts")
        val bandedB = explodeBands(rightSigs)
          .join(census.hint("merge"), bKey)
          .withColumn("__salt", explode(sequence(lit(0L), col("__nsalts") - 1)))
          .drop("__nsalts")
        bandedA.alias("a")
          .join(bandedB.alias("b").hint("merge"),
            joinKey("a", "b") && col("a.__salt") === col("b.__salt"))
      case _: Auto => throw new IllegalStateException("resolve Auto via resolveShape first")
    }
    val keep = sizePrune match {
      case Some((_, tauNum, tauDen)) =>
        least(col("a.__n"), col("b.__n")) * tauDen >=
          greatest(col("a.__n"), col("b.__n")) * tauNum &&
          graft.functions.GraftExpressions.firstMatchIndex(
            col(s"a.$bandsCol"), col(s"b.$bandsCol")) === col("a.__band_idx")
      case None =>
        graft.functions.GraftExpressions.firstMatchIndex(
          col(s"a.$bandsCol"), col(s"b.$bandsCol")) === col("a.__band_idx")
    }
    cands.where(keep)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
  }

  /** Which NEW docs near-duplicate the EXISTING corpus: (doc_a = new id,
    * doc_b = corpus id, jaccard) for J ≥ τ — the incremental-ingest
    * primitive (`Streams.incrementalNearDupIngest` drives it per
    * micro-batch; batch users call it directly for delta-vs-snapshot
    * dedup). Both inputs carry (doc_id, `setCol`, bands) — corpus sigs
    * are a PERSISTED artifact (computed once at ingest, stored with the
    * corpus), so only the new slice pays signature cost.
    */
  def nearDupAgainst(newSigsIn: DataFrame, corpusSigsIn: DataFrame, setCol: String,
      tauNum: Int, tauDen: Int, threshold: Double,
      shapeIn: LshShape = Auto()): DataFrame = {
    val newSigs = newSigsIn.where(size(col(setCol)) > 0).localCheckpoint()
    val corpusSigs = corpusSigsIn.where(size(col(setCol)) > 0).localCheckpoint()
    val shape = resolveShapeBoth(shapeIn, newSigs, corpusSigs)
    val pairs = bandedCandidatesAcross(newSigs, corpusSigs, "doc_id", "bands", shape,
      sizePrune = Some((size(col(setCol)), tauNum, tauDen)))
    confirmJaccard(pairs, jaccardDict(newSigs, setCol), jaccardDict(corpusSigs, setCol),
      setCol, threshold, shape)
  }

  /** Auto → Broadcast or Salted by counting the (already materialized)
    * checkpointed corpus — one Spark job, see [[Auto]]; concrete shapes
    * pass through.
    */
  private[graft] def resolveShape(shape: LshShape, checkpointedSigs: DataFrame): LshShape =
    shape match {
      case Auto(maxDocs) =>
        if (checkpointedSigs.count() <= maxDocs) Broadcast else Salted()
      case s => s
    }

  /** Cross-corpus Auto resolution: the Broadcast branch broadcasts BOTH
    * sides' payload dictionaries (attachPairSides) and the banded right
    * side (bandedCandidatesImpl) — so the dispatch must consider the
    * LARGER side, not just the corpus: a huge delta probed against a
    * small corpus would otherwise pick Broadcast and ship the unbounded
    * delta dictionary to every executor (r5 advice). Both frames must be
    * checkpointed. Each count is one Spark job; they stay because the
    * shape must be fixed before the candidate join is planned, and the
    * second is skipped once the first exceeds the cap.
    */
  private[graft] def resolveShapeBoth(shape: LshShape, a: DataFrame, b: DataFrame): LshShape =
    shape match {
      case Auto(maxDocs) =>
        if (a.count() <= maxDocs && b.count() <= maxDocs) Broadcast else Salted()
      case s => s
    }

  /** LSH near-dup, broadcast shape (see LshShape scaladocs). Oracle:
    * global exact all-pairs Jaccard ≥ 0.9 (no blocking) — sound because
    * the confirm step removes false positives and 16×2 banding makes
    * false negatives ~3e-12 per pair.
    */
  val qNeardupLsh: Q = (s, d) =>
    lshNearDupPairs(minhashBands(s, d), "toks", 9, 10, 0.9, Broadcast)

  /** LSH near-dup, salted no-broadcast shape — identical output to
    * qNeardupLsh (same oracle; equivalence also spec-asserted), physical
    * plan contains no broadcast exchange at all: the form that runs when
    * the corpus is 1000× past broadcast limits.
    */
  val qNeardupLshSalted: Q = (s, d) =>
    lshNearDupPairs(minhashBands(s, d), "toks", 9, 10, 0.9, Salted())

  /** Character-3-gram (shingle) Jaccard near-dup — catches near-duplicates
    * that word tokenization misses (reordered words, punctuation edits).
    * The operator semantic is BLOCKED (lang, length-bucket) near-dup: pure
    * LSH banding cannot carry this query alone, because background trigram
    * overlap between unrelated same-language docs makes the band buckets
    * non-selective at τ = 0.8 (measured 87% of ALL pairs colliding in some
    * band at sf0.1, i.e. banded "candidates" ≈ the full quadratic pair
    * space). The candidate join therefore keys on block AND band: only
    * pairs sharing (lang, len-bucket) and ≥1 band materialize — a J ≥ 0.8
    * pair shares no band with probability (1−0.8²)¹⁶ ≈ 8.5e-8 (accepted
    * vs the exact blocked oracle), while ~80% of background block pairs
    * never even reach the size prune. Runs `Auto` shape dispatch: the
    * Broadcast branch at fixture scale (the r3 forced-Salted choice was
    * the round's one bench regression, 6.5 → 10.2 s — paying ~2 extra
    * sort-merge shuffles at a scale where the banded corpus trivially
    * fits executor memory), the Salted ids+bands-only no-broadcast form
    * past the doc cap; the Salted plan shape stays spec-pinned in
    * LshSaltedSpec either way. Threshold 0.8 (shingle Jaccard dilutes
    * faster than token Jaccard); J ≥ 0.8 ⇔ 5·min ≥ 4·max prune.
    */
  val qNgramJaccard: Q = (s, d) =>
    lshNearDupPairs(
      signatures(blockedDocSets(documents(s, d),
        graft.functions.GraftExpressions.charShingles(col("text"), 3, barrier = true),
        "grams", minChars = 3), "grams"),
      "grams", 4, 5, 0.8, Auto(), blockCols = DocBlockCols)

  /** Graded surface for [[nearDupAgainst]] — delta-vs-snapshot dedup:
    * the delta is 50 re-labeled copies of corpus docs (J = 1 with their
    * originals — and with any corpus doc in the same normalized-dup
    * group) plus 50 synthetic docs whose token sets are disjoint from
    * the corpus vocabulary (must survive). Oracle: exact delta × corpus
    * all-pairs Jaccard — sound for the same reason as q_neardup_lsh
    * (per-pair band-miss ~3e-12 at J ≥ 0.9).
    */
  val qNeardupDelta: Q = (s, d) => {
    val docs = fanOut(documents(s, d))
    val dup = docs.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val novel = docs.where(col("doc_id") % 10 === 3)
      .select((col("doc_id") + 200000L).as("doc_id"),
        concat(lit("zzz unique synthetic content "),
          (col("doc_id") + 200000L).cast("string")).as("text"))
    val delta = dup.unionByName(novel)
      .select(col("doc_id"), normTokens(col("text")).as("toks"))
    val corpus = docs.select(col("doc_id"), normTokens(col("text")).as("toks"))
    nearDupAgainst(signatures(delta), signatures(corpus), "toks", 9, 10, 0.9)
  }

  /** Smallest power-of-two band count whose pigeonhole guarantee covers
    * `maxHamming` (nBands ≥ maxHamming + 1), so callers dial the
    * threshold and the banding follows: ≤3 → 4×16-bit, ≤7 → 8×8-bit,
    * ≤15 → 16×4-bit. More bands = smaller band values = denser buckets
    * (random 8-bit collisions at ~n²/256 per position), so the tightest
    * sufficient banding is also the most selective one.
    */
  private[graft] def simHashBandCount(maxHamming: Int): Int = {
    require(0 <= maxHamming && maxHamming <= 15,
      s"banded SimHash supports hamming <= 15 (16x4-bit bands); got $maxHamming")
    Seq(4, 8, 16).find(_ > maxHamming).get
  }

  /** (doc_id, sig, bands) — 64-bit SimHash signature split into `nBands`
    * disjoint (64/nBands)-bit chunks (band identity = position in the
    * array; the candidate join keys on (band_idx, band_hash)).
    */
  private def simHashSigs(docs: DataFrame, nBands: Int): DataFrame = {
    val width = 64 / nBands
    val mask = lit((1L << width) - 1)
    fanOut(docs)
      .select(col("doc_id"),
        graft.functions.GraftExpressions.simhash64(col("text")).as("sig"))
      .withColumn("bands", array((0 until nBands).map(i =>
        shiftrightunsigned(col("sig"), width * i).bitwiseAND(mask)): _*))
      .localCheckpoint()
  }

  /** Hamming confirm shared by the self and cross SimHash paths: attach
    * each side's signature, keep `bit_count(sig_a ^ sig_b) <= maxHamming`
    * (built-in codegen — no custom kernel needed).
    */
  private def confirmHamming(pairs: DataFrame, dictA: DataFrame, dictB: DataFrame,
      maxHamming: Int, shape: LshShape): DataFrame =
    attachPairSides(pairs, dictA, dictB, "doc_id", shape)
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")

  /** SimHash near-duplicate pairs: doc pairs whose 64-bit token-multiset
    * SimHash signatures differ in at most `maxHamming` bits — the
    * constant-size-fingerprint member of the near-dup family (MinHash
    * carries set overlap, shingles carry local edits, cosine carries
    * embeddings; SimHash carries weighted token-multiset drift in 8
    * bytes/doc, the cheapest signature to store and compare at 100 TB).
    *
    * THIRD family on the shared banded-LSH core: bands are the
    * signature's nBands disjoint (64/nBands)-bit chunks
    * ([[simHashBandCount]] picks the tightest banding covering
    * `maxHamming`), so by pigeonhole any pair within the threshold
    * leaves ≥ 1 band untouched — candidate recall is EXACT, not
    * probabilistic (unlike MinHash/hyperplane banding), and the operator
    * is a pure function of the data (spec'd ≡ brute-force hamming join
    * at hamming 3 AND 7). Empty texts hash to signature 0 and pair with
    * each other at hamming 0 (empty ≡ empty — consistent, no NaN hazard
    * anywhere: all-integer).
    */
  def simHashNearDup(docs: DataFrame, maxHamming: Int = 3,
      shapeIn: LshShape = Broadcast): DataFrame = {
    val sigs = simHashSigs(docs, simHashBandCount(maxHamming))
    val shape = resolveShape(shapeIn, sigs)
    val pairs = bandedCandidates(sigs, "doc_id", "bands", shape)
    val dict = sigs.select(col("doc_id"), col("sig"))
    confirmHamming(pairs, dict, dict, maxHamming, shape)
  }

  /** Which NEW docs sit within `maxHamming` SimHash bits of the EXISTING
    * corpus — the SimHash member of the delta-vs-snapshot family
    * ([[nearDupAgainst]] is the MinHash twin, `CosineLsh.nearDupAgainst`
    * the embedding twin): cheapest possible corpus index (8 bytes/doc +
    * the band chunks, recomputable from the signature alone), exact
    * recall by the same pigeonhole argument as the self join. Returns
    * (doc_a = new id, doc_b = corpus id, hamming).
    */
  def simHashNearDupAgainst(newDocs: DataFrame, corpusDocs: DataFrame,
      maxHamming: Int = 3, shapeIn: LshShape = Auto()): DataFrame = {
    val nBands = simHashBandCount(maxHamming)
    val newSigs = simHashSigs(newDocs, nBands)
    val corpusSigs = simHashSigs(corpusDocs, nBands)
    val shape = resolveShapeBoth(shapeIn, newSigs, corpusSigs)
    val pairs = bandedCandidatesAcross(newSigs, corpusSigs, "doc_id", "bands", shape)
    confirmHamming(pairs, newSigs.select(col("doc_id"), col("sig")),
      corpusSigs.select(col("doc_id"), col("sig")), maxHamming, shape)
  }

  /** Graded (rows-only) surface for [[simHashNearDup]]: signature values
    * are engine-specific (FNV-1a), so no SQL oracle exists — the row set
    * is deterministic and the operator is brute-force-equivalence-spec'd
    * (SimHashSpec), the same grading contract as q_minhash_sig.
    */
  val qSimhashNeardup: Q = (s, d) =>
    simHashNearDup(documents(s, d), maxHamming = 3, Auto())

  /** Graded (rows-only) surface for [[simHashNearDupAgainst]] — the
    * SimHash delta-vs-snapshot twin of [[qNeardupDelta]]: the delta is
    * 50 re-labeled copies of corpus docs (hamming 0 with their
    * originals) plus 50 synthetic docs with disjoint vocabulary.
    * Signature values are engine-specific (FNV-1a), so no SQL oracle —
    * deterministic row set; cross-corpus ≡ brute-force cross hamming
    * join is spec'd in SimHashSpec (exact recall by pigeonhole).
    */
  val qSimhashDelta: Q = (s, d) => {
    val docs = documents(s, d)
    val dup = docs.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val novel = docs.where(col("doc_id") % 10 === 3)
      .select((col("doc_id") + 200000L).as("doc_id"),
        concat(lit("zzz unique synthetic content "),
          (col("doc_id") + 200000L).cast("string")).as("text"))
    simHashNearDupAgainst(dup.unionByName(novel),
      docs.select(col("doc_id"), col("text")), maxHamming = 3)
  }

  /** ORACLE-GRADED check frame for the SimHash family (whose signature
    * values are engine-specific FNV-1a, so q_simhash_neardup/delta/
    * q_udf_scalar are rows-only): plant an exact relabeled copy of every
    * 10th document (the qNeardupDelta corpus construction, which DuckDB
    * replants identically — the pair list IS the cross-engine value) and
    * expect TRUE on two booleans per pair: `pair_found` — the copy
    * collides with its original through the ENTIRE banded pipeline
    * (signature → band split → candidate join → hamming confirm) at
    * hamming 0, guaranteed, not probabilistic: identical text ⇒
    * identical signature ⇒ every band equal — and `udf_expr_agree` —
    * the Scala-UDF surface (q_udf_scalar's `udf(simhash64)`) and the
    * codegen'd Catalyst expression compute the same signature, pinning
    * the two execution paths against each other inside the gate. A
    * signature kernel that became partition-, order-, or
    * codegen-path-dependent flips a boolean and fails the hash compare.
    */
  val qSimhashCheck: Q = (s, d) => {
    val docs = documents(s, d)
    val orig = docs.where(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    val copies = orig.select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val found = simHashNearDupAgainst(copies,
        docs.select(col("doc_id"), col("text")), maxHamming = 0)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("__hit"))
    val simUdf = udf((t: String) => graft.functions.GraftOps.simhash64(t))
    orig
      .select((col("doc_id") + 100000L).as("doc_a"), col("doc_id").as("doc_b"),
        (simUdf(col("text")) ===
          graft.functions.GraftExpressions.simhash64(col("text"))).as("udf_expr_agree"))
      .join(found, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        col("__hit").isNotNull.as("pair_found"), col("udf_expr_agree"))
      .orderBy("doc_a")
  }

  /** Directional CONTAINMENT pairs: (doc_a, doc_b) where
    * |A∩B| / |A| ≥ τ — doc_a's token set is (near-)contained in doc_b's.
    * The subset-duplicate detector the Jaccard family structurally
    * misses: a paragraph quoted inside a 100× longer page has
    * containment ≈ 1 but Jaccard ≈ 1%, shares no MinHash bands with
    * useful probability, and sits in a different length-bucket block —
    * yet it is exactly the boilerplate/quotation duplication a
    * training-data pipeline must find.
    *
    * Candidates come from PREFIX FILTERING (the PPJoin family,
    * public set-similarity-join literature), not banding: containment
    * ≥ tauNum/tauDen forces |A∩B| ≥ ceil(tauNum·|A|/tauDen), so B must
    * hold all but at most |A| − that many of A's tokens — meaning B
    * shares at least one of ANY (|A| − ceil(tauNum·|A|/tauDen) + 1)
    * tokens of A. The prefix takes exactly that many of A's GLOBALLY
    * RAREST tokens (ascending document frequency, ties by token), so
    * candidate recall is EXACT by pigeonhole while the prefix join
    * touches the smallest possible posting lists. The prefix length is
    * computed in pure integer arithmetic (ceil(a/b) = (a+b−1) div b) —
    * a double `ceil(0.9·|A|)` rounds 9.000000000000002 up and silently
    * shrinks the guarantee.
    *
    * Shapes, 100 TB: the df dictionary and prefix/index joins are plain
    * shuffle joins on the token (never broadcast — the inverted index is
    * corpus-sized); rare tokens mean small posting lists, so the
    * candidate fan-out is bounded by prefix df, not corpus size. The
    * confirm attach runs the standard [[attachPairSides]] shape dispatch
    * and the native merge-intersect kernel. Candidates are deduped with
    * one `distinct` over (id_a, id_b) — bounded by true candidate count,
    * which prefix rarity keeps small.
    *
    * `docsWithToks` must carry (doc_id, `setCol` sorted-distinct tokens);
    * empty sets are excluded (containment 0/0). Equal sets yield both
    * directions — consistent with the oracle's formulation.
    */
  def containmentPairs(docsWithToks: DataFrame, setCol: String,
      tauNum: Int, tauDen: Int, shapeIn: LshShape = Auto()): DataFrame = {
    val docs = docsWithToks.where(size(col(setCol)) > 0)
      .select(col("doc_id"), col(setCol), size(col(setCol)).as("__ns"))
      .localCheckpoint()
    val shape = resolveShape(shapeIn, docs)
    // Salted = the no-broadcast twin: the df dictionary and the inverted
    // index are corpus-sized frames the planner must not build in
    // executor memory (its static estimates here are post-aggregate and
    // optimistic) — hint every token join sort-merge. Broadcast keeps
    // planner freedom: the fixture-scale fast path.
    def h(df: DataFrame): DataFrame = shape match {
      case Salted(_) => df.hint("merge")
      case _ => df
    }
    // One exploded frame; the set size rides along so neither the prefix
    // cut nor the size prune needs a recount (a count-window over this
    // corpus-sized frame would be a second aggregation pass for a value
    // docs already carries).
    val toks = docs.select(col("doc_id"), col("__ns"), explode(col(setCol)).as("tok"))
    val dfDict = toks.groupBy(col("tok")).agg(count(lit(1)).as("__df"))
    val byRarity = Window.partitionBy(col("doc_id")).orderBy(asc("__df"), asc("tok"))
    val prefix = h(toks).join(h(dfDict), "tok")
      .withColumn("__rn", row_number().over(byRarity))
      // k = |A| − ceil(τ·|A|) + 1 in true INTEGER division (`div`) —
      // Column `/` is double division, and a double ceil can round
      // 9.000000000000002 UP, silently shrinking the recall guarantee.
      .where(col("__rn") <=
        expr(s"__ns - ((__ns * $tauNum + ${tauDen - 1}) div $tauDen) + 1"))
      .select(col("doc_id").as("id_a"), col("__ns").as("__na"), col("tok"))
    // Index side: the same exploded frame, sides renamed.
    val index = toks.select(col("doc_id").as("id_b"), col("__ns").as("__nb"), col("tok"))
    val pairs = h(prefix)
      .join(h(index), "tok")
      .where(col("id_a") =!= col("id_b") &&
        // Lossless size prune BEFORE the distinct/confirm: |A∩B| ≥ τ|A|
        // forces |B| ≥ τ|A| — kills e.g. the whole original→truncation
        // direction without touching a token array.
        col("__nb") * tauDen >= col("__na") * tauNum)
      .select(col("id_a"), col("id_b")).distinct()
    attachPairSides(pairs, docs, "doc_id", shape)
      // (r17) exact-integer early-exit kernel: a candidate that cannot
      // reach need = ceil(|A| * tau) stops merging (-1 fails the integer
      // filter exactly as the true count would).
      .withColumn("inter",
        graft.functions.GraftExpressions.intersectSizeAtLeast(
          col(s"${setCol}_a"), col(s"${setCol}_b"), tauNum, tauDen, barrier = true))
      .where(col("inter") * tauDen >= col("__ns_a") * tauNum)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        round(col("inter").cast("double") / col("__ns_a").cast("double"), 6)
          .as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  /** Graded surface for [[containmentPairs]]: τ = 0.9 directional
    * containment over a 1/8 slice of documents PLUS a planted
    * truncation of every slice doc (the sorted token set's first half,
    * doc_id + 300000) — strict subsets, so the copy→original direction
    * is containment 1.0 while the reverse (≈ 0.5) stays below τ: the
    * asymmetric case Jaccard dedup structurally misses is guaranteed
    * present at every SF. The slice keeps the key's TRUE output
    * bounded: full-corpus containment is quadratic in the fixture's
    * duplicate-group sizes (~80 k directional pairs at sf0.01 — the
    * group-explosion cost is inherent to the semantic, not the plan;
    * production corpus-dedup collapses groups via
    * [[nearDupComponents]] instead of materializing all pairs).
    * Oracle: exact all-pairs containment over the identically-built
    * corpus — sound because prefix-filter recall is exact.
    */
  val qContainmentPairs: Q = (s, d) => {
    val base = fanOut(documents(s, d)).where(col("doc_id") % 8 === 0)
      .select(col("doc_id"), normTokens(col("text")).as("toks"))
    val planted = base.select((col("doc_id") + 300000L).as("doc_id"),
      slice(col("toks"), lit(1),
        floor((size(col("toks")) + 1) / 2).cast("int")).as("toks"))
    containmentPairs(base.unionByName(planted), "toks", 9, 10)
  }

  /** Near-dup CLUSTERS from a pair list: connected components labeled by
    * their min doc id. Per-pair `doc_b`-dropping leaves MULTIPLE
    * representatives per transitive cluster — every doc that is a local
    * minimum among its direct neighbors survives (pairs (5,10), (1,10):
    * both 1 and 5 survive though they share cluster {1,5,10}); component
    * clustering keeps exactly ONE canonical doc (the component min) per
    * cluster, the standard corpus-dedup policy. Returns (doc_id,
    * component) for every doc in `pairs`; docs in no pair are their own
    * component by definition.
    *
    * Two finishes, one result (min-label components are unique, so the
    * rows are identical; ComponentsSpec pins it, schema included):
    *   - the undirected edge list is persisted, then collected with one
    *     bounded collect ([[Graph.collectLongPairs]]). At or under
    *     [[Graph.DriverFinishRows]] pairs of LongType ids it is finished
    *     on the driver by union-find over primitive arrays
    *     ([[componentsOnDriver]]);
    *   - past the budget (or for other id types, or null ids)
    *     [[componentsDistributed]] runs min-label propagation + pointer
    *     jumping in DataFrame ops over the persisted edges: labels
    *     converge in O(log diameter) rounds, and a non-converged exit
    *     after [[ComponentsMaxIter]] rounds THROWS rather than silently
    *     returning split components. That bound and the throw apply to
    *     this loop only; the driver finish has no rounds.
    *
    * 100 TB shape: the distributed state per round is one (doc_id,
    * label) frame partitioned by doc_id, never driver-side; movement
    * detection is a flag computed inside the propagate projection, not
    * an extra join.
    *
    * `checkpointDir`: by default the edges and each round are persisted
    * with `localCheckpoint` (executor-local blocks — fast, but lost if an
    * executor dies, which on a cluster forces a job restart). Passing a
    * reliable directory (HDFS/object store) switches them to
    * `df.checkpoint()` there, so a lost executor recovers from the last
    * round's files instead — the fault-tolerance contract a multi-hour
    * 100 TB clustering run needs. Same results either way (spec'd).
    */
  def nearDupComponents(pairs: DataFrame, checkpointDir: Option[String] = None): DataFrame =
    componentsWithin(pairs, ComponentsMaxIter, checkpointDir, Graph.DriverFinishRows)

  /** Rounds the distributed components loop may take before it throws. */
  private[graft] val ComponentsMaxIter = 30

  /** [[nearDupComponents]] with the round bound and the driver budget as
    * parameters — the seam ComponentsSpec uses to force the distributed
    * path.
    */
  private[graft] def componentsWithin(pairs: DataFrame, maxIter: Int,
      checkpointDir: Option[String], budget: Int): DataFrame = {
    // Session-global mutation ONCE, before the loop — per-round re-sets
    // would race with a concurrent caller using a different directory.
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    def persistRound(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
    // Undirected edge list, both directions — so every doc appears as
    // `src`, which is what lets the loop's joins be inner joins. (r17)
    // Emitted via ONE explode rather than a two-branch union: the union
    // form evaluated the whole upstream pair pipeline (candidate join +
    // confirm kernel) TWICE inside the materialization job — measured
    // 3.5 s vs 1.9 s for a single pass at sf0.1. Persisted (one job):
    // the bounded collect and the distributed loop both read it.
    val edges = persistRound(
      pairs.select(explode(array(
          struct(col("doc_a").as("src"), col("doc_b").as("dst")),
          struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")))
    // Each pair once (both directions carry the same union); a pair with
    // a null id keeps both rows, so the null check below sees it.
    val oneWay = edges.where(coalesce(col("src") <= col("dst"), lit(true)))
    Graph.collectLongPairs(oneWay, budget)
      .map { case (a, b) => componentsOnDriver(edges, a, b) }
      .getOrElse(componentsDistributed(edges, maxIter, persistRound))
  }

  /** The driver finish of [[nearDupComponents]]: union-find over the
    * collected pairs (a(i), b(i)) on dense indices in id order, always
    * linking the larger root under the smaller — so every root is its
    * component's min id, the distributed form's label. Emits one row per
    * id, with the distributed form's schema.
    */
  private def componentsOnDriver(edges: DataFrame, a: Array[Long], b: Array[Long]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val (ids, ia, ib) = Graph.denseIds(a, b)
    val parent = Array.tabulate(ids.length)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var i = 0
    while (i < ia.length) {
      val (ra, rb) = (find(ia(i)), find(ib(i)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      i += 1
    }
    val src = edges.schema("src")
    val schema = StructType(Seq(src.copy(name = "doc_id"),
      StructField("component", src.dataType, nullable = true)))
    Graph.pairFrame(edges.sparkSession, schema, ids,
      Array.tabulate(ids.length)(i => ids(find(i))))
  }

  /** The distributed finish of [[nearDupComponents]] over the persisted
    * undirected `edges` (src, dst): a fused min-label round 0, then
    * frontier-filtered [[componentsRound]]s until nothing moves, each
    * round persisted by `persistRound`. Throws if `maxIter` rounds do not
    * converge.
    */
  private[graft] def componentsDistributed(edges: DataFrame, maxIter: Int,
      persistRound: DataFrame => DataFrame): DataFrame = {
    // Fused round 0: against identity labels the first propagation is just
    // min(self, direct neighbors) — one aggregation over edges instead of
    // a full join round (labels stay ids of member docs: every neighbor
    // also appears as `src` in the undirected list, preserving the
    // pointer-jump lookup's totality).
    var labels = persistRound(
      edges.groupBy(col("src"))
        .agg(least(col("src"), min(col("dst"))).as("component"))
        .select(col("src").as("doc_id"), col("component")))
    // (r17) Frontier-filtered propagation: only labels that CHANGED in
    // the previous round (including via the pointer jump) contribute to
    // neighbors — round 1 starts from the full label set. Equivalence
    // proof in [[componentsRound]]'s scaladoc; the win is that late
    // rounds join/shuffle only the edges incident to the shrinking
    // frontier instead of the full edge list every round.
    var frontier = labels
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      val next = persistRound(componentsRound(edges, labels, frontier))
      // One job per round; it stays because the loop cannot plan the
      // next round (or stop) until it knows whether a label moved.
      converged = next.where(col("__moved")).limit(1).count() == 0
      frontier = next.where(col("__changed")).select(col("doc_id"), col("component"))
      labels = next.drop("__moved", "__changed")
      it += 1
    }
    if (!converged) throw new IllegalStateException(
      s"nearDupComponents did not converge within $maxIter rounds")
    labels
  }

  /** One min-label-propagation + pointer-jump round (the loop body of
    * [[componentsDistributed]], extracted so ComponentsSpec can replay
    * it with a full frontier): every doc adopts min(own, neighbors')
    * label, then jumps to its label's label.
    * Labels are always member doc ids, so the pointer-jump lookup join
    * is total. Returns (doc_id, component, __moved, __changed).
    *
    * (r17) `frontier` = the subset of `labels` whose value changed in
    * the previous round (the caller passes the full `labels` on round 1
    * and thereafter the rows the previous round flagged `__changed`).
    * Only frontier labels feed the neighbor branch; every propagated
    * value is BIT-IDENTICAL to the full form's. Proof: labels are
    * monotone non-increasing (min algebra; the jump maps c ↦ label(c) ≤
    * c). For a neighbor v of u that last changed in round t' (or
    * entered at round 1), round t' computed propagated_{t'}(u) ≤
    * label_{t'-1}... more precisely propagated_{t'}(u) ≤ label(v) at
    * that round, which equals label(v) at every later round while v
    * stays unchanged; and own(u) at any later round ≤ propagated_{t'}(u)
    * by monotonicity. So every contribution the frontier filter drops
    * satisfies label(v) ≥ own(u) and cannot lower the min — the
    * propagated values, `__moved` flags, jump targets, round count and
    * fixpoint all coincide with the unfiltered form (ComponentsSpec
    * pins frontier ≡ full on chains/cliques/crosses; the oracle's
    * recursive-CTE fixpoint checks the graded keys end-to-end).
    */
  private[graft] def componentsRound(edges: DataFrame, labels: DataFrame,
      frontier: DataFrame): DataFrame = {
    // Fused propagate: neighbor labels and each doc's OWN label
    // meet in ONE aggregation — the labels frame itself contributes the
    // own-label row (flagged), so the former separate neighbor-min
    // aggregate + label re-attach join collapses into union + groupBy
    // (one join fewer per round; same min algebra: component =
    // min(own ∪ neighbor labels), moved ⟺ that min undercuts own).
    val contrib = edges
      .join(frontier.select(col("doc_id").as("dst"), col("component").as("nc")), "dst")
      .select(col("src").as("doc_id"), col("nc"), lit(false).as("own"))
      .unionByName(labels.select(col("doc_id"), col("component").as("nc"),
        lit(true).as("own")))
    val propagated = contrib.groupBy(col("doc_id"))
      .agg(min(col("nc")).as("component"),
        min(when(col("own"), col("nc"))).as("__own"))
      .select(col("doc_id"), col("component"), col("__own"),
        (col("component") < col("__own")).as("__moved"))
    // Pointer jump: component := label(component). (A second jump per
    // round was tried in r17 and did NOT reduce the round count — the
    // fixture graph is propagation-limited, not chain-depth-limited —
    // so the single jump stays.) __changed (vs __moved, the pre-jump
    // convergence flag) also sees a decrease that arrived via the jump,
    // so the next round's frontier never misses a lowered label.
    val lookup = propagated.select(col("doc_id").as("component"), col("component").as("__cc"))
    propagated.join(lookup, "component")
      .select(col("doc_id"), col("__cc").as("component"), col("__moved"),
        (col("__cc") =!= col("__own")).as("__changed"))
  }

  /** Graded surface for nearDupComponents: components of the ≥0.9-Jaccard
    * near-dup graph. Oracle: DuckDB recursive CTE computing the transitive
    * closure's per-doc min label over the exact all-pairs edge list — so
    * the components finish (the driver union-find at fixture scale) is
    * checked against an independent fixpoint formulation. The pair stage
    * runs `Auto` shape dispatch (r4 verdict: the fixed-`Broadcast` twin
    * here was the one graded composition that would broadcast per-doc
    * set dictionaries at 100× scale) — Broadcast under the doc cap, the
    * no-broadcast Salted form past it. The components finish is picked
    * by the pair list's size, as [[nearDupComponents]] describes.
    */
  val qNeardupComponents: Q = (s, d) =>
    nearDupComponents(
      lshNearDupPairs(minhashBands(s, d), "toks", 9, 10, 0.9, Auto(), ordered = false)
        .select(col("doc_a"), col("doc_b")))
      .orderBy("doc_id")

  /** Dedup RESOLUTION — the last mile after detect (pairs) and cluster
    * (components): map EVERY doc to its group's canonical (the
    * component label, which is the group's min doc_id by construction;
    * singletons canonicalize to themselves via the left join), and emit
    * the deduped corpus as (canonical, group_size). This is the frame a
    * rewrite job joins back to `documents` to materialize the
    * one-survivor-per-group corpus; composing keep-best survivor
    * selection instead of min-id is the qDedupKeepBest policy applied
    * per component.
    */
  val qNeardupResolve: Q = (s, d) =>
    // Standalone-cost note: by the grading contract each key is
    // self-contained, so this RE-RUNS the pair + components stages that
    // q_neardup_components also runs — making it the suite's heaviest
    // key by design, not by plan defect. A real pipeline computes
    // components ONCE and feeds both surfaces through
    // [[resolveToCanonical]].
    resolveToCanonical(
      documents(s, d).select(col("doc_id")),
      nearDupComponents(
        lshNearDupPairs(minhashBands(s, d), "toks", 9, 10, 0.9, Auto(), ordered = false)
          .select(col("doc_a"), col("doc_b"))))
      .orderBy("canonical")

  /** Resolution over PRECOMPUTED components — the library reuse point
    * behind [[qNeardupResolve]]: pass the `nearDupComponents` frame you
    * already have (it is the expensive iterative stage; within one
    * pipeline run it should be computed once and shared) and get the
    * (canonical, group_size) corpus map. Docs absent from `components`
    * are singletons and canonicalize to themselves via the left join.
    */
  def resolveToCanonical(docIds: DataFrame, components: DataFrame): DataFrame =
    docIds
      .join(components, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("canonical"))
      .groupBy(col("canonical"))
      .agg(count(lit(1)).as("group_size"))

  val queries: Map[String, Q] = Map(
    "q_dedup_exact" -> qDedupExact,
    "q_dedup_normalized" -> qDedupNormalized,
    "q_dedup_first_wins" -> qDedupFirstWins,
    "q_dedup_latest" -> qDedupLatest,
    "q_merge_upsert" -> qMergeUpsert,
    "q_merge_tombstone" -> qMergeTombstone,
    "q_dedup_keep_best" -> qDedupKeepBest,
    "q_delta_new_docs" -> qDeltaNewDocs,
    "q_dedup_windowed" -> qDedupWindowed,
    "q_dedup_docs" -> qDedupDocs,
    "q_neardup_pairs" -> qNeardupPairs,
    "q_sorted_neighborhood" -> qSortedNeighborhood,
    "q_ngram_jaccard" -> qNgramJaccard,
    "q_neardup_lsh" -> qNeardupLsh,
    "q_neardup_lsh_salted" -> qNeardupLshSalted,
    "q_neardup_components" -> qNeardupComponents,
    "q_neardup_resolve" -> qNeardupResolve,
    "q_simhash_neardup" -> qSimhashNeardup,
    "q_simhash_delta" -> qSimhashDelta,
    "q_simhash_check" -> qSimhashCheck,
    "q_neardup_delta" -> qNeardupDelta,
    "q_containment_pairs" -> qContainmentPairs,
    "q_minhash_sig" -> qMinhashSig,
    "q_minhash_recall" -> qMinhashRecall
  )
}
