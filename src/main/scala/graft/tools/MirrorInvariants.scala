package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mirror-scale correctness for the keys the DuckDB oracle CANNOT reach
  * at ≈sf1 — the brute-force pair-CTE oracles are quadratic in DuckDB,
  * so `CORRECTNESS_x10_r11.json` excludes them. Their outputs still
  * satisfy two STRUCTURAL invariants on the ×10 mirror that an
  * incorrect engine would break, and both are checkable in Spark alone:
  *
  *  1. COPY DISJOINTNESS — the mirror's per-copy letter rotation makes
  *     cross-copy documents share essentially no token/shingle/n-gram,
  *     so every confirmed pair (Jaccard/containment ≥ τ) must have both
  *     endpoints in the SAME copy stride. One cross-copy pair = a
  *     similarity computed over the wrong documents (or ids corrupted
  *     in the pipeline).
  *
  *  2. EXACT ×N REPLICATION — the rotation is a 1:1 character map, so
  *     within-copy similarity structure is preserved EXACTLY and every
  *     exact (non-probabilistic) operator must emit exactly N× the 1×
  *     pair count. LSH keys redraw MinHash coin flips on rotated tokens
  *     (borderline pairs differ per copy), so they get a [1×, (N+1)×]
  *     band instead — the ScaleSmokeSpec contract, here enforced at
  *     sf0.1×10 ≈ sf1 instead of fixture scale.
  *
  * Run with the mirror already materialized (MakeMirror):
  *   MIRROR_SRC=/root/testdata/sf0.1 MIRROR_DIR=target/mirror_x10
  *   MIRROR_FACTOR=10. Prints one JSON line per key + a summary; exits
  *   1 on any violation.
  */
object MirrorInvariants {

  /** EXACT per-copy replication keys (round-12 verdict item #1): for
    * these, the within-copy mirror transform is a bijection that
    * preserves every quantity the key computes — token-set sizes and
    * intersections under the letter rotation, part names (unchanged)
    * under brand-suffix blocking, the near-dup edge structure under key
    * strides — and cross-copy candidates are blocked STRUCTURALLY
    * (disjoint vocab / disjoint brands), so the ×N output must be
    * EXACTLY the 1× output replicated N times with id columns shifted
    * by copy·Stride. Since the 1× frame is pinned to DuckDB by the
    * sf0.1 hash gate, exact-replication equality extends that oracle
    * anchor to ≈sf1 — an engine-vs-oracle-anchored signal for the keys
    * whose direct DuckDB oracle is quadratic at this scale.
    *
    * (key, idCols, mult): idCols are (column, stride) pairs normalized
    * per copy via `pmod(id, stride)` (every fixture id and in-query
    * offset is far below its copy stride, so mod recovers the 1× id
    * exactly — stride is [[ScaleSmoke.Stride]] for id columns and
    * [[ScaleSmoke.LabelStride]] for the signflip mirror's label
    * blocks); all OTHER columns — jaccard/jw/cos rounded doubles,
    * counts, names — must match verbatim. mult is the expected
    * multiplicity of each 1× row in the normalized ×N frame: `factor`
    * for replicated keys, 1 for the fixed-probe fuzzy-match keys whose
    * ×N answer must equal the 1× answer outright (names are
    * copy-invariant and every distance tie breaks toward the lowest
    * key = copy 0).
    */
  def shiftKeys(factor: Long): Seq[(String, Seq[(String, Long)], Long)] = {
    def ids(cs: String*): Seq[(String, Long)] = cs.map(_ -> ScaleSmoke.Stride)
    Seq(
    // LSH ≥0.9 delta-vs-corpus pairs: dup/novel id offsets (+1e5/+2e5)
    // stay far under the stride; jaccard is a ratio of set sizes the
    // rotation preserves exactly.
    ("q_neardup_delta", ids("doc_a", "doc_b"), factor),
    // Components/resolution over the exact-replicating ≥0.9 pair list:
    // labels are group-min doc ids, which shift with their copy.
    ("q_neardup_components", ids("doc_id", "component"), factor),
    ("q_neardup_resolve", ids("canonical"), factor),
    // Triangle census of the τ=0.97 near-dup graph: the edge list
    // replicates exactly (q_neardup_pairs' argument at a higher τ), so
    // per-node triangle counts replicate too.
    ("q_graph_triangles", ids("doc_id"), factor),
    // Same-brand JW self-join: names are copy-invariant, the brand
    // suffix makes blocks copy-disjoint, both keys shift together.
    ("q_jw_threshold_join", ids("a_key", "b_key"), factor),
    // Fixed 5-probe fuzzy top-3: the ×N corpus holds N identical copies
    // of every name; (dist ASC, key ASC) tie-break selects copy 0, and
    // the output carries names not keys — the ×N answer IS the 1×
    // answer. Checked for both the broadcast and the PassJoin-banded
    // twins (same contract, different physical plans).
    ("q_fuzzy_match", Seq(), 1L),
    ("q_fuzzy_match_scaled", Seq(), 1L))
  }

  /** The cosine pair family's per-copy-equality invariants — valid ONLY
    * on a `signflip` embeddings mirror (r14; the additive-shift mirror
    * put cross-copy cosines ≈ 1, which is why these three sat in
    * [[excludedKeys]] through r13). Under per-copy ±1 component signs:
    *
    *  - within-copy dot products, norms, and therefore every rounded
    *    cosine are BIT-identical to copy 0 ((±a)(±b) = ab per component,
    *    summed in the same order), so each copy's output must equal the
    *    oracle-pinned 1× output with ids shifted — the full shiftKeys
    *    contract, not a band;
    *  - cross-copy pairs at τ = 0.99 are absent DETERMINISTICALLY, not
    *    probabilistically: exhaustively computed over all 470k sign
    *    pattern pairs × every base (and every base × its planted copy),
    *    the max cross-copy same-base |cos| is 0.938, and a
    *    sign-independent bound (max over different-base pairs of
    *    Σ|vᵢwᵢ|/‖v‖‖w‖ = 0.866) covers every other combination — all
    *    far below the 0.99 threshold;
    *  - q_similarity_join never compares across copies at all: its
    *    label blocks are copy-disjoint by the signflip transform
    *    (label + copy·LabelStride), so τ = 0.4 needs no cosine bound.
    *
    * LSH recall keeps per-copy equality exact for the neardup keys: all
    * true ≥0.99 pairs are the planted ones (background max 0.60), whose
    * 12-table miss probability is ~1e-22 per copy.
    */
  def cosineKeys(factor: Long): Seq[(String, Seq[(String, Long)], Long)] = Seq(
    ("q_cosine_neardup",
      Seq("vec_a" -> ScaleSmoke.Stride, "vec_b" -> ScaleSmoke.Stride), factor),
    ("q_cosine_resolve", Seq("canonical" -> ScaleSmoke.Stride), factor),
    ("q_similarity_join",
      Seq("vec_a" -> ScaleSmoke.Stride, "vec_b" -> ScaleSmoke.Stride,
        "label" -> ScaleSmoke.LabelStride.toLong), factor))

  /** Disk the key's ×97 run is known to need (shuffle spill + localCkpt),
    * GiB — the budget the free-space probe gates on. The salted LSH twin
    * is the outlier: its deliberately no-broadcast salted sort-merge
    * signature join spilled past the box's ~52 GiB free ceiling three
    * times in r13; with zstd shuffle compression (set in main) and the
    * old dump dirs reclaimed it fits a ~55 GiB budget. Everything else
    * stays under ~10 GiB.
    */
  val needGb: Map[String, Long] = Map("q_neardup_lsh_salted" -> 55L)
    .withDefaultValue(10L)

  /** Pair-listing keys: (key, exact?). Exact ⇒ count must be exactly
    * factor × the 1× count; probabilistic ⇒ [1×, (factor+1)×] band.
    */
  val pairKeys: Seq[(String, Boolean)] = Seq(
    "q_neardup_pairs" -> true,
    "q_ngram_jaccard" -> true,
    // NOT exact, measured and explained (round 11): the graded key's
    // planted truncation slices the first half of the SORTED token set,
    // and rotation permutes sort order — each copy's planted doc is a
    // DIFFERENT half, so borderline planted↔relative pairs vary per
    // copy (sf0.1×10 census: copy 0 = 384 755 exactly = the 1× count —
    // engine exactness proven — copies 3–9 vary ±1%). The banded check
    // still excludes quadratic growth; cross-copy stays a hard zero.
    "q_containment_pairs" -> false,
    "q_sorted_neighborhood" -> false, // window composition shifts as copies interleave in sort order
    "q_neardup_lsh" -> false,
    "q_neardup_lsh_salted" -> false,
    )

  /** SimHash keys get EXACT invariants instead of a count band — both
    * measured unusable at ×97: per-copy hamming-≤3 counts vary up to
    * ~2.5× n1 (rotation redraws the whole 64-bit signature landscape,
    * so CHANCE pairs between non-near docs rise and fall with each
    * alphabet's token-hash profile), and even hamming-0 counts drift
    * (+~6 pairs/copy: 64-bit signature COLLISIONS between unequal
    * texts are themselves rotation-dependent). What IS invariant:
    *  - copy 0 is the identity rotation, so the ×N frame restricted to
    *    copy-0 ids must equal the 1× output EXACTLY (multiset) — the
    *    oracle-anchored signal, since the 1× frame is pinned at sf0.1;
    *  - cross-copy pairs are a hard zero (disjoint vocab ⇒ signatures
    *    ~32 bits apart, far past any usable hamming radius).
    * Totals and hamming-0 counts are reported as telemetry, ungated.
    */
  val simhashKeys: Seq[String] = Seq("q_simhash_neardup", "q_simhash_delta")

  /** Structurally EXCLUDED from mirror invariants, with the reason the
    * mirror construction itself breaks the invariant (not an engine
    * gap — each key's strongest at-scale signal is listed):
    *  - q_cosine_neardup / q_cosine_resolve / q_similarity_join: the
    *    embeddings mirror shifts every copy's vectors by (c%97)·1e-3
    *    element-wise, so copy c of a base vector has cosine ≈ 1 with
    *    copy 0 — CROSS-COPY pairs exist by construction and zero-cross
    *    is false. Signal: planted-pair oracles at sf0.01/0.1 + the ×10
    *    mirror oracle (r12) + ScaleSmoke ratios.
    *  - q_record_linkage / q_fuzzy_linkage / q_decontaminate_fuzzy: the
    *    corruption/plant masks key on id arithmetic (`% 4`, `% 11`, …)
    *    and the copy stride 10⁸ is not a multiple of every modulus, so
    *    each copy corrupts a DIFFERENT row subset — per-copy outputs
    *    are intentionally non-identical. Signal: ×10-mirror DuckDB
    *    oracle (r12) + ScaleSmoke ×N ratio under the graded name.
    */
  val excludedKeys: Map[String, String] = Map(
    // The cosine exclusions apply to SHIFT-mode mirrors only — a
    // signflip mirror (r14) lifts them into full per-copy-equality
    // checks (cosineKeys above).
    "q_cosine_neardup" -> "shift-mode mirror puts cross-copy cosines ≈ 1 (run a signflip mirror)",
    "q_cosine_resolve" -> "shift-mode mirror puts cross-copy cosines ≈ 1 (run a signflip mirror)",
    "q_similarity_join" -> "shift-mode mirror puts cross-copy cosines ≈ 1 (run a signflip mirror)",
    "q_record_linkage" -> "corruption mask stride-dependent per copy",
    "q_fuzzy_linkage" -> "corruption mask stride-dependent per copy",
    "q_decontaminate_fuzzy" -> "plant mask stride-dependent per copy")

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("MIRROR_SRC", "/root/testdata/sf0.1")
    val dir = sys.env.getOrElse("MIRROR_DIR", "target/mirror_x10")
    val factor = sys.env.getOrElse("MIRROR_FACTOR", "10").toLong
    // zstd over the default lz4: the banded-signature shuffles here are
    // highly repetitive, and the salted key's ×97 spill is what blew
    // the disk budget in r13 — measured smaller under zstd at equal
    // results (compression is value-neutral).
    val spark = graft.Sessions.local(32, confs = Seq("spark.io.compression.codec" -> "zstd"))
    var fail = false
    // MIRROR_KEYS=q_a,q_b restricts to a subset (local iteration / rerun
    // of one family); default runs every invariant.
    val only = sys.env.get("MIRROR_KEYS").map(_.split(",").map(_.trim).toSet)
    def wanted(k: String) = only.forall(_.contains(k))

    // Disk-budget probe (r13 verdict item #8): a spiller that would die
    // on ENOSPC mid-run — poisoning the whole gate — is SKIPPED up front
    // with an explicit blocked row when the filesystem can't cover its
    // documented budget ([[needGb]]). Enabled via MIRROR_MIN_FREE=1;
    // blocked ≠ failed (the row names the exact shortfall).
    val diskGuard = sys.env.get("MIRROR_MIN_FREE").contains("1")
    def freeGb: Long = new java.io.File(".").getUsableSpace >> 30
    def diskOk(key: String): Boolean = {
      val ok = !diskGuard || freeGb >= needGb(key)
      if (!ok)
        println(s"""{"key":"$key","blocked":"disk budget: need ${needGb(key)} GiB free, """ +
          s"""have $freeGb GiB — reclaim target/ dumps and rerun"}""")
      ok
    }

    def copyOf(c: String) = floor(col(c) / lit(ScaleSmoke.Stride))
    pairKeys.filter(p => wanted(p._1) && diskOk(p._1)).foreach { case (key, exact) =>
      val fn = SparkEntry.queries(key)
      val n1 = fn(spark, src).count()
      val m = fn(spark, dir)
      val (nN, cross) = {
        val agg = m.agg(count(lit(1)),
          count(when(copyOf("doc_a") =!= copyOf("doc_b"), 1))).head()
        (agg.getLong(0), agg.getLong(1))
      }
      val countOk = if (exact) nN == factor * n1
        else nN >= n1 && nN <= (factor + 1) * n1
      val ok = cross == 0 && countOk
      if (!ok) fail = true
      println(s"""{"key":"$key","exact":$exact,"n1":$n1,"nN":$nN,""" +
        s""""expected":${if (exact) (factor * n1).toString else s""""[${n1}, ${(factor + 1) * n1}]""""},""" +
        s""""cross_copy_pairs":$cross,"ok":$ok}""")
    }

    simhashKeys.filter(wanted).foreach { key =>
      val fn = SparkEntry.queries(key)
      val r1 = fn(spark, src).localCheckpoint()
      val rN = fn(spark, dir).localCheckpoint()
      val cross = rN.where(copyOf("doc_a") =!= copyOf("doc_b")).count()
      val copy0 = rN.where(copyOf("doc_a") === 0 && copyOf("doc_b") === 0)
      val cols = r1.columns.toSeq
      val mism = r1.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__c1"))
        .join(copy0.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__cN")),
          cols, "full_outer")
        .where(coalesce(col("__cN"), lit(0L)) =!= coalesce(col("__c1"), lit(0L)))
        .count()
      val h0_1 = r1.where(col("hamming") === 0).count()
      val h0_N = rN.where(col("hamming") === 0).count()
      val (n1, nN) = (r1.count(), rN.count())
      val ok = cross == 0 && mism == 0
      if (!ok) fail = true
      println(s"""{"key":"$key","check":"copy0_equality","n1":$n1,"nN":$nN,""" +
        s""""cross_copy_pairs":$cross,"copy0_mismatched_groups":$mism,""" +
        s""""hamming0_telemetry":[$h0_1,$h0_N],"ok":$ok}""")
    }

    // q_substring_dedup: per-doc frame; rotation preserves token/span
    // structure exactly, so rows AND total span/removal mass are ×N.
    if (wanted("q_substring_dedup")) {
      val fn = SparkEntry.queries("q_substring_dedup")
      def stats(d: String) = {
        val r = fn(spark, d).agg(count(lit(1)),
          sum(col("n_spans")), sum(col("n_removed"))).head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      val (r1, s1, x1) = stats(src)
      val (rN, sN, xN) = stats(dir)
      val ok = rN == factor * r1 && sN == factor * s1 && xN == factor * x1
      if (!ok) fail = true
      println(s"""{"key":"q_substring_dedup","exact":true,"rows":[$r1,$rN],""" +
        s""""span_mass":[$s1,$sN],"removed_mass":[$x1,$xN],"ok":$ok}""")
    }

    // Exact per-copy replication equality (see shiftKeys scaladoc).
    // The cosine family joins the list only on a signflip embeddings
    // mirror (manifest vectorMode) — see cosineKeys scaladoc.
    val manifest = try
      java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "_GRAFT_MIRROR.json"))
    catch { case _: Throwable => "" }
    val signflip = manifest.contains("\"vectorMode\":\"signflip\"")
    val equalityKeys = shiftKeys(factor) ++ (if (signflip) cosineKeys(factor) else Nil)
    equalityKeys.filter(k => wanted(k._1)).foreach { case (key, idCols, mult) =>
      val fn = SparkEntry.queries(key)
      val r1 = fn(spark, src).localCheckpoint()
      val rN = fn(spark, dir).localCheckpoint()
      val cols = r1.columns.toSeq
      // Cross-copy guard: every id column of one row must sit in the
      // same copy stride (one straddling row = a similarity computed
      // across rotated copies, the impossible-by-construction case).
      val cross =
        if (idCols.size < 2) 0L
        else rN.where(idCols.tail
            .map { case (c, s) => floor(col(c) / lit(s)) =!= floor(col(idCols.head._1) / lit(idCols.head._2)) }
            .reduce(_ || _)).count()
      val norm = idCols.foldLeft(rN)((d, cs) => d.withColumn(cs._1, pmod(col(cs._1), lit(cs._2))))
      val c1 = r1.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__c1"))
      val cN = norm.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__cN"))
      val mism = c1.join(cN, cols, "full_outer")
        .where(coalesce(col("__cN"), lit(0L)) =!= coalesce(col("__c1"), lit(0L)) * lit(mult))
        .count()
      val (n1, nN) = (r1.count(), rN.count())
      val ok = cross == 0 && mism == 0 && nN == mult * n1
      if (!ok) fail = true
      println(s"""{"key":"$key","check":"per_copy_equality","n1":$n1,"nN":$nN,""" +
        s""""mult":$mult,"cross_copy_rows":$cross,"mismatched_groups":$mism,"ok":$ok}""")
    }

    // q_doc_fingerprint: per-doc frame (doc_id, fingerprint). Values are
    // rotation-specific (the winnowing hash sees rotated bytes, and which
    // DIFFERENT texts share a min-window hash legitimately varies per
    // rotation — measured at ×3: 448 distinct at 1× vs 422 in one copy),
    // so distinct-count bands are NOT an invariant. What IS: rows exactly
    // ×N per copy, and within every copy EQUAL TEXT ⇒ EQUAL FINGERPRINT
    // (the rotation preserves text equality; the fingerprint is a pure
    // function of the bytes, whichever task computed it).
    if (wanted("q_doc_fingerprint")) {
      val fn = SparkEntry.queries("q_doc_fingerprint")
      val n1 = fn(spark, src).count()
      val m = fn(spark, dir)
      val docs = graft.engine.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
      val joined = m.join(docs, "doc_id").withColumn("copy", copyOf("doc_id"))
      val badCopies = joined.groupBy(col("copy"))
        .agg(count(lit(1)).as("n")).where(col("n") =!= n1).count()
      val splitGroups = joined.groupBy(col("copy"), col("text"))
        .agg(countDistinct(col("fingerprint")).as("nf"))
        .where(col("nf") > 1).count()
      val nN = m.count()
      val ok = nN == factor * n1 && badCopies == 0 && splitGroups == 0
      if (!ok) fail = true
      println(s"""{"key":"q_doc_fingerprint","check":"per_copy_census","n1":$n1,"nN":$nN,""" +
        s""""bad_copies":$badCopies,"equal_text_split_groups":$splitGroups,"ok":$ok}""")
    }

    // q_minhash_recall: single-row frame (n_exact, n_missed, recall_ok).
    // The exact block-brute pair count replicates ×N (rotation preserves
    // exact Jaccard; cross-copy pairs share block cols but no tokens),
    // and band recall must stay exact at mirror scale.
    if (wanted("q_minhash_recall")) {
      val fn = SparkEntry.queries("q_minhash_recall")
      def row(dd: String) = { val r = fn(spark, dd).head(); (r.getLong(0), r.getLong(1)) }
      val (e1, m1) = row(src)
      val (eN, mN) = row(dir)
      val ok = eN == factor * e1 && m1 == 0 && mN == 0
      if (!ok) fail = true
      println(s"""{"key":"q_minhash_recall","check":"exact_xN_recall",""" +
        s""""n_exact":[$e1,$eN],"n_missed":[$m1,$mN],"ok":$ok}""")
    }

    // ---- Fifth-decade cosine LSH at scale-appropriate signature width.
    // The graded q_cosine_neardup pins bits = 8 (256 buckets/table):
    // past ~1M vectors the buckets saturate — Σ n_b² ≥ n²/256 ≈ 2·10¹¹
    // candidate enumerations at ×970 — a fundamental property of fixed-
    // width sign-LSH, not an engine defect; production scales bits with
    // log₂(n). This block runs the SAME operator at bits = 16 (65k
    // buckets/table: ~8·10⁸ candidates at ×970, and the planted pairs'
    // per-table collision rate p¹⁶ ≈ 0.97 keeps the 12-table miss at
    // ~6e-19) and applies the identical per-copy-equality contract: the
    // confirmed ≥0.99 pair set is the same set bits = 8 finds — all true
    // pairs are planted, background max 0.60 — so each copy must equal
    // the DuckDB-pinned 1× output re-keyed, and components/resolution
    // over those pairs must replicate the same way.
    if (signflip && wanted("q_cosine_neardup_b16")) {
      def planted(dd: String) = {
        val base = graft.engine.Tables.embeddings(spark, dd)
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("embedding"))
        base.unionByName(base.where(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            transform(col("embedding"),
              (x, i) => when(i === 0, x * lit(1.1)).otherwise(x)).as("embedding")))
      }
      def pairs(dd: String) = graft.engine.CosineLsh.nearDup(
        planted(dd), dim = 64, threshold = 0.99, nTables = 12, bits = 16,
        shapeIn = graft.engine.Dedup.Broadcast)
      def resolve(dd: String) = {
        val p = pairs(dd).select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
        graft.engine.Dedup.resolveToCanonical(
          planted(dd).select(col("vec_id").as("doc_id")),
          graft.engine.Dedup.nearDupComponents(p))
      }
      Seq(("q_cosine_neardup_b16", pairs _, Seq("vec_a", "vec_b")),
          ("q_cosine_resolve_b16", resolve _, Seq("canonical"))).foreach {
        case (key, fn, idCols) =>
          val r1 = fn(src).localCheckpoint()
          val rN = fn(dir).localCheckpoint()
          val cols = r1.columns.toSeq
          val cross = if (idCols.size < 2) 0L
            else rN.where(copyOf(idCols.tail.head) =!= copyOf(idCols.head)).count()
          val norm = idCols.foldLeft(rN)((d, c) =>
            d.withColumn(c, pmod(col(c), lit(ScaleSmoke.Stride))))
          val mism = r1.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__c1"))
            .join(norm.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__cN")),
              cols, "full_outer")
            .where(coalesce(col("__cN"), lit(0L)) =!= coalesce(col("__c1"), lit(0L)) * lit(factor))
            .count()
          val (n1, nN) = (r1.count(), rN.count())
          val ok = cross == 0 && mism == 0 && nN == factor * n1
          if (!ok) fail = true
          println(s"""{"key":"$key","check":"per_copy_equality","bits":16,"n1":$n1,""" +
            s""""nN":$nN,"mult":$factor,"cross_copy_rows":$cross,""" +
            s""""mismatched_groups":$mism,"ok":$ok}""")
      }
    }

    // ---- Scaled-SemDeDup at ×97, engine-side (r14): the k ∝ n faces'
    // DuckDB oracle materializes corpus × cells distance frames that
    // exhaust the box's temp disk at this scale (three attempts,
    // documented in SURVEY §22.1), so their at-scale contract is checked
    // from the ENGINE output instead — on the geometry-preserving SHIFT
    // mirror, where each copy's vectors stay near copy 0 and the trained
    // cells stay balanced:
    //  (a) totality: exactly one output row per corpus vector, every
    //      cell id inside [0, k) with k RE-DERIVED from the same k ∝ n
    //      budget formula the query uses (SemDedup.scaledK; the
    //      two-level face's bound is k1·k2 ≥ k) — not read back from
    //      the output, which made the upper bound vacuous (r14 ADVICE);
    //  (b) plants: a planted near-copy (vec_id ≥ 10¹², cos ≈ 1 to its
    //      original) that lands in the SAME cell as its original must be
    //      PRUNED — the original is a smaller-id ≥τ partner by
    //      construction, so survival means the dominator search missed
    //      it. A plant can legitimately cross a Voronoi boundary (the
    //      1.02x+0.001 move; the sf0.01 oracle mirrors the same
    //      assignment), so cross-cell plants are telemetry, not
    //      failures;
    //  (c) rep validity: every pruned row's representative is a real
    //      same-cell member with smaller id whose exact recomputed
    //      cosine is ≥ τ = 0.8 — every prune decision re-confirmed
    //      independently of the banding that produced it.
    // NOT checked here (stated): completeness of pruning for unplanted
    // pairs — that is what the sf0.01 DuckDB hash gate pins.
    if (wanted("q_semdedup_scaled_check")) {
      import graft.functions.GraftExpressions.dotProduct
      val base = graft.engine.Tables.embeddings(spark, dir)
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val corpus = base.unionByName(
          base.where(col("vec_id") % 25 === 0)
            .select((col("vec_id") + 1000000000000L).as("vec_id"),
              transform(col("v"), x => x * lit(1.02) + lit(0.001)).as("v")))
        .withColumn("n2", dotProduct(col("v"), col("v")))
        .localCheckpoint()
      val nCorpus = corpus.count()
      val kBudget = graft.engine.SemDedup.scaledK(nCorpus)
      Seq("q_semdedup_scaled", "q_semdedup_scaled2").foreach { key =>
        val out = SparkEntry.queries(key)(spark, dir).localCheckpoint()
        val rows = out.count()
        // Bound from the query's own k ∝ n formula, not from max(cell)
        // of the output (which is vacuous as an upper bound): flat face
        // assigns into [0, k); the two-level face into [0, k1·k2) with
        // k1 = ⌈√k⌉, k2 = ⌈k/k1⌉ (cell = ccell·k2 + sub).
        val kBound: Long = key match {
          case "q_semdedup_scaled" => kBudget.toLong
          case _ =>
            val k1 = math.max(1, math.ceil(math.sqrt(kBudget.toDouble)).toInt)
            val k2 = math.max(1, math.ceil(kBudget.toDouble / k1).toInt)
            k1.toLong * k2
        }
        val kCells = out.agg(max(col("cell"))).head().getLong(0) + 1
        val cellBad = out.where(col("cell") < 0 || col("cell") >= kBound).count()
        val plantCells = out.where(col("vec_id") >= 1000000000000L)
          .select((col("vec_id") - 1000000000000L).as("__orig"),
            col("cell"), col("pruned"))
          .join(out.select(col("vec_id").as("__orig"), col("cell").as("__ocell")), "__orig")
          .localCheckpoint()
        val plantBad = plantCells
          .where(col("cell") === col("__ocell") && !col("pruned")).count()
        val crossCellPlants = plantCells.where(col("cell") =!= col("__ocell")).count()
        val pruned = out.where(col("rep").isNotNull)
          .select(col("vec_id"), col("cell"), col("rep"))
        val orderBad = pruned.where(col("rep") >= col("vec_id")).count()
        val cellMismatch = pruned
          .join(out.select(col("vec_id").as("rep"), col("cell").as("__rcell")), "rep")
          .where(col("__rcell") =!= col("cell")).count()
        val cosBad = pruned
          .join(corpus.select(col("vec_id"), col("v").as("__va"), col("n2").as("__na")), "vec_id")
          .join(corpus.select(col("vec_id").as("rep"), col("v").as("__vb"), col("n2").as("__nb")), "rep")
          .withColumn("__cos", round(dotProduct(col("__va"), col("__vb")) /
            (sqrt(col("__na")) * sqrt(col("__nb"))), 6))
          .where(col("__cos") < 0.8).count()
        val nPruned = pruned.count()
        val ok = rows == nCorpus && cellBad == 0 && plantBad == 0 &&
          orderBad == 0 && cellMismatch == 0 && cosBad == 0
        if (!ok) fail = true
        println(s"""{"key":"$key","check":"engine_contract","rows":[$nCorpus,$rows],""" +
          s""""cells":$kCells,"k_bound":$kBound,"bad_cell_rows":$cellBad,"unpruned_colocated_plants":$plantBad,""" +
          s""""cross_cell_plants_telemetry":$crossCellPlants,""" +
          s""""pruned":$nPruned,"rep_order_violations":$orderBad,""" +
          s""""rep_cell_mismatches":$cellMismatch,"rep_cos_below_tau":$cosBad,"ok":$ok}""")
      }
    }

    // ---- Closed-form fifth-decade checks for the three keys whose
    // DuckDB oracle exceeds the ~100 GB box at ×970 (r13 verdict item
    // #2: the engine dumps completed there; these replace the OOMing
    // oracle with exact closed-form invariants of the 1x output).

    // q_graph_pagerank: the node set is the event-TYPE alphabet (copy-
    // invariant) and every transition count scales uniformly ×N per
    // copy, so each row of the row-stochastic P is (N·n)/(N·w) — IEEE
    // division of the same real value ⇒ bit-identical to the 1× P — and
    // the ×N ranks must EQUAL the DuckDB-pinned 1× ranks outright.
    // Plus conservation: total rank mass stays 1 (±8dp rounding ·|V|).
    if (wanted("q_graph_pagerank")) {
      val fn = SparkEntry.queries("q_graph_pagerank")
      val r1 = fn(spark, src).localCheckpoint()
      val rN = fn(spark, dir).localCheckpoint()
      val cols = r1.columns.toSeq
      val mism = r1.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__c1"))
        .join(rN.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__cN")),
          cols, "full_outer")
        .where(coalesce(col("__cN"), lit(0L)) =!= coalesce(col("__c1"), lit(0L)))
        .count()
      val nodes = rN.count()
      val mass = rN.agg(sum(col("pr"))).head().getDouble(0)
      val massOk = math.abs(mass - 1.0) <= nodes * 5e-9 + 1e-12
      val ok = mism == 0 && massOk
      if (!ok) fail = true
      println(s"""{"key":"q_graph_pagerank","check":"scale_invariance_equality","nodes":$nodes,""" +
        s""""mismatched_groups":$mism,"rank_mass":$mass,"mass_ok":$massOk,"ok":$ok}""")
    }

    // q_inverted_index: block boundaries (BlockSize 1024 ∤ the 10⁸ copy
    // stride) cut each copy's doc space at different offsets, so row-
    // level per-copy equality does NOT hold — the invariants live at the
    // POSTING level, where the letter rotation is a 1:1 token map:
    //  (a) structure: every rendered posting sits inside its block row,
    //      n_docs equals the rendered list length, and the delta-gap
    //      encoding reconstructs the absolute ids exactly;
    //  (b) per-doc census: for every copy and every document, the
    //      (Σtf, #distinct tokens) pair equals the 1× document's — a
    //      lost, duplicated, or misplaced posting shifts some doc's
    //      census;
    //  (c) totals: posting mass and doc-slot count are exactly ×N.
    def postingChecks(key: String, rendered: DataFrame): Unit = {
      val idx = rendered.localCheckpoint()
      // Row-level structural checks stay UNEXPLODED (the first draft of
      // this check carried the per-row gaps string through a 145M-row
      // explode + checkpoint and ate ~25 GB of disk at ×970): every
      // rendered posting must sit inside its block row, the count must
      // match the list length, and the delta-gap running sum must
      // reconstruct the absolute id string exactly.
      val bs = graft.engine.Index.BlockSize
      val badRows = idx.where(
        size(split(col("postings"), ",")).cast("long") =!= col("n_docs") ||
        !expr(s"""forall(transform(split(postings, ','),
                    p -> CAST(floor(CAST(split(p, ':')[0] AS BIGINT) / $bs) AS BIGINT)),
                  b -> b = block)""") ||
        expr("""array_join(transform(
              aggregate(split(gaps, ','),
                        CAST(array() AS ARRAY<BIGINT>),
                        (acc, x) -> array_append(acc,
                          coalesce(try_element_at(acc, -1), CAST(0 AS BIGINT)) + CAST(x AS BIGINT))),
              d -> CAST(d AS STRING)), ',')""") =!=
          expr("array_join(transform(split(postings, ','), p -> split(p, ':')[0]), ',')"))
        .count()
      // per-(copy, doc) census vs the 1× index's per-doc census —
      // explode ONLY the (doc, tf) pairs, nothing row-sized rides along
      val perDocN = idx
        .select(explode(split(col("postings"), ",")).as("__p"))
        .select(split(col("__p"), ":").getItem(0).cast("long").as("doc"),
          split(col("__p"), ":").getItem(1).cast("long").as("tf"))
        .groupBy(floor(col("doc") / lit(ScaleSmoke.Stride)).as("__copy"),
          pmod(col("doc"), lit(ScaleSmoke.Stride)).as("__orig"))
        .agg(sum(col("tf")).as("__mass"), count(lit(1)).as("__ntoks"))
        .localCheckpoint()
      val fn1 = SparkEntry.queries("q_inverted_index")
      val perDoc1 = fn1(spark, src)
        .select(explode(split(col("postings"), ",")).as("__p"))
        .select(split(col("__p"), ":").getItem(0).cast("long").as("__orig"),
          split(col("__p"), ":").getItem(1).cast("long").as("tf"))
        .groupBy(col("__orig"))
        .agg(sum(col("tf")).as("__m1"), count(lit(1)).as("__n1"))
        .localCheckpoint()
      val censusMism = perDocN.join(perDoc1, Seq("__orig"), "full_outer")
        .where(col("__copy").isNull || col("__m1").isNull ||
          col("__mass") =!= col("__m1") || col("__ntoks") =!= col("__n1"))
        .count()
      val slotsN = perDocN.count()
      val slots1 = perDoc1.count()
      val ok = badRows == 0 && censusMism == 0 && slotsN == factor * slots1
      if (!ok) fail = true
      println(s"""{"key":"$key","check":"posting_census","bad_structure_rows":$badRows,""" +
        s""""census_mismatches":$censusMism,""" +
        s""""doc_slots":[$slots1,$slotsN],"ok":$ok}""")
    }
    if (wanted("q_inverted_index"))
      postingChecks("q_inverted_index",
        SparkEntry.queries("q_inverted_index")(spark, dir))

    // q_index_delta: incremental ≡ batch is the key's whole contract —
    // at ×N it must be multiset-IDENTICAL to q_inverted_index over the
    // same mirror (whose own posting census is checked above).
    if (wanted("q_index_delta")) {
      val batch = SparkEntry.queries("q_inverted_index")(spark, dir).localCheckpoint()
      val delta = SparkEntry.queries("q_index_delta")(spark, dir).localCheckpoint()
      val cols = batch.columns.toSeq
      val mism = batch.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__c1"))
        .join(delta.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__cN")),
          cols, "full_outer")
        .where(coalesce(col("__cN"), lit(0L)) =!= coalesce(col("__c1"), lit(0L)))
        .count()
      val (nB, nD) = (batch.count(), delta.count())
      val ok = mism == 0 && nB == nD
      if (!ok) fail = true
      println(s"""{"key":"q_index_delta","check":"incremental_equals_batch",""" +
        s""""rows":[$nB,$nD],"mismatched_groups":$mism,"ok":$ok}""")
    }

    excludedKeys.toSeq.sortBy(_._1)
      // A signflip mirror lifts the cosine family's exclusion — those
      // keys run the full per-copy-equality check above instead.
      .filterNot { case (k, _) => signflip && cosineKeys(factor).exists(_._1 == k) }
      .foreach { case (k, why) =>
        println(s"""{"key":"$k","excluded":"$why"}""")
      }
    println(s"""{"mirror_invariants":{"src":${graft.Verify.jsonString(src)},"dir":${graft.Verify.jsonString(dir)},"factor":$factor,"pass":${!fail}}}""")
    spark.stop()
    if (fail) System.exit(1)
  }
}
