package graft.tools

import graft.SparkEntry
import graft.engine.Tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-proof harness: converts the repo's "would survive 100×" plan pins
  * into a MEASUREMENT. Synthesizes an N× corpus from the driver fixtures
  * (union of N re-keyed copies that preserves dup/skew structure), runs the
  * heaviest graded keys at 1× and N×, and asserts
  *
  *   (a) runtime grows at most ~linearly (ratio ≤ factor × slack — slack
  *       covers the O(n log n) sort terms and single-box timer noise), and
  *   (b) the physical plan does NOT flip shape at N× — the join-strategy
  *       histogram (Cartesian / BNLJ / SMJ / BHJ / SHJ / Exchange) must be
  *       identical at both scales, so no corpus-sized broadcast or nested
  *       loop can sneak in once data outgrows the fixtures.
  *
  * == Why the synthesizer is shaped this way ==
  *
  * A naive `union` of N identical copies multiplies every duplicate group
  * by N, so PAIR-listing keys (LSH, PPJoin) would grow ×N² — a quadratic
  * blowup the real corpus does not have (growing a crawl 10× does not make
  * each page 10× more duplicated). Instead each copy is RE-KEYED and, for
  * `documents`, re-ALPHABETED:
  *
  *  - every id/join-key column gets `+ copy × STRIDE`, keeping joins
  *    consistent within a copy and ids globally unique across copies;
  *  - `documents.text` goes through a per-copy letter rotation
  *    (`translate`, identity for copy 0) — a 1:1 character map, so length,
  *    whitespace, punctuation, and the WITHIN-copy dup structure are
  *    preserved exactly, while cross-copy docs share essentially no token,
  *    shingle, or n-gram span. Dup groups, LSH buckets, containment pairs,
  *    and repeated substrings therefore replicate ×N (linear), never ×N².
  *  - `embeddings.embedding` gets a small per-copy additive shift so
  *    vectors are distinct but the cluster geometry IVF/PQ trains on is
  *    preserved;
  *  - `events` re-keys (event_id, user_id): per-user history — and with it
  *    the hot-key SKEW PROFILE — replicates per copy, total users grow ×N
  *    (how a real corpus grows);
  *  - dimension tables (nation, region) are copied as-is.
  *
  * Fixed-recall caveat: MinHash banding is probabilistic in the TOKEN
  * HASHES, and rotated tokens draw fresh hashes — a borderline ~0.9-Jaccard
  * pair can be recalled in one copy and missed in another. Confirmed-pair
  * counts for LSH keys therefore scale ~×N, not exactly ×N; the EXACT
  * algorithms (PPJoin containment, exact dedup, substring spans) scale
  * exactly ×N and are asserted as such in ScaleSmokeSpec.
  *
  * Run:  sbt "runMain graft.tools.ScaleSmoke" — env knobs
  *   SCALE_SMOKE_SRC (default /root/testdata/sf0.01), SCALE_SMOKE_FACTOR
  *   (default 10), SCALE_SMOKE_OUT (default target/scalesmoke). Prints one
  *   JSON line per key plus a trailing summary line; exits 1 on violation.
  *   Heap is the launching JVM's -Xmx: in local mode `spark.driver.memory`
  *   only takes effect before the driver JVM starts, so the session sets none.
  */
object ScaleSmoke {

  /** Copy-stride added to every key column: far above any fixture id, far
    * below Long overflow at any permitted factor (the binding limit is
    * the embeddings shift modulus — see `synthesize`).
    */
  val Stride = 100000000L

  /** Id / join-key columns offset per copy, per table. Offsetting BOTH
    * sides of each FK pair (o_orderkey ↔ l_orderkey, o_custkey ↔
    * c_custkey, …) replicates the join graph within each copy.
    */
  val keyCols: Map[String, Seq[String]] = Map(
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "events" -> Seq("event_id", "user_id"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "nation" -> Seq(),
    "region" -> Seq()
  )

  private val lower = "abcdefghijklmnopqrstuvwxyz"
  private val upper = lower.toUpperCase

  /** Fixture embedding dimensionality (embeddings.embedding is a fixed
    * 64-float list in every driver-generated sf). The sign-flip transform
    * builds its per-copy pattern at this length; a different-dim corpus
    * would surface as nulls from element_at past the literal (fail-fast
    * in the invariant gates, which compare against copy 0).
    */
  val EmbeddingDim = 64

  /** Per-copy label-block offset under the sign-flip vector mode: labels
    * become copy-disjoint (`label + copy·LabelStride`), so label-blocked
    * pair keys (q_similarity_join, q_ann_ivf's cell probe) never compare
    * across copies — pair space replicates ×N (linear), exactly the
    * documents-rotation argument applied to the vector side. Fixture
    * labels are 0..9 ≪ 100; max mirrored label 999·100+9 ≪ 2³¹.
    */
  val LabelStride = 100

  /** Per-copy ±1 sign pattern for the `signflip` vector mode (c = 0 is
    * the identity — all +1 — so every committed copy-0 anchor still
    * holds bit-for-bit). Seeded and deterministic like [[letterMap]];
    * distinctness across the copies in play is ASSERTED in `synthesize`,
    * not trusted to the seed.
    *
    * Why sign flips and not the additive shift: multiplying a float by
    * ±1.0f is EXACT, and a dot product of two same-copy vectors computes
    * the identical term sequence ((s·a)(s·b) = s²ab = ab per component,
    * summed in the same order) — so every within-copy similarity,
    * norm, and quantization value is bit-identical to copy 0, which is
    * what per-copy-equality invariants need. Cross-copy, two independent
    * random patterns agree on ~half the components, so cosines
    * concentrate near 0 (±~1/√dim): near-dup thresholds (τ ≥ 0.99)
    * would need patterns differing in ≲1 of 64 positions —
    * P ≈ 65·2⁻⁶⁴ per pair — so cross-copy near-dups are absent, where
    * the additive (c%97)·10⁻³ shift made every copy pair of the same
    * base vector a near-duplicate (the reason the three cosine pair
    * keys were EXCLUDED from ×97 invariants in r13, and the shift
    * modulus capped embeddings mirrors at ×97).
    */
  private[graft] def signPattern(c: Int): Array[Float] =
    if (c == 0) Array.fill(EmbeddingDim)(1.0f)
    else {
      val r = new scala.util.Random(0xC2B2AE3D27D4EB4FL ^ c.toLong)
      Array.fill(EmbeddingDim)(if (r.nextBoolean()) 1.0f else -1.0f)
    }

  /** Letter map for copy `c`: the original rotation for c ≤ 25 (keeps
    * every measured gate byte-identical), a DETERMINISTIC seeded
    * permutation of the alphabet past that — any 1:1 letter map
    * preserves within-copy structure exactly, and two distinct maps
    * keep cross-copy vocabularies token-disjoint (a multi-char token
    * collides only if the two permutations agree on every character),
    * so the disjoint-copy invariants survive factors the 26-rotation
    * alphabet could not reach (the ×100 ≈ sf10 decade, round-12 item
    * #7). Distinctness of all maps in play is asserted in `synthesize`,
    * not assumed.
    */
  private[graft] def letterMap(c: Int): String =
    if (c <= 25) { val r = c % 25 + 1; lower.drop(r) + lower.take(r) }
    else new scala.util.Random(0x9E3779B97F4A7C15L ^ c.toLong)
      .shuffle(lower.toList).mkString

  /** One copy of `name` transformed for copy index `c` (c = 0 is the
    * identity). Pure column expressions — the whole synthesis is a single
    * codegen'd scan→project per copy, no UDF, no collect.
    *
    * `vectorMode` selects the embeddings transform: `"shift"` (default,
    * the historical (c%97)·10⁻³ additive shift every committed ≤×97
    * artifact was measured on) or `"signflip"` (per-copy seeded ±1
    * component signs + copy-disjoint labels — exact within-copy
    * arithmetic, near-orthogonal cross-copy, factor cap 1000; see
    * [[signPattern]]).
    */
  def scaleCopy(df: DataFrame, name: String, c: Int,
      vectorMode: String = "shift"): DataFrame = {
    val keyed = keyCols.getOrElse(name, Seq()).foldLeft(df) { (d, k) =>
      d.withColumn(k, col(k) + lit(c * Stride))
    }
    name match {
      case "documents" if c > 0 =>
        // Per-copy letter map (rotation ≤ 25, seeded permutation past —
        // see letterMap): 1:1 ⇒ n_chars, whitespace and within-copy dup
        // structure preserved; cross-copy vocab disjoint.
        val mapL = letterMap(c)
        keyed.withColumn("text",
          translate(col("text"), lower + upper, mapL + mapL.toUpperCase))
      case "embeddings" if vectorMode == "signflip" =>
        // ±1 component signs (exact; identity at c = 0) + copy-disjoint
        // label blocks. Multiplying by the ±1.0f literal array keeps
        // every float bit-exact up to sign, so within-copy dot products
        // and norms equal copy 0's bit-for-bit, while cross-copy cosines
        // concentrate near 0 — the invariant-compatible vector mirror.
        val signs = signPattern(c)
        keyed
          .withColumn("embedding", transform(col("embedding"),
            (x, i) => x * element_at(lit(signs), i + 1)))
          .withColumn("label", col("label") + lit(c * LabelStride))
      case "embeddings" if c > 0 =>
        // Small per-copy shift: distinct vectors, same cluster geometry.
        keyed.withColumn("embedding",
          transform(col("embedding"), x => x + lit((c % 97) * 1e-3f)))
      case "part" if c > 0 =>
        // Per-copy brand suffix: a real catalog grows by ADDING brands,
        // not by multiplying each brand's shelf ×N — without this the
        // brand-blocked keys (q_fuzzy_linkage) see blocks grow ×N and
        // candidate pairs ×N², a quadratic the real corpus lacks (the
        // documents-rotation argument on the blocking key).
        keyed.withColumn("p_brand", concat(col("p_brand"), lit(s"#$c")))
      case _ => keyed
    }
  }

  /** Write an N× mirror of `srcDir` under `outDir` (same file names, so
    * every `SparkEntry.queries` entry runs against it unchanged). Reads
    * RAW parquet (no events-ts conversion) so the written files carry the
    * source schema byte-for-byte semantics.
    */
  def synthesize(spark: SparkSession, srcDir: String, outDir: String, factor: Int): Unit =
    synthesize(spark, srcDir, outDir, factor, keyCols.keys.toSet)

  /** As above, restricted to `tables` — the fifth-decade money-aggregate
    * gate needs ≈ sf97 of the relational tables only, where the full
    * table set would be ~15 GB; only the tables its keys read need
    * materializing.
    *
    * `singleDims = true` writes dimension tables (those with no key
    * columns: nation, region) ONCE instead of ×N. Real corpora grow
    * FACTS, not `nation` — replicated dims fan every customer⋈nation
    * match out ×N (the measured artifact: ×97² ≈ 9409 row products at
    * the fourth decade, an un-TPC-H-shaped quadratic that ANSI-overflowed
    * the single-phase LONG cents sum on q_cbo_join_reorder before the
    * widePartials merge landed). Default false: every committed ≤×97
    * artifact was measured on replicated dims and stays reproducible.
    */
  def synthesize(spark: SparkSession, srcDir: String, outDir: String, factor: Int,
                 tables: Set[String], singleDims: Boolean = false,
                 vectorMode: String = "shift"): Unit = {
    require(vectorMode == "shift" || vectorMode == "signflip",
      s"unknown vectorMode '$vectorMode' (shift | signflip)")
    // The factor cap is TABLE-AWARE — each constraint binds only when the
    // table it protects is being mirrored:
    //  - embeddings: the per-copy shift is (c % 97)·1e-3, so copy 97
    //    would carry vectors VALUE-identical to copy 0 — exact cross-copy
    //    duplicates of the kind the letter maps exist to prevent, just on
    //    the vector side ⇒ factor ≤ 97.
    //  - documents: copies 1..25 use distinct rotations; past that,
    //    seeded alphabet permutations (letterMap). Identical maps on two
    //    copies would collide them into exact cross-copy duplicates and
    //    silently break the disjoint-copy invariants (and with them the
    //    linearity gates) — assert distinctness instead of trusting the
    //    seeds.
    //  - all tables: ids stay unique while (factor-1)·Stride + max fixture
    //    id < 2⁶³; cap at 1000 (1e11 ids) — far past the fifth decade,
    //    far under overflow.
    require(factor >= 1 && factor <= 1000,
      s"factor $factor outside [1, 1000]")
    require(factor <= 97 || !tables("embeddings") || vectorMode == "signflip",
      s"factor $factor > 97: the embeddings shift modulus (97) binds when embeddings are " +
        "mirrored in shift mode; use vectorMode=signflip for larger factors")
    if (tables("embeddings") && vectorMode == "signflip") {
      // Two copies with equal sign patterns would be exact cross-copy
      // duplicates of every vector — assert distinctness like letterMap.
      val pats = (0 until factor).map(c => signPattern(c).toSeq)
      require(pats.distinct.size == pats.size,
        s"sign patterns collide at factor $factor: two copies would be exact duplicates")
    }
    if (tables("documents")) {
      val maps = (0 until factor).map(c => if (c == 0) lower else letterMap(c))
      require(maps.distinct.size == maps.size,
        s"letter maps collide at factor $factor: two copies would be exact duplicates")
    }
    val unknown = tables -- keyCols.keys
    require(unknown.isEmpty, s"unknown mirror tables: ${unknown.mkString(",")}")
    Tables.configure(spark) // nanosAsLong for events.ts int64
    keyCols.keys.toSeq.sorted.filter(tables).foreach { name =>
      val src = spark.read.parquet(s"$srcDir/$name.parquet")
      val copies = if (singleDims && keyCols(name).isEmpty) 1 else factor
      val scaled = (0 until copies).map(c => scaleCopy(src, name, c, vectorMode)).reduce(_ union _)
      scaled.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    // Completion manifest, written LAST: reuse paths (SCALE_SMOKE_REUSE,
    // the gate runners' skip-rebuild guards) key on this file, so a
    // crashed partial synthesis — some tables written, some missing or
    // truncated — is never silently reused as a valid mirror.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "_GRAFT_MIRROR.json"),
      s"""{"src":${graft.Verify.jsonString(srcDir)},"factor":$factor,"singleDims":$singleDims,""" +
        s""""vectorMode":"$vectorMode",""" +
        s""""tables":[${tables.toSeq.sorted.map("\"" + _ + "\"").mkString(",")}]}""")
  }

  /** Build + force one graded key against `dir`. Construction is INSIDE the
    * timed region: the iterative keys (components, IVF/PQ training) execute
    * bounded jobs while the DataFrame is being built, and that cost is part
    * of the operator. Forcing runs `foreachPartition` with a row-count
    * accumulator — the full physical plan (final sort included) executes
    * with no writer, plus a per-row deserialization term that Bench's
    * noop-sink methodology does not pay; it is identical at BOTH scales,
    * so the RATIO this harness gates on is unaffected (absolute times are
    * not comparable to BENCH records).
    */
  /** Keys whose graded fn hides the interesting plan (e.g. behind a
    * conf-scoped localCheckpoint): the smoke runs this inner frame
    * instead, under the same scoped confs, so the final adaptive plan is
    * inspectable.
    */
  val smokeFrames: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_skew_join_aqe" -> ((s, d) => graft.engine.Skew.aqeSkewJoinFrame(s, d)),
    // Planted-skew triangle probe: hub degree grows ×N with the corpus;
    // linear ratio here is the measured proof that the (degree, id)
    // orientation kills the star-graph wedge blowup (id orientation
    // would center ~(Nn)²/2 wedges at the hub and blow the budget ~×N).
    "q_graph_triangles_star" -> ((s, d) => graft.engine.Graph.starTriangleFrame(s, d)),
    // Production-scaled SemDeDup (k ∝ n, cells bounded, Ivf-trained):
    // the linear sibling of the deliberately-quadratic graded fixed-k
    // key. Since r12 the deterministic-seed renderings of the same
    // scale shape are GRADED keys (q_semdedup_scaled{,2}, resolved via
    // SparkEntry.queries); these _ivf frames keep the production
    // trainer itself under the ×N gate.
    "q_semdedup_ivf" -> ((s, d) => graft.engine.SemDedup.scaledPrune(s, d)),
    // Coarse nation-only linkage: the quadratic fixture shape, kept as a
    // measured DEMONSTRATION of why fixed-cardinality blocking fails at
    // ×N (the graded q_record_linkage is the compound block since r12 —
    // linear, and smoke-gated under its own graded name below).
    "q_record_linkage_coarse" -> ((s, d) => graft.engine.Linkage.coarseLinkageFrame(s, d)),
    // Two-level (coarse √k + per-coarse sub-cells) SemDeDup assignment —
    // the beyond-broadcast sibling of the flat k ∝ n frame above.
    "q_semdedup_ivf2" -> ((s, d) => graft.engine.SemDedup.scaledPruneTwoLevel(s, d)))

  /** Cumulative executor spill counters, fed by a stage-completion
    * listener; per-run deltas anchor the "fits in executor memory at
    * this scale" claim with measured bytes. Listener delivery is async —
    * the short settle sleep before snapshotting makes the counters
    * telemetry-grade (not exact), which is all a spill trend needs.
    */
  private val memSpill = new java.util.concurrent.atomic.AtomicLong
  private val diskSpill = new java.util.concurrent.atomic.AtomicLong
  /** Max over stages of the stage-aggregate peak execution memory —
    * the complementary signal to spill deltas: a key can avoid spill at
    * N× simply by ballooning its in-memory hash maps, and only the peak
    * shows it. Reset per timed region (runs are serial).
    */
  private val stagePeakMem = new java.util.concurrent.atomic.AtomicLong
  @volatile private var listenerOn = false
  @volatile private var scRef: org.apache.spark.SparkContext = _
  private def ensureSpillListener(spark: SparkSession): Unit = synchronized {
    if (!listenerOn) {
      listenerOn = true
      scRef = spark.sparkContext
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            memSpill.addAndGet(s.stageInfo.taskMetrics.memoryBytesSpilled)
            diskSpill.addAndGet(s.stageInfo.taskMetrics.diskBytesSpilled)
            stagePeakMem.getAndAccumulate(
              s.stageInfo.taskMetrics.peakExecutionMemory, math.max)
          }
        })
    }
  }
  /** Deterministic quiesce: block until every queued listener event is
    * delivered (the bus's own waitUntilEmpty, via the package shim)
    * before reading or resetting the counters — a fixed sleep could
    * credit a late-completing 1x stage to the Nx region under load and
    * flip the mem_over gate either way.
    */
  private def drain(): Unit =
    if (scRef != null &&
        !org.apache.spark.GraftListenerBusAccess.waitUntilEmpty(scRef, 30000L))
      System.err.println("[smoke] WARN listener bus not drained in 30s; " +
        "spill/peak attribution may be off")
  private def spillSnapshot(): (Long, Long) = {
    drain()
    (memSpill.get, diskSpill.get)
  }
  private def resetPeak(): Unit = { drain(); stagePeakMem.set(0) }
  private def peakSnapshot(): Long = { drain(); stagePeakMem.get }

  def runKey(spark: SparkSession, name: String, dir: String): (Double, Long, Map[String, Int]) = {
    def run(): (Double, Long, Map[String, Int]) = {
      val t0 = System.nanoTime()
      val df = smokeFrames.getOrElse(name, SparkEntry.queries(name))(spark, dir)
      val rows = spark.sparkContext.longAccumulator(s"rows_$name")
      // Force THIS QueryExecution's plan (Dataset.foreachPartition would
      // build a derived deserializing QE, leaving this one unexecuted and
      // its adaptive plan stuck at the initial guess), then read flags
      // from the FINAL plan — runtime re-plans (broadcast demotion, skew
      // splits) are visible.
      val qe = df.queryExecution
      qe.toRdd.foreachPartition(it => rows.add(it.size.toLong))
      val flags = PlanDump.planFlags(qe.executedPlan.toString)
      ((System.nanoTime() - t0) / 1e9, rows.value, flags)
    }
    if (name == "q_skew_join_aqe")
      graft.engine.Skew.withAqeSkewConfs(spark)(run())
    else run()
  }

  /** Is the N× plan shape acceptable relative to 1×? Identical is ideal.
    * The one tolerated difference is broadcast DEMOTION — a BHJ at 1×
    * re-planning as a shuffle join once its side outgrew the threshold
    * (strictly fewer BHJ, no new nested loop / cartesian): that is the
    * planner doing its job at scale. Any new BHJ / BNLJ / Cartesian at
    * N× is the corpus-sized-broadcast failure this gate exists to catch.
    */
  def planShapeOk(f1in: Map[String, Int], fNin: Map[String, Int]): Boolean = {
    // Runtime skew splits are EXPECTED to grow with scale — strip the
    // informational flag before the shape compare.
    val f1 = f1in - "skew"
    val fN = fNin - "skew"
    def g(m: Map[String, Int], k: String) = m.getOrElse(k, 0)
    if (f1 == fN) true
    // A skew split that fired at N× may add its repair exchange(s) —
    // that Exchange-only growth is the mitigation working, not a flip.
    else if (fNin.getOrElse("skew", 0) > f1in.getOrElse("skew", 0) &&
      f1 - "Exchange" == fN - "Exchange" &&
      g(fN, "Exchange") >= g(f1, "Exchange")) true
    else g(fN, "BHJ") < g(f1, "BHJ") &&
      g(fN, "BNLJ") <= g(f1, "BNLJ") &&
      g(fN, "CartesianProduct") <= g(f1, "CartesianProduct")
  }

  /** The heaviest graded keys — the suite's scale story in one list.
    * q_skew_join_aqe is the planted-skew probe: the hot-key join left
    * unsalted, gated below on AQE's skew split actually FIRING at N×.
    */
  val heavyKeys: Seq[String] = Seq(
    "q_neardup_lsh", "q_neardup_lsh_salted", "q_neardup_components",
    "q_neardup_resolve", "q_containment_pairs", "q_substring_dedup",
    "q_ann_ivfpq", "q_skew_join", "q_skew_join_aqe", "q_curation_pipeline",
    "q_sessionize", "q_lm_score", "q_fuzzy_match_scaled",
    "q_boilerplate_strip", "q_graph_triangles", "q_inverted_index",
    "q_pca_covariance", "q_fuzzy_linkage", "q_k_anonymity",
    "q_jw_threshold_join",
    // Gateable since the panel cap: fixed |Q| ≤ KnnPanelCap (the mirror's
    // copy stride is ≫ the cap, so only copy-0 ids enter the panel) ⇒
    // work is one linear corpus pass per ×N.
    "q_knn_batch",
    // Planted-skew triangle probe (smokeFrames-only, see above).
    "q_graph_triangles_star",
    // k ∝ n SemDeDup: Ivf-trained smoke frames AND the graded
    // deterministic-seed faces (all four linear by construction).
    "q_semdedup_ivf", "q_semdedup_ivf2",
    "q_semdedup_scaled", "q_semdedup_scaled2",
    // Compound-blocked linkage — the GRADED face since r12 (linear).
    "q_record_linkage")

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SCALE_SMOKE_SRC", "/root/testdata/sf0.01")
    val factor = sys.env.getOrElse("SCALE_SMOKE_FACTOR", "10").toInt
    val out = sys.env.getOrElse("SCALE_SMOKE_OUT", "target/scalesmoke")
    // Linear-with-log-terms + single-box noise allowance; a quadratic key
    // at factor 10 would land at ~100× and trip this by an order of
    // magnitude, which is the regime the gate exists to catch.
    val slack = sys.env.getOrElse("SCALE_SMOKE_SLACK", "3.0").toDouble
    val spark = graft.Sessions.local(32)

    val scaledDir = s"$out/x$factor"
    // SCALE_SMOKE_REUSE=1 skips re-synthesis when the mirror already
    // exists (iterating on one key's plan, not on the synthesizer; also
    // how a table-subset mirror — e.g. the ×970 relational fifth-decade
    // one, which carries no documents.parquet — is pointed at: build it
    // with MakeMirror, then smoke with REUSE=1).
    // Reuse keys on the completion manifest synthesize writes LAST — a
    // crashed partial synthesis (some tables written, some missing) has
    // no manifest and is rebuilt instead of silently reused.
    val manifest = new java.io.File(scaledDir, "_GRAFT_MIRROR.json")
    if (!(sys.env.contains("SCALE_SMOKE_REUSE") && manifest.isFile))
      synthesize(spark, src, scaledDir, factor)

    // SCALE_SMOKE_KEYS=q_a,q_b restricts to a subset for local iteration.
    val keys = sys.env.get("SCALE_SMOKE_KEYS")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(heavyKeys)
    var fail = false
    ensureSpillListener(spark)
    val results = keys.map { k =>
      val _ = runKey(spark, k, src) // warm: JIT + parquet footer + catalyst caches
      resetPeak()
      val (t1a, rows1, flags1) = runKey(spark, k, src)
      val (t1b, _, _) = runKey(spark, k, src)
      val t1 = math.min(t1a, t1b)
      val peak1 = peakSnapshot()
      val (mem0, disk0) = spillSnapshot()
      resetPeak()
      var (tN, rowsN, flagsN) = runKey(spark, k, scaledDir)
      // One serial re-run absorbs a co-tenant spike before declaring fail.
      val floor = math.max(t1, 0.5) // don't amplify fixed overheads of sub-second keys
      if (tN / floor > factor * slack) {
        val again = runKey(spark, k, scaledDir); if (again._1 < tN) { tN = again._1; rowsN = again._2 }
      }
      val ratio = tN / floor
      val (mem1, disk1) = spillSnapshot()
      val peakN = peakSnapshot()
      val flip = !planShapeOk(flags1, flagsN)
      val over = ratio > factor * slack
      // Peak-memory budget: a key may trade spill for resident hash state,
      // so peak execution memory must also grow at most ~linearly. The
      // fixed 32-partition local mode concentrates a ×N corpus into ×N
      // bigger partitions, so ≤ factor × slack is the right ceiling (on a
      // cluster, partition COUNT would grow instead and the per-task peak
      // would stay ~flat). 64 MB floor: sub-floor peaks are scheduler
      // noise, not data structures.
      val peakFloor = math.max(peak1, 64L * 1000000)
      val memOver = peakN > peakFloor * factor * slack
      // The planted-skew gate: at N× the hot partitions are far past the
      // scoped threshold — the runtime split MUST have fired.
      val skewMissing = k == "q_skew_join_aqe" && flagsN.getOrElse("skew", 0) == 0
      if (flip || over || skewMissing || memOver) fail = true
      val fj = (m: Map[String, Int]) => m.toSeq.sorted.map { case (a, b) => s""""$a":$b""" }.mkString("{", ",", "}")
      println(s"""{"key":"$k","t1_sec":${f"$t1%.2f"},"tN_sec":${f"$tN%.2f"},"ratio":${f"$ratio%.2f"},""" +
        s""""rows1":$rows1,"rowsN":$rowsN,"flags1":${fj(flags1)},"flagsN":${fj(flagsN)},""" +
        s""""spillN_mem_mb":${(mem1 - mem0) / 1000000},"spillN_disk_mb":${(disk1 - disk0) / 1000000},""" +
        s""""peak1_mb":${peak1 / 1000000},"peakN_mb":${peakN / 1000000},"mem_over":$memOver,""" +
        s""""plan_flip":$flip,"over_budget":$over}""")
      (k, t1, tN, ratio, flip, over, memOver)
    }
    val maxR = results.map(_._4).max
    println(s"""{"scale_smoke":{"src":${graft.Verify.jsonString(src)},"factor":$factor,"slack":$slack,""" +
      s""""n_keys":${results.size},"n_flips":${results.count(_._5)},""" +
      s""""n_over":${results.count(_._6)},"n_mem_over":${results.count(_._7)},""" +
      s""""max_ratio":${f"$maxR%.2f"},"pass":${!fail}}}""")
    spark.stop()
    if (fail) sys.exit(1)
  }
}
