package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: stats, term
  * frequency, quality scoring, language-ID heuristic, and 64-bit
  * fingerprints (SimHash + winnowing rolling hash).
  *
  * The fingerprint UDFs are deliberately plain Scala UDFs over a single
  * string column — one serialization hop, no driver involvement; at 100 TB
  * they run map-only inside the scan stage. (A codegen'd Catalyst
  * Expression would shave the hop; see graft.functions.)
  */
object TextAnalysis {
  import Tables._
  type Q = (SparkSession, String) => DataFrame

  // ------------------------------------------------------------ pure Scala

  /** FNV-1a 64-bit — stable, dependency-free token hash (single shared
    * definition in the kernel object the Catalyst expressions also use).
    */
  def fnv1a64(s: String): Long = graft.functions.GraftOps.fnv1a64(s)

  /** SimHash-64 over whitespace tokens: per bit, sum +1/-1 across token
    * hashes; sign becomes the bit. Near-identical token multisets give
    * hamming-close signatures. Delegates to the kernel the SimHash64
    * codegen expression evaluates — one definition for the plain-Scala
    * surface, the UDF showcase, and the near-dup operator's hot path.
    */
  def simhash64(text: String): Long = graft.functions.GraftOps.simhash64(text)

  /** Winnowing-style fingerprint: min polynomial rolling hash over all
    * k-char windows (k=16). Equal texts ⇒ equal fingerprints; shared long
    * substrings ⇒ likely-equal fingerprints. Delegates to the kernel the
    * codegen'd RollingFingerprint expression evaluates — one definition
    * for the plain-Scala surface, the property tests, and the hot path.
    */
  def rollingFingerprint(text: String, k: Int = 16): Long =
    graft.functions.GraftOps.rollingFingerprint(text, k)

  // -------------------------------------------------------------- queries

  /** Per-language corpus stats. */
  val qTextStats: Q = (s, d) =>
    documents(s, d)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 2).as("avg_chars"),
        round(avg(col("n_tokens")), 2).as("avg_tokens"))
      .orderBy("lang")

  /** Term frequency: explode tokens (Spark's Generator), global top-20. */
  val qTokenTopk: Q = (s, d) =>
    documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("token"))
      .limit(20)

  /** TF-IDF term scoring — the classic corpus-relevance weight next to
    * the raw-frequency keys: score(doc, term) = tf · ln(N / df), global
    * top-20 by (rounded score, doc_id, term). Two hash aggregates
    * (per-doc term counts, then document frequency — both map-side
    * partial) + a broadcast one-row N; the ln output is rounded to 6
    * decimals BEFORE ordering so the filter/order decisions are
    * cross-engine stable (libm ulp drift sits at ~1e-16, far below the
    * rounding grain — the G2 policy).
    */
  val qTfidfTopk: Q = (s, d) => {
    val docs = documents(s, d)
    val terms = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .where(col("term") =!= "")
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val total = docs.select(count(lit(1)).as("n_docs"))
    tf.join(df, "term")
      .crossJoin(broadcast(total))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df").cast("double")), 6))
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"))
      .orderBy(desc("tfidf"), asc("doc_id"), asc("term"))
      .limit(20)
  }

  /** Corpus-unigram-LM quality score — the CCNet-style filter stage
    * (public: Wenzek et al., "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data"): score each document by its mean
    * negative log-likelihood under the corpus's own unigram model; text
    * whose vocabulary is atypical for the corpus (gibberish, boilerplate,
    * wrong language) scores high and gets filtered/bucketed. (CCNet uses
    * a 5-gram KenLM; the unigram form is the same mechanism with the
    * model the engine can train in two aggregates.)
    *
    * nll(d) = −(1/n_d)·Σ_{t∈d} ln(c_t/N) = ln N − (Σ_t c_dt·ln c_t)/n_d
    * — the entropy trick (single trailing division, q_token_entropy's G2
    * discipline) so both engines run the identical op sequence and float
    * drift stays far below the round-6 grain.
    *
    * Shapes for 100 TB: two hash aggregates (per-doc tf, then corpus
    * frequency — both map-side partial), a SHUFFLE join of tf with the
    * vocabulary-sized frequency table on the term key (a vocabulary is
    * NOT broadcast-sized at web scale), and a broadcast one-row total.
    */
  val qLmScore: Q = (s, d) => {
    val terms = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .where(col("term") =!= "")
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val cf = tf.groupBy(col("term")).agg(sum(col("tf")).as("cf"))
    val total = cf.select(sum(col("cf")).as("n_total"))
    tf.join(cf, "term")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * log(col("cf"))).as("__stlc"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tokens"),
        round(log(col("n_total")) - col("__stlc") / col("n_tokens"), 6).as("nll"))
      .orderBy("doc_id")
  }

  /** Per-language token-distribution (Shannon) entropy — the vocabulary
    * diversity score a corpus-quality dashboard tracks (collapsed or
    * template-spam slices show up as low entropy). Computed as
    * H = ln N − (Σ c·ln c)/N — one division at the end instead of a
    * per-term p·ln p, so both engines evaluate the same op sequence and
    * accumulated float drift stays far below the round-6 grain (G2).
    * Shapes: two hash aggregates, both map-side partial.
    */
  val qTokenEntropy: Q = (s, d) => {
    val counts = documents(s, d)
      .select(col("lang"), explode(split(col("text"), " ")).as("term"))
      .where(col("term") =!= "")
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("c"))
    counts.groupBy(col("lang"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_terms"),
        sum(col("c") * log(col("c"))).as("__clnc"))
      .select(col("lang"), col("n_tokens"), col("n_terms"),
        round(log(col("n_tokens")) - col("__clnc") / col("n_tokens"), 6).as("entropy"))
      .orderBy("lang")
  }

  /** Token counting, whitespace AND regex flavors: alpha runs, digit
    * runs, and BPE-ish "pieces" (alpha run | digit run | single other
    * non-space char) — the pre-tokenizer split most BPE vocabularies
    * assume. Patterns use only portable character-class syntax so Java
    * regex (Spark) and RE2 (DuckDB) produce identical matches.
    */
  val qTokenCount: Q = (s, d) =>
    documents(s, d)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        size(expr("regexp_extract_all(text, '[A-Za-z]+', 0)")).cast("long").as("n_alpha_runs"),
        size(expr("regexp_extract_all(text, '[0-9]+', 0)")).cast("long").as("n_digit_runs"),
        size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)"))
          .cast("long").as("n_bpe_pieces"))
      .orderBy("doc_id")

  /** Bigram term frequency — the n-gram LM-prep sibling of q_token_topk:
    * adjacent-token pairs via a 1-based index transform (docs under two
    * tokens are filtered BEFORE the sequence expression — Spark's
    * `sequence(1, 0)` counts DOWN, it is not empty), exploded and
    * counted. Map-side explode + one hash aggregate; top-20 is
    * TakeOrderedAndProject.
    */
  val qBigramTopk: Q = (s, d) => {
    val toks = split(col("text"), " ")
    // fanOut first: the fixture scans as ONE partition (G10), and the
    // per-doc bigram build + explode is the expensive part.
    graft.engine.Dedup.fanOut(documents(s, d).where(size(toks) >= 2))
      .select(explode(transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1)))).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("bigram"))
      .limit(20)
  }

  /** Per-(user, day) ordered event-type sequences — the behavior-sequence
    * construction step of a sequence-model training pipeline: events
    * collected per key, deterministically ordered by (ts, event_id)
    * via struct sort (collect_list order is partition-arbitrary — G4),
    * rendered as a space-joined string. One shuffle on the group key;
    * the sort is per-group.
    */
  val qUserSequences: Q = (s, d) =>
    events(s, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        array_join(
          transform(array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")), " ").as("sequence"))
      .orderBy("user_id", "day")

  /** Quality scoring: length/token/stopword/diversity ratios + composite. */
  val qTextQuality: Q = (s, d) => {
    val toks = split(col("text"), " ")
    val stop = array(lit("the"), lit("a"), lit("of"), lit("and"))
    documents(s, d)
      .withColumn("n_tokens", size(toks).cast("double"))
      .withColumn("n_stop", size(filter(toks, t => array_contains(stop, t))).cast("double"))
      .withColumn("n_uniq", size(array_distinct(toks)).cast("double"))
      .select(
        col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        round(col("n_chars") / col("n_tokens"), 4).as("avg_token_len"),
        round(col("n_stop") / col("n_tokens"), 4).as("stopword_ratio"),
        round(col("n_uniq") / col("n_tokens"), 4).as("lexical_diversity"),
        round(least(col("n_tokens") / 100.0, lit(1.0)) * (lit(1.0) - col("n_stop") / col("n_tokens")), 4)
          .as("quality_score"))
      .orderBy("doc_id")
  }

  /** Fuzzy string matching: for each (possibly misspelled) probe, the 3
    * closest part names by Levenshtein distance — entity-resolution /
    * typo-tolerant lookup with the codegen'd built-in (no UDF). The
    * probe set broadcasts (map-only distance compute at any corpus
    * size); the per-probe top-3 here is a window over the tiny probe
    * partitioning. At many-probe scale this twin stops working — use
    * [[FuzzyJoin.fuzzyTopK]] (q_fuzzy_match_scaled): PassJoin-banded
    * candidates + bounded TopKAgg, broadcast-free, same contract
    * (FuzzyScaleSpec pins the equality).
    */
  /** The typo-probe fixture BOTH fuzzy keys (and their shared oracle)
    * use — one definition so the twin contract cannot drift.
    */
  private[engine] val FuzzyProbes: Seq[String] =
    Seq("smal ring", "red wdget", "blu bolt", "hot gearz", "grean gizmo")

  private[engine] def fuzzyProbesDf(s: SparkSession): DataFrame =
    s.createDataFrame(FuzzyProbes.map(Tuple1(_))).toDF("probe")

  val qFuzzyMatch: Q = (s, d) => {
    val probes = fuzzyProbesDf(s)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe")).orderBy(asc("dist"), asc("p_partkey"))
    graft.engine.Dedup.fanOut(Tables.part(s, d)).crossJoin(broadcast(probes))
      .withColumn("dist", levenshtein(col("probe"), col("p_name")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("probe"), col("rn").cast("long").as("rank"),
        col("p_name"), col("dist").cast("long").as("dist"))
      .orderBy("probe", "rank")
  }

  /** Intra-document repetition signals (Gopher-style quality filters
    * complementing q_text_quality's stopword/diversity ratios):
    * `top_token_share` = share of the single most frequent token;
    * `dup_bigram_share` = fraction of adjacent bigrams that repeat an
    * earlier one. Both are pure per-row array math — map-only at any
    * corpus size (the census never shuffles, unlike the corpus-level
    * frequency keys); the distinct×filter count is O(u·n) per doc,
    * bounded by doc length, still embarrassingly parallel at 100 TB.
    */
  val qRepetition: Q = (s, d) => {
    val toks = split(col("text"), " ")
    // fanOut first: the fixture scans as ONE partition (G10) and the
    // O(u·n) per-doc census is the expensive part.
    graft.engine.Dedup.fanOut(documents(s, d).where(size(toks) >= 2))
      .withColumn("toks", toks)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("top_cnt",
        array_max(transform(array_distinct(col("toks")),
          t => size(filter(col("toks"), x => x === t)))))
      .withColumn("bigrams", transform(sequence(lit(1), size(col("toks")) - 1),
        i => concat(element_at(col("toks"), i), lit(" "), element_at(col("toks"), i + 1))))
      .select(
        col("doc_id"),
        col("n_tokens"),
        round(col("top_cnt") / col("n_tokens"), 4).as("top_token_share"),
        round(lit(1.0) - size(array_distinct(col("bigrams"))) / size(col("bigrams")).cast("double"), 4)
          .as("dup_bigram_share"))
      .orderBy("doc_id")
  }

  /** Language-ID heuristic: marker-token votes with deterministic
    * tie-break. (Deliberately SQL-expressible so the oracle can mirror it;
    * a production n-gram model would be a Catalyst Expression.)
    */
  val qLangId: Q = (s, d) => {
    val t = concat(lit(" "), col("text"), lit(" "))
    def has(w: String) = t.contains(s" $w ")
    documents(s, d)
      .withColumn("guess",
        when(has("der") || has("und") || has("die"), "de")
          .when(has("le") || has("et") || has("la"), "fr")
          .when(has("el") || has("los") || has("es"), "es")
          .otherwise("en"))
      .groupBy(col("lang"), col("guess"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "guess")
  }

  /** Scala UDF surface: simhash64 + rolling fingerprint (no oracle —
    * hash values are engine-specific; property-tested instead).
    */
  val qUdfScalar: Q = (s, d) => {
    val sim = udf(simhash64 _)
    documents(s, d)
      .select(col("doc_id"), sim(col("text")).as("simhash"))
      .orderBy("doc_id")
  }

  /** Rolling-hash document fingerprint (no oracle — hash values are
    * engine-specific; property-tested). Promoted from a Scala UDF to the
    * codegen'd RollingFingerprint expression: no serialization hop, the
    * row stays inside whole-stage codegen (the UDF showcase remains
    * q_udf_scalar, where the UDF surface IS the point).
    */
  val qDocFingerprint: Q = (s, d) =>
    documents(s, d)
      .select(col("doc_id"),
        graft.functions.GraftExpressions.rollingFingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** ORACLE-GRADED check frame for q_doc_fingerprint (whose hash values
    * are engine-specific, so that key is rows-only): plant a relabeled
    * copy of every 10th document (DuckDB replants the identical pair
    * list — the cross-engine value) and expect `fp_match` TRUE: the two
    * sides of a self-join evaluate RollingFingerprint independently, so
    * equal text must yield equal fingerprints regardless of which task,
    * partition, or codegen instance computed each side. A fingerprint
    * that picked up any per-row, per-partition, or per-evaluation state
    * flips the boolean and fails the hash gate.
    */
  val qFingerprintCheck: Q = (s, d) => {
    val fp = graft.functions.GraftExpressions.rollingFingerprint(col("text"))
    val tenth = documents(s, d).where(col("doc_id") % 10 === 0)
    val orig = tenth.select(col("doc_id").as("doc_b"), fp.as("__fp_b"))
    val copies = tenth.select((col("doc_id") + 100000L).as("doc_a"),
      col("doc_id").as("doc_b"), fp.as("__fp_a"))
    copies.join(orig, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("__fp_a") === col("__fp_b")).as("fp_match"))
      .orderBy("doc_a")
  }

  /** Graded end-to-end curation composition — quality gate then dedup as a
    * single oracled key: per language, how many documents survive (a) the
    * quality gate and (b) set-normalized dedup among the survivors. The
    * quality gate uses INTEGER cross-multiplication only (≥5 tokens and
    * ≥30% lexical diversity as `10·n_uniq ≥ 3·n_tokens`) — the
    * size-ratio prune trick: no float thresholds, so no cross-engine
    * rounding surface at the decision boundary. 30% sits inside the
    * fixture's duplicate-doc diversity band (0.30–0.52 measured), so
    * BOTH stages demonstrably fire at every SF (sf0.01:
    * 500 → 492 → 439). Dedup counts distinct normalized
    * token strings (Dedup.normKey — the ONE shared normalization), i.e.
    * the number of canonical survivors the clustering stage would keep.
    * One hash-aggregate shuffle on lang; the norm/quality columns are
    * map-side projections.
    */
  val qCurationPipeline: Q = (s, d) => {
    val ws = split(col("text"), " ")
    documents(s, d)
      .withColumn("n_tokens", size(ws).cast("long"))
      .withColumn("n_uniq", size(array_distinct(ws)).cast("long"))
      .withColumn("ok", col("n_tokens") >= 5 && col("n_uniq") * 10 >= col("n_tokens") * 3)
      .withColumn("norm", Dedup.normKey(col("text")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_raw"),
        count(when(col("ok"), lit(1))).as("n_quality"),
        countDistinct(when(col("ok"), col("norm"))).as("n_unique"))
      .orderBy("lang")
  }

  // ------------------------------------------------------------ redaction

  /** PII patterns written in the COMMON subset of Java regex (Spark's
    * engine) and RE2 (DuckDB's): no lookaround, no backreferences —
    * so the oracle applies the exact same automaton. Deliberately
    * conservative shapes (full emails, NNN-NNN-NNNN phones, dotted-quad
    * IPs); real deployments layer domain-specific patterns on top via
    * [[redactPii]]'s replacement list.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""" -> "<EMAIL>",
    """\b\d{3}-\d{3}-\d{4}\b""" -> "<PHONE>",
    """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b""" -> "<IP>")

  /** Scrub PII spans to typed placeholders — the compliance pass a
    * training-data pipeline runs before anything leaves curation (and
    * the redaction-count columns it logs are the audit metric). Chained
    * codegen'd `regexp_replace`: map-only at any corpus size, no UDF.
    */
  def redactPii(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    piiPatterns.foldLeft(text) { case (c, (pat, tag)) => regexp_replace(c, pat, tag) }

  /** Graded surface for [[redactPii]]: PII is PLANTED deterministically
    * (emails on doc_id%3=0, phones on %3=1, IPs on %4=0 — some docs get
    * two kinds, some none), redacted, and audited per language: docs
    * touched, characters removed, and placeholder counts by kind. The
    * oracle rebuilds the same augmented text and applies the same
    * patterns under RE2 — equal iff both engines match the exact same
    * spans.
    */
  val qPiiRedact: Q = (s, d) => {
    val aug = concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact u"), col("doc_id"), lit("@mail.example.com soon")))
        .otherwise(lit("")),
      when(col("doc_id") % 3 === 1,
        concat(lit(" call 555-867-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" now")))
        .otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
        concat(lit(" from 10.0."), (col("doc_id") % 200).cast("string"), lit(".77 today")))
        .otherwise(lit("")))
    documents(s, d)
      .select(col("lang"), aug.as("t"))
      .withColumn("r", redactPii(col("t")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("r") =!= col("t"), lit(1))).as("n_redacted"),
        sum(length(col("t")) - length(col("r"))).as("len_delta"),
        sum(regexp_count(col("r"), lit("<EMAIL>"))).as("n_emails"),
        sum(regexp_count(col("r"), lit("<PHONE>"))).as("n_phones"),
        sum(regexp_count(col("r"), lit("<IP>"))).as("n_ips"))
      .orderBy("lang")
  }

  val queries: Map[String, Q] = Map(
    "q_text_stats" -> qTextStats,
    "q_pii_redact" -> qPiiRedact,
    "q_curation_pipeline" -> qCurationPipeline,
    "q_bigram_topk" -> qBigramTopk,
    "q_user_sequences" -> qUserSequences,
    "q_token_count" -> qTokenCount,
    "q_token_topk" -> qTokenTopk,
    "q_tfidf_topk" -> qTfidfTopk,
    "q_lm_score" -> qLmScore,
    "q_token_entropy" -> qTokenEntropy,
    "q_text_quality" -> qTextQuality,
    "q_repetition" -> qRepetition,
    "q_fuzzy_match" -> qFuzzyMatch,
    "q_lang_id" -> qLangId,
    "q_udf_scalar" -> qUdfScalar,
    "q_doc_fingerprint" -> qDocFingerprint,
    "q_fingerprint_check" -> qFingerprintCheck
  )
}
