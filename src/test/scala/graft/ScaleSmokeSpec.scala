package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.tools.{PlanDump, ScaleSmoke}

/** Deterministic half of the scale-proof story (the timed half runs in
  * `graft.tools.ScaleSmoke`'s main, which is wall-clock and so lives
  * outside sbt test): pins the SYNTHESIZER invariants that make the N×
  * corpus a faithful scale-up, and the structural consequences on the
  * heavy operators — pair keys must grow ×N (linear), never ×N²
  * (quadratic), and the physical plan shape must be identical at 1× and
  * N×. Factor 3 on sf0.001 keeps the suite fast while still cleanly
  * separating linear (3×) from quadratic (9×) growth.
  */
class ScaleSmokeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val factor = 3
  private lazy val outDir = {
    val d = java.nio.file.Files.createTempDirectory("graft-scalesmoke").toString
    ScaleSmoke.synthesize(spark, TestSpark.sfDir, d, factor)
    d
  }
  private def src(name: String) = spark.read.parquet(s"${TestSpark.sfDir}/$name.parquet")
  private def big(name: String) = spark.read.parquet(s"$outDir/$name.parquet")

  test("every scaled table has exactly factor × the source rows") {
    ScaleSmoke.keyCols.keys.foreach { t =>
      assert(big(t).count() === factor * src(t).count(), s"table $t")
    }
  }

  test("singleDims mirror: dims stay 1×, facts ×factor, dim joins fan out linearly") {
    // The fifth-decade growth profile: real corpora grow FACTS, not
    // `nation`. Replicated dims fan every customer⋈nation match ×factor
    // (×factor² row products two dims deep — the shape that ANSI-
    // overflowed the single-phase LONG cents sum at ×97); single-copy
    // dims keep the TPC-H join graph exactly.
    val d = java.nio.file.Files.createTempDirectory("graft-singledims").toString
    val tables = Set("lineitem", "orders", "customer", "nation", "region")
    ScaleSmoke.synthesize(spark, TestSpark.sfDir, d, factor, tables, singleDims = true)
    def out(name: String) = spark.read.parquet(s"$d/$name.parquet")
    assert(out("nation").count() === src("nation").count())
    assert(out("region").count() === src("region").count())
    assert(out("customer").count() === factor * src("customer").count())
    val m1 = src("customer").join(src("nation"),
      col("c_nationkey") === col("n_nationkey")).count()
    val mN = out("customer").join(out("nation"),
      col("c_nationkey") === col("n_nationkey")).count()
    assert(mN === factor * m1, "customer⋈nation must fan out ×factor, not ×factor²")
    // Past-97 factors are legal for relational-only mirrors (the 97 cap
    // is the embeddings shift modulus; letter-map distinctness binds only
    // when documents are mirrored).
    ScaleSmoke.synthesize(spark, TestSpark.sfDir, s"$d/x101", 101,
      Set("region"), singleDims = true)
    assert(spark.read.parquet(s"$d/x101/region.parquet").count() === src("region").count())
    assertThrows[IllegalArgumentException] {
      ScaleSmoke.synthesize(spark, TestSpark.sfDir, s"$d/bad", 101, Set("embeddings"))
    }
  }

  test("letter maps: permutations past the rotation alphabet, all distinct to 97") {
    val maps = (1 until 97).map(ScaleSmoke.letterMap)
    maps.foreach { m =>
      assert(m.sorted == "abcdefghijklmnopqrstuvwxyz", s"not a permutation: $m")
    }
    // Deterministic (same map on re-derivation) and pairwise distinct —
    // identical maps on two copies would collide them into exact
    // cross-copy duplicates and break every disjointness invariant.
    assert(ScaleSmoke.letterMap(60) == ScaleSmoke.letterMap(60))
    assert((maps :+ "abcdefghijklmnopqrstuvwxyz").distinct.size == maps.size + 1)
  }

  test("signflip vector mode: copy 0 identity, within-copy dots bit-exact, " +
      "cross-copy near-orthogonal, labels copy-disjoint") {
    // Pattern determinism + distinctness to the full factor-1000 range
    // (the synthesize guard asserts the copies in play; this pins all).
    val pats = (0 until 1000).map(c => ScaleSmoke.signPattern(c).toSeq)
    assert(pats.head.forall(_ == 1.0f)) // copy 0 = identity
    assert(pats.forall(p => p.forall(x => x == 1.0f || x == -1.0f)))
    assert(pats.distinct.size == pats.size)
    assert(ScaleSmoke.signPattern(7).toSeq == ScaleSmoke.signPattern(7).toSeq)

    val d = java.nio.file.Files.createTempDirectory("graft-signflip").toString
    ScaleSmoke.synthesize(spark, TestSpark.sfDir, d, factor,
      Set("embeddings"), vectorMode = "signflip")
    val m = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("copy", floor(col("vec_id") / lit(ScaleSmoke.Stride)))
      .withColumn("orig", pmod(col("vec_id"), lit(ScaleSmoke.Stride)))
      .localCheckpoint()
    // copy 0 is value-identical to the source (×1.0f is exact)
    val srcE = src("embeddings")
      .select(col("vec_id").as("orig"), col("label").as("label0"),
        transform(col("embedding"), x => x.cast("double")).as("v0"))
    assert(m.where(col("copy") === 0).join(srcE, "orig")
      .where(col("v") =!= col("v0") || col("label") =!= col("label0"))
      .count() === 0)
    // labels land in copy-disjoint blocks: label = source + copy·LabelStride
    assert(m.join(srcE, "orig")
      .where(col("label") =!= col("label0") + col("copy") * lit(ScaleSmoke.LabelStride))
      .count() === 0)
    // within-copy norms (self-dots) are BIT-exact per copy: (±x)² = x²
    // summed in the same order — the property per-copy-equality
    // invariants for the cosine pair keys rest on
    import graft.functions.GraftExpressions.dotProduct
    val norms = m.select(col("copy"), col("orig"), dotProduct(col("v"), col("v")).as("n2"))
    val n0 = norms.where(col("copy") === 0).select(col("orig"), col("n2").as("n2_0"))
    assert(norms.join(n0, "orig").where(col("n2") =!= col("n2_0")).count() === 0)
    // cross-copy same-base cosines far from the near-dup regime: the
    // fixture-wide exhaustive bound is 0.938 at ×970 (r14 analysis);
    // spot-pin it at this factor
    val a = m.select(col("copy").as("ca"), col("orig"), col("v").as("va"))
    val b = m.select(col("copy").as("cb"), col("orig"), col("v").as("vb"))
    val mx = a.join(b, "orig").where(col("ca") < col("cb"))
      .select(abs(dotProduct(col("va"), col("vb")) /
        (sqrt(dotProduct(col("va"), col("va"))) * sqrt(dotProduct(col("vb"), col("vb")))))
        .as("c"))
      .agg(max(col("c"))).head().getDouble(0)
    assert(mx < 0.99, s"cross-copy same-base cosine $mx reaches near-dup range")
  }

  test("re-keying keeps ids unique and join keys consistent per copy") {
    val docs = big("documents")
    assert(docs.select("doc_id").distinct.count() === docs.count())
    // FK pair offset on both sides: the join graph replicates per copy.
    val m1 = src("orders").join(src("lineitem"),
      col("o_orderkey") === col("l_orderkey")).count()
    val mN = big("orders").join(big("lineitem"),
      col("o_orderkey") === col("l_orderkey")).count()
    assert(mN === factor * m1, "orders⋈lineitem must scale linearly, not quadratically")
  }

  test("documents: within-copy dup structure preserved, cross-copy vocab disjoint") {
    // translate is 1:1 ⇒ distinct texts scale ×factor (each copy keeps its
    // own dup groups; rotated alphabets keep copies disjoint).
    assert(big("documents").select("text").distinct.count() ===
      factor * src("documents").select("text").distinct.count())
    // n_chars stays truthful under the rotation.
    assert(big("documents").where(length(col("text")) =!= col("n_chars")).count() === 0)
    // Cross-copy token overlap ~none: shared tokens would re-link copies
    // and quadratic-ify every pair operator downstream.
    val tok = (d: org.apache.spark.sql.DataFrame, c: String) =>
      d.select(explode(split(lower(col("text")), "\\s+")).as(c)).where(col(c) =!= "").distinct
    val copy0 = tok(big("documents").where(col("doc_id") < ScaleSmoke.Stride), "t0")
    val copy1 = tok(big("documents").where(
      col("doc_id") >= ScaleSmoke.Stride && col("doc_id") < 2 * ScaleSmoke.Stride), "t1")
    val shared = copy0.join(copy1, col("t0") === col("t1")).count()
    val total = copy0.count()
    assert(shared.toDouble / total < 0.02, s"cross-copy shared tokens $shared/$total")
  }

  test("events: per-user history (and so the skew profile) replicates per copy") {
    val hist1 = src("events").groupBy("user_id").count()
      .groupBy("count").agg(count(lit(1)).as("n_users"))
    val histN = big("events").groupBy("user_id").count()
      .groupBy("count").agg((count(lit(1)) / factor).cast("long").as("n_users"))
    assert(hist1.except(histN).count() === 0 && histN.except(hist1).count() === 0,
      "per-user event-count histogram must be invariant up to ×factor users")
  }

  test("exact pair operators scale exactly linearly (×factor, not ×factor²)") {
    // PPJoin containment is deterministic (recall 1.0); at THIS fixture
    // scale the count replicates exactly ×factor. Caveat learned at
    // sf0.1×10 (MirrorInvariants, round 11): exactness is NOT a theorem
    // for this key — the planted truncation halves the SORTED token set
    // and rotation permutes sort order, so at larger SFs borderline
    // planted↔relative pairs vary ±1% per copy (copy 0 stays exact,
    // which is the engine-correctness signal). It holds here because
    // sf0.001 has no such borderline cross-family pairs.
    val c1 = SparkEntry.queries("q_containment_pairs")(spark, TestSpark.sfDir).count()
    val cN = SparkEntry.queries("q_containment_pairs")(spark, outDir).count()
    assert(cN === factor * c1, s"containment pairs $c1 -> $cN")
    // Substring span dedup: span structure replicates per copy ⇒ the
    // per-doc span stats frame scales ×factor in rows, and total excised
    // span count scales ×factor too.
    val s1 = SparkEntry.queries("q_substring_dedup")(spark, TestSpark.sfDir)
    val sN = SparkEntry.queries("q_substring_dedup")(spark, outDir)
    assert(sN.count() === factor * s1.count())
    val spans = (df: org.apache.spark.sql.DataFrame) =>
      df.agg(sum(df.columns.find(_.contains("span")).map(col)
        .getOrElse(lit(0L))).cast("long")).head.getLong(0)
    assert(spans(sN) === factor * spans(s1), "total excised spans")
  }

  test("LSH pair operators scale ~linearly (probabilistic recall, bounded band)") {
    // Rotated tokens redraw the MinHash coin flips, so borderline pairs may
    // differ per copy — assert linear band, and that quadratic (×factor²)
    // growth is cleanly excluded.
    val p1 = SparkEntry.queries("q_neardup_lsh")(spark, TestSpark.sfDir).count()
    val pN = SparkEntry.queries("q_neardup_lsh")(spark, outDir).count()
    assert(pN >= p1, s"lsh pairs shrank: $p1 -> $pN")
    assert(pN <= (factor + 1) * p1, s"lsh pairs superlinear: $p1 -> $pN")
  }

  test("no heavy key flips plan shape at N× (broadcast demotion tolerated)") {
    ScaleSmoke.heavyKeys.foreach { k =>
      // Same dispatch as ScaleSmoke.runKey: smoke-only frames (planted
      // star, scaled semdedup, compound-blocked linkage) live in
      // smokeFrames, not the graded query map.
      val fn = ScaleSmoke.smokeFrames.getOrElse(k, SparkEntry.queries(k))
      val f1 = PlanDump.planFlags(fn(spark, TestSpark.sfDir)
        .queryExecution.executedPlan.toString)
      val fN = PlanDump.planFlags(fn(spark, outDir)
        .queryExecution.executedPlan.toString)
      assert(ScaleSmoke.planShapeOk(f1, fN), s"$k plan shape flipped at ${factor}×: $f1 -> $fN")
    }
  }

  test("planFlags counts the executed adaptive plan's final section only") {
    val df = spark.range(1000).groupBy(col("id") % 7).count()
    df.collect()
    val raw = df.queryExecution.executedPlan.toString
    // The executed AQE string holds the one shuffle twice: under
    // "== Final Plan ==" and again under "== Initial Plan ==".
    assert("Exchange ".r.findAllIn(raw).size == 2, raw)
    assert(PlanDump.planFlags(raw) == Map("Exchange" -> 1), raw)
  }

  test("planShapeOk accepts only identity or strict broadcast demotion") {
    val base = Map("BHJ" -> 2, "Exchange" -> 4)
    assert(ScaleSmoke.planShapeOk(base, base))
    // Demotion: fewer BHJ (the side outgrew the threshold) — allowed.
    assert(ScaleSmoke.planShapeOk(base, Map("BHJ" -> 1, "SMJ" -> 1, "Exchange" -> 6)))
    // Promotion: MORE broadcasts at scale — the failure the gate catches.
    assert(!ScaleSmoke.planShapeOk(base, Map("BHJ" -> 3, "Exchange" -> 4)))
    // A nested loop appearing at scale is never acceptable.
    assert(!ScaleSmoke.planShapeOk(base, Map("BHJ" -> 1, "BNLJ" -> 1, "Exchange" -> 4)))
  }
}
