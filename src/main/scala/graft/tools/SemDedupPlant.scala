package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Planted-truth INDEPENDENT at-scale oracle for the two graded scaled
  * SemDeDup faces (r14 verdict item #1). q_semdedup_scaled /
  * q_semdedup_scaled2 are the one family whose ≥×97 evidence had been the
  * engine re-confirming itself (MIRRORINV engine-contract rows): their
  * k ∝ n clustering oracle exhausts DuckDB's temp disk at mirror scale
  * (SURVEY §22.1). This tool replaces that self-confirmation with a
  * corpus whose EXPECTED OUTPUT — every cell id, every keep/prune
  * decision, every rep — is a closed-form function of the row index,
  * derived from construction-guaranteed geometric margins, never from
  * running the clustering. The engine either reproduces the formula
  * exactly (200k-row multiset equality, both faces) or the row that
  * differs is printed.
  *
  * ## Construction (all margins are provable, no measured constants)
  *
  * n = 64·q² vectors in the fixture's 64-dim float space, organized as
  * k = q² SITES of exactly 64 members ([[graft.engine.SemDedup.TargetCellSize]]),
  * grouped into q SUPERCLUSTERS of q sites:
  *
  *  - supercluster j has center C_j = S1 · bits6(j) on coords 0–5
  *    (S1 = 100 000); site g = j + q·w sits at C_j + S2 · bits6(w) on
  *    coords 6–11 (S2 = 1 000). Distinct sites differ by ≥ S2 in some
  *    coordinate; distinct superclusters by ≥ S1.
  *  - members of a FAR site (g ≠ 0): member t = λ_t·c_g + 0.1·σ_t·e_{28+(t mod 32)}
  *    with λ_t = 1 + 10⁻⁶·((t mod 3) − 1), σ_t = ±1 by t < 32. Max
  *    displacement from c_g ≤ 10⁻⁶·‖c‖ + 0.1 < 0.35 ≪ S2/4: every
  *    k-means family this engine runs (seed-order init, one rounded
  *    Lloyd update, re-assignment; coarse and sub levels likewise) is
  *    FORCED to map site ↔ cell — a centroid of any subset of a site
  *    stays inside the site ball, and the ball is ≥ S2 − 1 from every
  *    other candidate centroid. Within the site all pairwise cosines
  *    are ≥ 1 − 10⁻⁵ ≥ τ (near-colinear: ‖c‖ ≥ S2 and offsets ≤ 0.35),
  *    so the site prunes wholly to its minimum id.
  *  - the ORIGIN site (g = 0, center exactly 0) carries the non-trivial
  *    prune structure: member t = σ·ρ·e_{12+(cls mod 16)} with
  *    cls = t div 2, σ = +1 iff cls < 16, ρ ∈ {1.0, 1.25} by t parity.
  *    Cosines are EXACT by single-coordinate support: 1.0 within a
  *    (axis, sign) class (prune; 1.25² = 1.5625 and √1.5625 = 1.25 are
  *    exact in binary), 0.0 across axes and −1.0 across signs (keep) —
  *    no decision rides on float noise. Class means are balanced, so
  *    the origin centroid is EXACTLY 0 after the Lloyd mean.
  *
  * vec_id(i) = i + 1 + i/24 — the i-th positive integer NOT divisible
  * by 25 — so [[graft.engine.SemDedup.plantedCorpus]] plants NOTHING
  * (its every-25th-id near-copies would otherwise displace by
  * 0.02·‖c‖ ≈ 5 000 ≫ S2 and break the site margins); the planted
  * truth here is the in-site dominated classes instead. Ids are
  * strictly increasing in i, so min-id prune logic is min-rank logic.
  *
  * ## Closed form
  *
  * With site g = i mod k and member t = i div k:
  *  - flat face cell  = g                      (seed order = site order);
  *  - two-level cell  = (g mod q)·q + (g div q) (coarse = supercluster
  *    j = g mod q, whose q smallest ids are exactly its q site anchors
  *    in w-order — sub s = g div q);
  *  - far site:   t = 0 kept, else pruned with rep = id(g) (the anchor);
  *  - origin site: t even kept, t odd pruned with rep = id(k·(t−1))
  *    (its (axis, sign) class partner).
  * Survivors: (k − 1) far anchors + 32 origin class minima.
  *
  * Output: `SEMDEDUP_PLANT_r15.json` — per-face row counts, mismatch
  * counts (must be 0), survivor census vs the formula.
  */
object SemDedupPlant {
  val Dim = 64
  val S1 = 100000.0
  val S2 = 1000.0

  /** i-th positive integer not divisible by 25 (strictly increasing). */
  def id(i: Long): Long = i + 1 + i / 24

  case class Emb(vec_id: Long, embedding: Array[Float], label: Int)
  case class Expect(vec_id: Long, cell_flat: Long, cell_two: Long,
      rep: Option[Long], pruned: Boolean)

  /** The construction, per row index. */
  def vector(i: Long, q: Int): Array[Float] = {
    val k = q.toLong * q
    val g = (i % k).toInt            // site
    val t = (i / k).toInt            // member index within site
    val v = new Array[Float](Dim)
    if (g == 0) {
      val cls = t / 2                // (axis, sign) class: 32 of them
      val axis = 12 + (cls % 16)
      val sigma = if (cls < 16) 1.0 else -1.0
      val rho = if (t % 2 == 0) 1.0 else 1.25
      v(axis) = (sigma * rho).toFloat
    } else {
      val j = g % q                  // supercluster
      val w = g / q                  // site within supercluster
      val lambda = 1.0 + 1e-6 * ((t % 3) - 1)
      var b = 0
      while (b < 6) {
        if (((j >> b) & 1) == 1) v(b) = (lambda * S1).toFloat
        if (((w >> b) & 1) == 1) v(6 + b) = (lambda * S2).toFloat
        b += 1
      }
      val jAxis = 28 + (t % 32)
      val sigma = if (t < 32) 1.0f else -1.0f
      v(jAxis) = v(jAxis) + 0.1f * sigma
    }
    v
  }

  /** The closed-form expected output row (shared by both faces except
    * the cell id).
    */
  def expect(i: Long, q: Int): Expect = {
    val k = q.toLong * q
    val g = i % k
    val t = i / k
    val cellTwo = (g % q) * q + (g / q)
    if (g == 0L) {
      if (t % 2 == 0) Expect(id(i), g, cellTwo, None, pruned = false)
      else Expect(id(i), g, cellTwo, Some(id(k * (t - 1))), pruned = true)
    } else {
      if (t == 0L) Expect(id(i), g, cellTwo, None, pruned = false)
      else Expect(id(i), g, cellTwo, Some(id(g)), pruned = true)
    }
  }

  def corpus(spark: SparkSession, q: Int): DataFrame = {
    import spark.implicits._
    val n = 64L * q * q
    spark.range(n).map(i => Emb(id(i), vector(i, q), 0)).toDF()
  }

  def expected(spark: SparkSession, q: Int): DataFrame = {
    import spark.implicits._
    val n = 64L * q * q
    spark.range(n).map(i => expect(i, q)).toDF()
  }

  /** Multiset difference counts between the engine output and the
    * closed form, plus up to 3 sample divergent rows for diagnosis.
    */
  private def compare(got: DataFrame, exp: DataFrame): (Long, Long, Seq[String]) = {
    val g = got.select(col("vec_id"), col("cell"), col("rep"), col("pruned"))
    val e = exp.select(col("vec_id"), col("cell"), col("rep"), col("pruned"))
    val extra = g.exceptAll(e)
    val missing = e.exceptAll(g)
    val samples = extra.limit(3).collect().map(r => s"engine=$r") ++
      missing.limit(3).collect().map(r => s"expected=$r")
    (extra.count(), missing.count(), samples.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val q = sys.env.getOrElse("PLANT_Q", "56").toInt
    val dir = sys.env.getOrElse("PLANT_DIR", s"target/semdedup_plant_q$q")
    val out = sys.env.getOrElse("PLANT_OUT", "SEMDEDUP_PLANT_r15.json")
    val spark = graft.Sessions.local(32)

    val k = q * q
    val n = 64L * k
    require(graft.engine.SemDedup.scaledK(n) == k,
      s"n=$n must yield k=q²=$k under the query's own k ∝ n budget")

    val manifest = new java.io.File(s"$dir/_GRAFT_PLANT.json")
    if (!manifest.exists()) {
      corpus(spark, q).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      java.nio.file.Files.writeString(manifest.toPath,
        s"""{"q":$q,"k":$k,"n":$n,"s1":$S1,"s2":$S2}""")
    }

    val exp = expected(spark, q).localCheckpoint()
    val survivorsExpected = (k - 1) + 32

    val results = Seq(
      "q_semdedup_scaled" -> exp.withColumnRenamed("cell_flat", "cell"),
      "q_semdedup_scaled2" -> exp.withColumnRenamed("cell_two", "cell")
    ).map { case (key, e) =>
      val t0 = System.nanoTime()
      val got = SparkEntry.queries(key)(spark, dir).localCheckpoint()
      val rows = got.count()
      val survivors = got.where(!col("pruned")).count()
      val (extra, missing, samples) = compare(got, e)
      val secs = (System.nanoTime() - t0) / 1e9
      val ok = extra == 0 && missing == 0 && rows == n &&
        survivors == survivorsExpected
      println(f"""{"key":"$key","rows":$rows,"survivors":$survivors,"survivors_expected":$survivorsExpected,"extra":$extra,"missing":$missing,"pass":$ok,"secs":$secs%.1f}""")
      if (samples.nonEmpty) samples.foreach(s => println(s"  DIVERGENT $s"))
      (key, rows, survivors, extra, missing, ok, secs)
    }

    val allOk = results.forall(_._6)
    val body = results.map { case (key, rows, surv, extra, missing, ok, secs) =>
      f""""$key":{"rows":$rows,"survivors":$surv,"survivors_expected":$survivorsExpected,"extra_rows":$extra,"missing_rows":$missing,"pass":$ok,"secs":$secs%.1f}"""
    }.mkString(",")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      s"""{"tool":"SemDedupPlant","q":$q,"k":$k,"n":$n,""" +
        s""""truth":"closed-form (construction margins), independent of the engine's clustering",""" +
        s"""$body,"pass":$allOk}""" + "\n")
    spark.stop()
    if (!allOk) sys.exit(1)
  }
}
