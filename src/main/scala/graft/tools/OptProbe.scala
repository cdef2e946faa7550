package graft.tools

import org.apache.spark.sql.functions._

/** r17 optimization-round measurement probe: stage-level timings and
  * cardinalities for the near-dup pair pipeline (candidate volume vs
  * confirm volume decides where the confirm-kernel time goes). Numbers
  * feed OPTIMIZATION_r17.md; not a graded surface.
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("PROBE_SF", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.local(cpus.toInt, logLevel = "WARN")
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      System.err.println(f"[optprobe] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    import graft.engine.Dedup
    // Stage 1: signatures (fanOut + tokenize + minhash + checkpoint).
    val sigs = timed("signatures+checkpoint") {
      Dedup.minhashBands(spark, sfDir).localCheckpoint()
    }
    System.err.println(s"[optprobe] docs=${sigs.count()}")
    // Stage 2: candidate pairs only (no confirm).
    val t = timed("full q_neardup_pairs-like pipeline (noop)") {
      Dedup.queries("q_neardup_lsh")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    // Candidate cardinality via the public graded key's internals: count
    // exploded band collisions and post-prune candidates.
    val n = timed("candidate count") {
      val s2 = sigs.where(size(col("toks")) > 0).localCheckpoint()
      val e = s2.select(col("doc_id"), size(col("toks")).as("__n"),
        posexplode(col("bands")).as(Seq("bi", "bh")))
      e.alias("a").join(e.alias("b"),
          col("a.bi") === col("b.bi") && col("a.bh") === col("b.bh") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(count(lit(1)).as("collisions"),
          sum(when(col("a.bi") === 0, 1L).otherwise(0L)).as("approx"))
        .collect()(0)
    }
    System.err.println(s"[optprobe] band collision rows=${n.getLong(0)}")
    val conf = timed("confirmed count") {
      Dedup.queries("q_neardup_lsh")(spark, sfDir).count()
    }
    System.err.println(s"[optprobe] confirmed pairs=$conf")
    // Unique candidate pairs surviving first-match + size prune (the
    // population the confirm kernel actually scans).
    val uniq = timed("unique candidate count") {
      val s2 = sigs.where(size(col("toks")) > 0).localCheckpoint()
      Dedup.bandedCandidates(s2, "doc_id", "bands", Dedup.Broadcast,
        Nil, sizePrune = Some((size(col("toks")), 9, 10))).count()
    }
    System.err.println(s"[optprobe] unique candidates=$uniq (confirm pass rate=${conf.toDouble / uniq})")
    // Components loop: per-round timing (copy of nearDupComponents with
    // stderr instrumentation — measurement only).
    timed("components total") {
      val pairs = Dedup.lshNearDupPairs(Dedup.minhashBands(spark, sfDir),
        "toks", 9, 10, 0.9, Dedup.Auto()).select(col("doc_a"), col("doc_b"))
      val edges = timed("  edges ckpt") {
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
          .localCheckpoint()
      }
      var labels = timed("  round0 ckpt") {
        edges.groupBy(col("src"))
          .agg(least(col("src"), min(col("dst"))).as("component"))
          .select(col("src").as("doc_id"), col("component"))
          .localCheckpoint()
      }
      var frontier = labels
      var it = 0
      var converged = false
      while (it < 30 && !converged) {
        val next = timed(s"  round${it + 1} ckpt") {
          Dedup.componentsRound(edges, labels, merge = false, frontier).localCheckpoint()
        }
        converged = timed(s"  round${it + 1} movedcheck") {
          next.where(col("__moved")).limit(1).count() == 0
        }
        frontier = next.where(col("__changed")).select(col("doc_id"), col("component"))
        labels = next.drop("__moved", "__changed")
        it += 1
      }
      System.err.println(s"[optprobe] components rounds=$it labels=${labels.count()}")
    }
    spark.stop()
  }
}
