package graft.tools


/** Materialize a ScaleSmoke ×N mirror to parquet WITHOUT running the
  * smoke keys — the input surface for the scaled-mirror correctness gate
  * (round-11 verdict item #1: the oracle HASH had only ever been checked
  * at sf0.01/sf0.1 partition counts; a ×10 mirror of sf0.1 ≈ sf1 is the
  * first hash-grade at production-like partition counts, catching any
  * summation-order / tie-break nondeterminism that only appears once
  * every aggregate spans many more partitions).
  *
  * The synthesized tables use [[ScaleSmoke.synthesize]] verbatim, so the
  * disjointness invariants (documents letter-rotation, part brand
  * suffix, key stride) are exactly the measured-smoke ones; Verify can
  * then run any `SparkEntry.queries` key against the mirror dir, and
  * tools/compare.py pointed at the SAME dir gives DuckDB the identical
  * input — a full engine-vs-oracle hash gate at ×N scale.
  *
  * Run: MIRROR_SRC (default /root/testdata/sf0.1), MIRROR_FACTOR
  * (default 10), MIRROR_OUT (default target/mirror_x10), MIRROR_TABLES
  * (comma list; default all — the fifth-decade gate restricts to the
  * relational tables its money-aggregate keys read), MIRROR_SINGLE_DIMS
  * (=1 writes nation/region once instead of ×N — the TPC-H-shaped
  * growth profile; see ScaleSmoke.synthesize).
  */
object MakeMirror {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("MIRROR_SRC", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("MIRROR_FACTOR", "10").toInt
    val out = sys.env.getOrElse("MIRROR_OUT", "target/mirror_x10")
    val singleDims = sys.env.get("MIRROR_SINGLE_DIMS").contains("1")
    // "shift" (historical additive, factor ≤ 97 for embeddings) or
    // "signflip" (per-copy ±1 signs + disjoint labels, factor ≤ 1000) —
    // see ScaleSmoke.signPattern.
    val vectorMode = sys.env.getOrElse("MIRROR_VECTOR_MODE", "shift")
    val tables = sys.env.get("MIRROR_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(ScaleSmoke.keyCols.keys.toSet)
    val spark = graft.Sessions.local(32)
    ScaleSmoke.synthesize(spark, src, out, factor, tables, singleDims, vectorMode)
    println(s"""{"mirror":${graft.Verify.jsonString(out)},"src":${graft.Verify.jsonString(src)},"factor":$factor,""" +
      s""""singleDims":$singleDims,"vectorMode":"$vectorMode"}""")
    spark.stop()
  }
}
