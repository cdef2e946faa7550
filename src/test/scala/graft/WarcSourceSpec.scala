package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import graft.engine.Containers
import graft.streaming.Streams

/** The `graft-warc` batch DSv2 connector (graft.sources.WarcDataSource):
  * round trip vs the array-based parser, column pruning reaching the
  * scan, reported statistics, strict-failure semantics, and the oracle
  * Content-Length constants `q_warc_source` hardcodes.
  */
class WarcSourceSpec extends AnyFunSuite {
  private lazy val spark = Streams.sessionConf(TestSpark.spark)

  private def writeShard(dir: java.io.File, shard: Int, ids: Seq[Long]): Array[Byte] = {
    val bytes = Containers.warcShardBytes(ids) // the production shard layout
    java.nio.file.Files.write(
      new java.io.File(dir, f"shard-$shard%03d.warc.gz").toPath, bytes)
    bytes
  }

  test("oracle Content-Length constants match the writer through the parser") {
    assert(Containers.warcResponseContentOverhead == 65)
    assert(Containers.warcInfoContentLen == 17)
  }

  test("connector rows match the array-based parse, bodies byte-exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-warcsrc").toFile
    val byShard = Map(0 -> Seq(2L, 6L), 1 -> Seq(3L))
    val rawByShard = byShard.map { case (s, ids) => s -> writeShard(dir, s, ids) }

    val got = spark.read.format("graft-warc").load(dir.toString)
      .select("path", "member_index", "warc_type", "content_length", "body")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3),
        Option(r.getAs[Array[Byte]](4)).map(_.toSeq)))
      .toSeq

    val expected = rawByShard.toSeq.flatMap { case (shard, raw) =>
      val members = Containers.parseGzipMembersData(raw).get
      members.zipWithIndex.map { case (m, i) =>
        val span = Containers.parseWarcSpans(m).get.head
        val body =
          if (span.bodyOff < 0) None
          else Some(java.util.Arrays.copyOfRange(m, span.bodyOff,
            span.bodyOff + span.bodyLen).toSeq)
        (new java.io.File(dir, f"shard-$shard%03d.warc.gz").toURI.toString
          .replaceAll("/$", ""), i, span.warcType, span.contentLength, body)
      }
    }
    // Paths differ in scheme rendering (file: vs file:///); compare by
    // file name + the rest of the tuple.
    def key(t: (String, Int, String, Long, Option[Seq[Byte]])) =
      (t._1.substring(t._1.lastIndexOf('/') + 1), t._2, t._3, t._4, t._5)
    assert(got.map(key).sortBy(t => (t._1, t._2)) ==
      expected.map(key).sortBy(t => (t._1, t._2)))
    assert(got.exists(_._5.isEmpty)) // warcinfo rows carry NULL body
  }

  test("column pruning reaches the scan; statistics report real bytes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-warcprune").toFile
    writeShard(dir, 0, Seq(1L, 4L, 9L))
    writeShard(dir, 1, Seq(8L))
    val totalBytes = dir.listFiles().map(_.length()).sum

    val df = spark.read.format("graft-warc").load(dir.toString)
    val pruned = df.groupBy("warc_type").count()
    // sparkPlan, not executedPlan: AQE wraps the executed tree in an
    // AdaptiveSparkPlanExec whose children aren't visible to collect
    // until execution.
    val scans = pruned.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b.scan.readSchema().fieldNames.toSeq
    }
    assert(scans == Seq(Seq("warc_type"))) // body/path/... pruned away
    // The full-width relation reports sizeInBytes = sum of file lengths.
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes == BigInt(totalBytes))
    // Pruned results still correct.
    val counts = pruned.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expectedResponses = Seq(1L, 4L, 9L, 8L).map(id => 1 + id % 3).sum
    val expectedInfo = Seq(1L, 4L, 9L, 8L).count(_ % 2 == 0)
    assert(counts("response") == expectedResponses)
    assert(counts("warcinfo") == expectedInfo.toLong)
  }

  test("a shipped reader factory carries a broadcast handle, not the Hadoop conf, and reads") {
    import graft.sources.{WarcInputPartition, WarcTable}
    val dir = java.nio.file.Files.createTempDirectory("graft-warcship").toFile
    writeShard(dir, 0, Seq(2L, 6L))
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", dir.toString))
    val factory = new WarcTable(opts).newScanBuilder(opts).build().toBatch.createReaderFactory()
    // The whole conf serializes to ~110 KB; a task must not carry it.
    val n = TestSpark.javaBytes(factory).length
    assert(n < 4096, s"reader factory serializes to $n bytes")
    val reader = TestSpark.javaRoundTrip(factory).createReader(
      WarcInputPartition(new java.io.File(dir, "shard-000.warc.gz").toURI.toString))
    try assert(reader.next()) finally reader.close()
  }

  test("a corrupt shard fails the read loudly (tables never drop rows)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-warcbad").toFile
    writeShard(dir, 0, Seq(5L))
    val good = writeShard(dir, 1, Seq(7L))
    val bad = good.clone()
    bad(bad.length / 2) = (bad(bad.length / 2) ^ 0x41).toByte // corrupt mid-stream
    java.nio.file.Files.write(new java.io.File(dir, "shard-002.warc.gz").toPath, bad)
    val e = intercept[Exception] {
      spark.read.format("graft-warc").load(dir.toString).count()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(e).exists(c => String.valueOf(c.getMessage).contains("mismatch") ||
      String.valueOf(c.getMessage).contains("corrupt") ||
      String.valueOf(c.getMessage).contains("truncated")))
  }

  test("streaming member reader handles multi-block members and optional header fields") {
    // A member big enough for several stored-deflate blocks + FNAME/FHCRC
    // members, concatenated — all through the PushbackInputStream walk.
    val big = Array.tabulate[Byte](200000)(i => ((i * 31 + 7) % 256).toByte)
    val doc = Containers.gzipMember(big, Some("big.bin")) ++
      Containers.gzipMember("tail".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val in = new java.io.PushbackInputStream(
      new java.io.ByteArrayInputStream(doc), 1 << 13)
    val m1 = graft.sources.WarcSource.readGzipMember(in).get
    assert(java.util.Arrays.equals(m1, big))
    val m2 = graft.sources.WarcSource.readGzipMember(in).get
    assert(new String(m2, java.nio.charset.StandardCharsets.US_ASCII) == "tail")
    assert(graft.sources.WarcSource.readGzipMember(in).isEmpty) // clean EOF
  }

  test("byteSum expression equals the JVM fold, null-propagates") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Array[Byte](1, 2, (-1).toByte))),
      (2L, None)
    ).toDF("id", "b")
    val got = df.select(col("id"),
      graft.functions.GraftExpressions.byteSum(col("b")).as("s"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got(1L) == 1 + 2 + 255)
    assert(got(2L) == -1L) // null in, null out
  }
}
