package graft.sources

import java.io.{BufferedInputStream, EOFException, IOException, PushbackInputStream}
import java.util.{Collections => JCollections, OptionalLong}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.Containers
import graft.streaming.SerializableHadoopConf

/** `graft-warc` — a batch DataSourceV2 connector that reads a directory
  * of `.warc.gz` crawl shards as a first-class table, one row per WARC
  * record:
  *
  *   `spark.read.format("graft-warc").load(dir)`
  *   → path STRING, member_index INT, warc_type STRING,
  *     content_length LONG, body BINARY (HTTP response body; NULL for
  *     non-response records)
  *
  * Why a connector and not `binaryFile` + a map (the batch
  * `q_container_shards` shape): the connector is the form a LIBRARY
  * user wants — the crawl becomes a table that joins/filters/aggregates
  * like any other — and it carries the two planner surfaces the ad-hoc
  * shape cannot:
  *
  *  - COLUMN PRUNING (`SupportsPushDownRequiredColumns`): a metadata
  *    query (`SELECT warc_type, count(*) ...`) never materializes body
  *    bytes into rows — the reader checks the pruned schema before
  *    copying the body slice. (Members are still inflated: record
  *    boundaries and the CRC/ISIZE verification require the bytes; the
  *    saving is row width, shuffle volume, and the body copy.)
  *  - STATISTICS (`SupportsReportStatistics`): sizeInBytes = Σ file
  *    lengths, so AQE and the join planner see a real size instead of
  *    "unknown = huge".
  *
  * Scale shape (100 TB crawl): the driver only LISTS the directory
  * (O(files) metadata); one InputPartition per shard file; every byte is
  * read EXECUTOR-side through the Hadoop FS API (HDFS/S3 paths work),
  * STREAMED member-by-member — memory is O(largest record), not O(file),
  * so multi-GB shards flow through fixed-size task memory. Per-record
  * gzip members (the Common Crawl convention) are exactly what makes the
  * walk record-granular. The driver's Hadoop conf is captured once at
  * scan build (copied — later mutations cannot leak) and broadcast to the
  * executors once per reader factory ([[SerializableHadoopConf]]), so a
  * task carries only the broadcast handle.
  *
  * Strictness: the connector verifies every gzip member (strict RFC 1952
  * header, CRC-32 + ISIZE trailer) and every WARC record (one record per
  * member, Content-Length cross-checks) and THROWS with file + member
  * context on violation — a TABLE must not silently drop rows; tolerant
  * quarantine belongs to the ingest layer
  * (`Streams.shardIngestStream`'s corrupt-shard sentinel).
  */
class WarcDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-warc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WarcSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new WarcTable(new CaseInsensitiveStringMap(properties))
}

object WarcSource {
  val schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("member_index", IntegerType, nullable = false),
    StructField("warc_type", StringType, nullable = false),
    StructField("content_length", LongType, nullable = false),
    StructField("body", BinaryType, nullable = true)))

  /** Reads ONE gzip member off `in` (strict RFC 1952 — the same
    * contract as Containers.walkGzipMembers, restated over a stream):
    * None at clean EOF before any header byte; any structural violation
    * or truncation throws IOException. Bytes the Inflater buffered past
    * the deflate stream are pushed back so the next member (or the
    * trailer) reads from the right position — memory stays O(member).
    */
  def readGzipMember(in: PushbackInputStream): Option[Array[Byte]] = {
    val first = in.read()
    if (first < 0) return None
    val hdr = new java.io.ByteArrayOutputStream() // retained for FHCRC
    def r(): Int = {
      val v = in.read()
      if (v < 0) throw new EOFException("truncated gzip header")
      hdr.write(v); v
    }
    hdr.write(first)
    if (first != 0x1f || r() != 0x8b) throw new IOException("bad gzip magic")
    if (r() != 8) throw new IOException("unsupported gzip CM")
    val flg = r()
    if ((flg & 0xe0) != 0) throw new IOException("reserved gzip FLG bits set")
    var i = 0
    while (i < 6) { r(); i += 1 } // MTIME, XFL, OS
    if ((flg & 4) != 0) { // FEXTRA
      val xlen = r() | (r() << 8)
      var j = 0
      while (j < xlen) { r(); j += 1 }
    }
    if ((flg & 8) != 0) { var v = r(); while (v != 0) v = r() } // FNAME
    if ((flg & 16) != 0) { var v = r(); while (v != 0) v = r() } // FCOMMENT
    if ((flg & 2) != 0) { // FHCRC over the header bytes so far
      val full = hdr.toByteArray
      val c = new java.util.zip.CRC32()
      c.update(full, 0, full.length)
      val stored = {
        val a = in.read(); val b = in.read()
        if (a < 0 || b < 0) throw new EOFException("truncated FHCRC")
        a | (b << 8)
      }
      if ((c.getValue & 0xffffL).toInt != stored)
        throw new IOException("gzip FHCRC mismatch")
    }
    val inf = new java.util.zip.Inflater(true)
    try {
      val acc = new java.io.ByteArrayOutputStream()
      val inBuf = new Array[Byte](8192)
      val outBuf = new Array[Byte](8192)
      var inLen = 0
      while (!inf.finished()) {
        if (inf.needsInput()) {
          inLen = in.read(inBuf)
          if (inLen < 0) throw new EOFException("truncated gzip deflate stream")
          inf.setInput(inBuf, 0, inLen)
        }
        val n =
          try inf.inflate(outBuf)
          catch { case e: java.util.zip.DataFormatException =>
            throw new IOException(s"corrupt deflate data: ${e.getMessage}") }
        if (n > 0) {
          acc.write(outBuf, 0, n)
          if (acc.size() > Containers.ZipUsizeCap)
            throw new IOException("gzip member exceeds the decompression cap")
        } else if (inf.needsDictionary()) {
          throw new IOException("gzip cannot require a preset dictionary")
        }
      }
      // Push back what the Inflater buffered beyond the deflate stream.
      val rem = inf.getRemaining
      if (rem > 0) in.unread(inBuf, inLen - rem, rem)
      val data = acc.toByteArray
      val trailer = new Array[Byte](8)
      var off = 0
      while (off < 8) {
        val n = in.read(trailer, off, 8 - off)
        if (n < 0) throw new EOFException("truncated gzip trailer")
        off += n
      }
      def le32(o: Int): Long =
        (trailer(o) & 0xffL) | ((trailer(o + 1) & 0xffL) << 8) |
          ((trailer(o + 2) & 0xffL) << 16) | ((trailer(o + 3) & 0xffL) << 24)
      val crc = new java.util.zip.CRC32()
      crc.update(data)
      if (le32(0) != crc.getValue) throw new IOException("gzip CRC-32 mismatch")
      if (le32(4) != (data.length.toLong & 0xffffffffL))
        throw new IOException("gzip ISIZE mismatch")
      Some(data)
    } finally inf.end()
  }
}

class WarcTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  private val path = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft-warc requires option 'path'")
    p
  }
  override def name(): String = s"graft-warc:$path"
  override def schema(): StructType = WarcSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    JCollections.singleton(TableCapability.BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new WarcScanBuilder(path, SerializableHadoopConf.capture("graft-warc"))
}

class WarcScanBuilder(path: String, conf: SerializableHadoopConf)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = WarcSource.schema
  override def pruneColumns(requiredSchema: StructType): Unit = {
    // Catalyst hands back a subset of schema() in table-column order.
    required = requiredSchema
  }
  override def build(): Scan = new WarcScan(path, required, conf)
}

class WarcScan(path: String, required: StructType, conf: SerializableHadoopConf)
    extends Scan with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def description(): String =
    s"graft-warc $path [${required.fieldNames.mkString(", ")}]"

  /** Driver-side listing: names + sizes only, never content. */
  private lazy val files: Seq[(String, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf.value)
    val stats = fs.globStatus(new Path(p, "*.warc.gz"))
    if (stats == null) Seq.empty
    else stats.toSeq.filter(_.isFile)
      .map(s => (s.getPath.toString, s.getLen)).sortBy(_._1)
  }

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      files.map { case (f, _) => WarcInputPartition(f) }.toArray
    override def createReaderFactory(): PartitionReaderFactory =
      WarcReaderFactory(required, SerializableHadoopConf.broadcast(conf, "graft-warc"))
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = OptionalLong.of(files.map(_._2).sum)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }
}

case class WarcInputPartition(file: String) extends InputPartition

case class WarcReaderFactory(required: StructType, conf: Broadcast[SerializableHadoopConf])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new WarcPartitionReader(
      partition.asInstanceOf[WarcInputPartition].file, required, conf.value.value)
}

/** Streams one shard file member-by-member: each gzip member is
  * inflated (O(member) memory), must parse as exactly one WARC record,
  * and yields one row holding only the PRUNED columns — the body slice
  * is copied only when the `body` column survived pruning.
  */
class WarcPartitionReader(file: String, required: StructType,
    conf: Configuration) extends PartitionReader[InternalRow] {
  private val in: PushbackInputStream = {
    val p = new Path(file)
    val fs = p.getFileSystem(conf)
    new PushbackInputStream(new BufferedInputStream(fs.open(p), 1 << 16), 1 << 13)
  }
  private val pathUtf8 = UTF8String.fromString(file)
  private var memberIndex = -1
  private var row: InternalRow = _

  override def next(): Boolean =
    WarcSource.readGzipMember(in) match {
      case None => false
      case Some(member) =>
        memberIndex += 1
        val span = Containers.parseWarcSpans(member) match {
          case Some(Seq(one)) => one
          case _ => throw new IOException(
            s"$file member $memberIndex is not exactly one valid WARC record")
        }
        val values = required.fieldNames.map {
          case "path" => pathUtf8
          case "member_index" => memberIndex
          case "warc_type" => UTF8String.fromString(span.warcType)
          case "content_length" => span.contentLength
          case "body" =>
            // Only reachable when "body" survived pruning — the map is
            // over the PRUNED field list, which is what skips the copy.
            if (span.bodyOff < 0) null
            else java.util.Arrays.copyOfRange(member, span.bodyOff,
              span.bodyOff + span.bodyLen)
          case other => throw new IllegalStateException(s"unknown column $other")
        }
        row = new GenericInternalRow(values.asInstanceOf[Array[Any]])
        true
    }

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}
