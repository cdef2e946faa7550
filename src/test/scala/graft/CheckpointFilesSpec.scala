package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CheckpointFiles, Streams}

/** A non-local scheme for the spec: a FileSystem that is not a
  * LocalFileSystem, with a FileContext binding, so Spark's default
  * manager for it is the FileContext-based one.
  */
class GraftRemoteFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftremote:///")
  override def getScheme: String = "graftremote"
}

class GraftRemoteAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRemoteFs, conf, "graftremote", false)

/** [[CheckpointFiles]] — the checkpoint file manager `Streams.sessionConf`
  * installs — writes local files through `java.nio` and reads them through
  * Spark's FileSystem-based manager, takes Spark's own choice elsewhere,
  * keeps the no-overwrite guarantee under a race, never pairs new bytes
  * with a stale Hadoop `.crc`, and never replaces a manager the session
  * already names.
  */
class CheckpointFilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def hadoopConf: Configuration = spark.sessionState.newHadoopConf()

  private def tempFiles(dir: java.nio.file.Path): Seq[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".tmp")).toSeq

  test("a local checkpoint path resolves to the FileSystem-based manager") {
    val dir = new Path(Files.createTempDirectory("graft-cf").toUri)
    // The session conf reaches the Hadoop conf Spark builds managers from.
    val fm = CheckpointFileManager.create(dir, hadoopConf)
    assert(fm.isInstanceOf[CheckpointFiles], fm.getClass.getName)
    val delegate = fm.asInstanceOf[CheckpointFiles].delegate
    assert(delegate.getClass == classOf[FileSystemBasedCheckpointFileManager],
      delegate.getClass.getName)
    // A scheme-less path resolves against the local default filesystem too.
    val bare = new Path(Files.createTempDirectory("graft-cf").toString)
    assert(new CheckpointFiles(bare, hadoopConf).delegate
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  test("a local checkpoint path writes through java.nio and reads through the FileSystem API") {
    val dir = new Path(Files.createTempDirectory("graft-cf").toUri)
    val fm = CheckpointFileManager.create(dir, hadoopConf)
    val out = fm.createAtomic(new Path(dir, "0"), overwriteIfPossible = false)
    assert(out.isInstanceOf[CheckpointFiles.LocalAtomicStream], out.getClass.getName)
    out.write("v1".getBytes(UTF_8))
    out.close()
    val in = fm.open(new Path(dir, "0"))
    try assert(new String(in.readAllBytes(), UTF_8) == "v1") finally in.close()
  }

  test("a non-local checkpoint path gets exactly Spark's default manager") {
    val conf = hadoopConf
    conf.set("fs.graftremote.impl", classOf[GraftRemoteFs].getName)
    conf.set("fs.AbstractFileSystem.graftremote.impl", classOf[GraftRemoteAfs].getName)
    val path = new Path("graftremote:///tmp/graft-cf-remote")
    val default = {
      val c = new Configuration(conf)
      c.unset(CheckpointFiles.ConfKey)
      CheckpointFileManager.create(path, c)
    }
    val delegate = new CheckpointFiles(path, conf).delegate
    assert(delegate.getClass == default.getClass,
      s"${delegate.getClass.getName} vs ${default.getClass.getName}")
    assert(!delegate.isInstanceOf[FileSystemBasedCheckpointFileManager],
      s"the remote scheme took the local branch: ${delegate.getClass.getName}")
  }

  test("a no-overwrite atomic write onto an existing file fails and keeps it") {
    val dir = Files.createTempDirectory("graft-cf")
    val existing = dir.resolve("0")
    Files.write(existing, "old".getBytes(UTF_8))
    val fm = new CheckpointFiles(new Path(dir.toUri), hadoopConf)
    val out = fm.createAtomic(new Path(existing.toUri), overwriteIfPossible = false)
    out.write("new".getBytes(UTF_8))
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](out.close())
    assert(new String(Files.readAllBytes(existing), UTF_8) == "old")
    assert(tempFiles(dir).isEmpty, tempFiles(dir))
  }

  test("two writers racing a no-overwrite write to one name: exactly one wins, intact") {
    val dir = Files.createTempDirectory("graft-cf-race")
    val fm = new CheckpointFiles(new Path(dir.toUri), hadoopConf)
    val pool = Executors.newFixedThreadPool(2)
    try {
      for (round <- 0 until 20) {
        val name = new Path(dir.resolve(round.toString).toUri)
        // Each writer's bytes are one repeated letter, 256 KiB: several
        // buffer flushes, so a torn or mixed file would show.
        val payloads = Seq('a', 'b').map(c => Array.fill[Byte](1 << 18)(c.toByte))
        val outs = payloads.map { bytes =>
          val out = fm.createAtomic(name, overwriteIfPossible = false)
          out.write(bytes)
          out
        }
        val start = new CyclicBarrier(2)
        val closes = outs.map { out =>
          pool.submit(new Callable[Option[Throwable]] {
            def call(): Option[Throwable] = {
              start.await()
              try { out.close(); None } catch { case e: Throwable => Some(e) }
            }
          })
        }.map(_.get(60, TimeUnit.SECONDS))
        val winners = closes.zipWithIndex.collect { case (None, i) => i }
        assert(winners.size == 1, s"round $round: $closes")
        val loser = closes(1 - winners.head).get
        assert(loser.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException],
          s"round $round: $loser")
        assert(java.util.Arrays.equals(Files.readAllBytes(dir.resolve(round.toString)),
          payloads(winners.head)), s"round $round: the file is not the winner's bytes")
        assert(tempFiles(dir).isEmpty, s"round $round: ${tempFiles(dir)}")
      }
    } finally pool.shutdownNow()
  }

  test("an overwrite replaces a file written through LocalFileSystem and drops its .crc") {
    val dir = Files.createTempDirectory("graft-cf-crc")
    val name = new Path(dir.resolve("metadata").toUri)
    val fs = name.getFileSystem(hadoopConf)
    val old = fs.create(name, true)
    try old.write(Array.fill[Byte](2000)('o'.toByte)) finally old.close()
    assert(Files.exists(dir.resolve(".metadata.crc")), "LocalFileSystem wrote no .crc")
    val fm = new CheckpointFiles(new Path(dir.toUri), hadoopConf)
    val fresh = Array.fill[Byte](3000)('n'.toByte)
    val out = fm.createAtomic(name, overwriteIfPossible = true)
    out.write(fresh)
    out.close()
    assert(!Files.exists(dir.resolve(".metadata.crc")), "the stale .crc survived")
    // A stale .crc would make this read throw ChecksumException.
    val in = fm.open(name)
    try assert(java.util.Arrays.equals(in.readAllBytes(), fresh)) finally in.close()
    assert(tempFiles(dir).isEmpty, tempFiles(dir))
  }

  test("a no-overwrite write onto a name whose file is gone drops its orphaned .crc") {
    val dir = Files.createTempDirectory("graft-cf-orphan")
    val name = new Path(dir.resolve("7").toUri)
    val fs = name.getFileSystem(hadoopConf)
    val old = fs.create(name, true)
    try old.write(Array.fill[Byte](2000)('o'.toByte)) finally old.close()
    Files.delete(dir.resolve("7"))
    assert(Files.exists(dir.resolve(".7.crc")))
    val fm = new CheckpointFiles(new Path(dir.toUri), hadoopConf)
    val fresh = Array.fill[Byte](3000)('n'.toByte)
    val out = fm.createAtomic(name, overwriteIfPossible = false)
    out.write(fresh)
    out.close()
    val in = fm.open(name)
    try assert(java.util.Arrays.equals(in.readAllBytes(), fresh)) finally in.close()
  }

  test("cancel leaves no file behind") {
    val dir = Files.createTempDirectory("graft-cf-cancel")
    val fm = new CheckpointFiles(new Path(dir.toUri), hadoopConf)
    for (overwrite <- Seq(false, true)) {
      val out = fm.createAtomic(new Path(dir.resolve("1").toUri), overwriteIfPossible = overwrite)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      out.close() // a close after cancel publishes nothing
      assert(Files.list(dir).iterator().asScala.isEmpty,
        s"overwrite=$overwrite: ${Files.list(dir).iterator().asScala.toList}")
    }
  }

  test("sessionConf keeps a checkpoint manager the session already names") {
    val own = classOf[FileSystemBasedCheckpointFileManager].getName
    val preset = spark.newSession()
    preset.conf.set(CheckpointFiles.ConfKey, own)
    assert(Streams.sessionConf(preset).conf.get(CheckpointFiles.ConfKey) == own)
    val fresh = Streams.sessionConf(spark.newSession())
    assert(fresh.conf.get(CheckpointFiles.ConfKey) == classOf[CheckpointFiles].getName)
  }

  test("sessionConf turns on changelog checkpointing unless the session sets it") {
    val key = Streams.ChangelogCheckpointingKey
    val preset = spark.newSession()
    preset.conf.set(key, "false")
    assert(Streams.sessionConf(preset).conf.get(key) == "false")
    assert(Streams.sessionConf(spark.newSession()).conf.get(key) == "true")
  }
}
