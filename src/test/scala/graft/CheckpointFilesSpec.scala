package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

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
  * installs — picks Spark's FileSystem-based manager on local paths and
  * Spark's own choice elsewhere, keeps the no-overwrite guarantee, and
  * never replaces a manager the session already names.
  */
class CheckpointFilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def hadoopConf: Configuration = spark.sessionState.newHadoopConf()

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
  }

  test("sessionConf keeps a checkpoint manager the session already names") {
    val own = classOf[FileSystemBasedCheckpointFileManager].getName
    val preset = spark.newSession()
    preset.conf.set(CheckpointFiles.ConfKey, own)
    assert(Streams.sessionConf(preset).conf.get(CheckpointFiles.ConfKey) == own)
    val fresh = Streams.sessionConf(spark.newSession())
    assert(fresh.conf.get(CheckpointFiles.ConfKey) == classOf[CheckpointFiles].getName)
  }
}
