package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming checkpoint file manager [[Streams.sessionConf]] installs:
  * Spark's FileSystem-based manager on local paths, Spark's own choice on
  * every other scheme.
  *
  * Spark's default, the FileContext-based manager, is there for HDFS,
  * whose `FileContext.rename` is atomic. On `file:` it is not: Hadoop's
  * `LocalFs` rename checks the destination and then renames, exactly as
  * the FileSystem-based manager does, which also refuses an existing
  * destination on a no-overwrite write. So local paths lose no guarantee,
  * and they skip FileContext's permission and status calls, each a
  * spawned shell command when Hadoop's native library is not loaded.
  * Spark builds this class by reflection from `(Path, Configuration)`
  * for the offsets and commits logs, the file sink's `_spark_metadata`
  * log and the RocksDB state store's uploads.
  */
class CheckpointFiles(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {
  private[graft] val delegate: CheckpointFileManager =
    if (path.getFileSystem(hadoopConf).isInstanceOf[LocalFileSystem])
      new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    else {
      // Spark's choice for this scheme; unsetting the key stops it from
      // building this class again.
      val conf = new Configuration(hadoopConf)
      conf.unset(CheckpointFiles.ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def list(p: Path): Array[FileStatus] = delegate.list(p)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object CheckpointFiles {
  /** The session (and Hadoop) key Spark reads the manager class from. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"
}
