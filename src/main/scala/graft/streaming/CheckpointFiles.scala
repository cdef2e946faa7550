package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption, Path => NioPath}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, LocalFileSystem,
  Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming checkpoint file manager [[Streams.sessionConf]] installs:
  * on local paths, Spark's FileSystem-based manager for reads, listings
  * and deletes, and atomic writes through `java.nio`; on every other
  * scheme, Spark's own choice.
  *
  * Spark's default, the FileContext-based manager, is there for HDFS,
  * whose `FileContext.rename` is atomic. On `file:` neither Hadoop path
  * is: `LocalFs` and `LocalFileSystem` both check the destination and
  * then rename. Both also set the permission of each new file and of its
  * `.crc` sibling, and without Hadoop's native library every permission
  * call is a spawned `chmod`. One atomic write cost 38–52 ms and 20 child
  * processes through FileContext, 9.6–11.5 ms and 4 through the
  * FileSystem API, and 0.1–0.3 ms and none here (4 vCPUs, Hadoop 3.4.2,
  * JDK 17).
  *
  * A write goes to `.<name>.<uuid>.tmp` in the target's directory. On
  * close, a no-overwrite write hard-links it onto the name, which fails
  * atomically when the name exists: the loser of a race gets Hadoop's
  * `FileAlreadyExistsException`, the class Spark's metadata logs catch,
  * and the winner's bytes stay. An overwrite renames atomically over the
  * name. Either way the name's Hadoop `.crc` sibling, if any, is deleted
  * first, so no reader pairs new bytes with an old checksum; a
  * no-overwrite write onto an existing name leaves it alone. The temp
  * file is always removed. Files written here carry no Hadoop `.crc`;
  * the RocksDB store's changelog and zip files keep the `<name>.crc`
  * checksum files Spark writes beside them.
  *
  * Spark builds this class by reflection from `(Path, Configuration)`
  * for the offsets and commits logs, the file source and sink logs and
  * the state stores' checkpoint files.
  */
class CheckpointFiles(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {
  private val localFs: Option[LocalFileSystem] = path.getFileSystem(hadoopConf) match {
    case fs: LocalFileSystem => Some(fs)
    case _ => None
  }

  private[graft] val delegate: CheckpointFileManager =
    if (localFs.isDefined) new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    else {
      // Spark's choice for this scheme; unsetting the key stops it from
      // building this class again.
      val conf = new Configuration(hadoopConf)
      conf.unset(CheckpointFiles.ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    localFs match {
      case Some(fs) =>
        val target = fs.pathToFile(p).toPath
        new CheckpointFiles.LocalAtomicStream(target, CheckpointFiles.tempFor(target),
          fs.pathToFile(fs.getChecksumFile(p)).toPath, overwriteIfPossible)
      case None => delegate.createAtomic(p, overwriteIfPossible)
    }
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

  /** One atomic local write onto `target` through `temp`. `crc` is the
    * target's Hadoop checksum sibling, deleted before the new bytes
    * appear under the name.
    */
  private[graft] final class LocalAtomicStream(target: NioPath, temp: NioPath, crc: NioPath,
      overwrite: Boolean)
      extends CancellableFSDataOutputStream(
        new BufferedOutputStream(Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW), 1 << 16)) {
    @volatile private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          if (overwrite) {
            Files.deleteIfExists(crc)
            Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          } else {
            // An existing name keeps its checksum; an orphaned one goes.
            if (Files.notExists(target)) Files.deleteIfExists(crc)
            try Files.createLink(target, temp)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$target already exists")
            }
          }
        } finally Files.deleteIfExists(temp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close() finally Files.deleteIfExists(temp)
      }
    }
  }

  /** `.<name>.<uuid>.tmp` next to `target`, its parent directory made. */
  private def tempFor(target: NioPath): NioPath = {
    val dir = target.getParent
    Files.createDirectories(dir)
    dir.resolve(s".${target.getFileName}.${UUID.randomUUID()}.tmp")
  }
}
