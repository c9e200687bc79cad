package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

/** Streaming checkpoint I/O for `file:` paths that forks no process.
  *
  * Spark's default manager goes through Hadoop `FileContext`, which
  * without Hadoop's native library forks `chmod` for every create and
  * mkdir and `readlink` four times per rename (~3 ms each): over 100
  * forks per q92 drain, spread over the offset and commit logs, the
  * state-store files and the state-schema and operator-metadata files.
  * On `file:` this manager keeps Spark's on-disk contract — rename-based
  * `createAtomic`, `FileAlreadyExistsException` when overwrite is not
  * allowed, `.crc` sidecars (`LocalFileSystem`), permission bits of
  * `0666`/`0777` under the conf's umask — and sets those bits with a
  * syscall (`java.nio`) instead of a forked `chmod`. Every other scheme
  * gets Spark's default manager, unchanged.
  *
  * Selected per stream by `spark.sql.streaming.checkpointFileManagerClass`
  * (see [[EventStreams.drain]]). */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private[graft] val underlying: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new OnLocalFs(path, hadoopConf)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(ClassKey)
      CheckpointFileManager.create(path, conf)
    }
  }

  def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  def open(p: Path): FSDataInputStream = underlying.open(p)
  def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  def exists(p: Path): Boolean = underlying.exists(p)
  def delete(p: Path): Unit = underlying.delete(p)
  def isLocal: Boolean = underlying.isLocal
  def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Spark's `FileSystem`-based manager over a checksummed local file
    * system whose permission calls are syscalls. Directories get the
    * umasked default, as `FileContext.mkdir` gives them. */
  private final class OnLocalFs(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override protected val fs: FileSystem = {
      val local = new LocalFileSystem(new NioPermissions)
      local.initialize(java.net.URI.create("file:///"), conf)
      local
    }
    private val dirPermission = FsPermission.getDirDefault.applyUMask(FsPermission.getUMask(conf))

    override def mkdirs(p: Path): Unit = { fs.mkdirs(p, dirPermission); () }
    override def createCheckpointDirectory(): Path = {
      val qualified = fs.makeQualified(path)
      fs.mkdirs(qualified, dirPermission)
      qualified
    }
  }

  private final class NioPermissions extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort & 0x1ff
      val perms = new java.util.HashSet[PosixFilePermission]()
      // PosixFilePermission's order is the mode's bit order, 0400 down to 0001
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((bits & (0x100 >> i)) != 0) perms.add(perm)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      ()
    }
  }
}
