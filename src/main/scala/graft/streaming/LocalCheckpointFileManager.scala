package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Streaming checkpoint files on `file:` paths without a process per
  * metadata operation.
  *
  * Without the native Hadoop library, Hadoop's local filesystem starts a
  * process for file metadata: `RawLocalFileSystem.setPermission` runs
  * `chmod` on every file create and mkdir, and a `FileContext` rename with
  * OVERWRITE runs `readlink`/`ls` several times. Spark's default manager
  * (FileContext-based) goes through exactly these calls: on a 4-core
  * host each 100 B checkpoint file cost 11–14 ms and ~7 kB of spawn
  * pipes, and an overwriting rename 24–41 ms, against 0.14 ms for the
  * plain write.
  *
  * For a `file:` path this manager is Spark's FileSystem-based manager
  * (write a temp file, then POSIX `rename(2)`, which overwrites
  * atomically) over a RawLocalFileSystem that sets the same mode bits
  * in-process. It writes no Hadoop `.crc` sidecars; Spark's own checksum
  * manager, which wraps this one for state-store files, still does. A
  * checkpoint begun under Spark's default manager resumes under this one
  * (CrashRestartSpec). Any other scheme (cluster storage) gets Spark's
  * default manager unchanged. */
class LocalCheckpointFileManager(root: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  /** The manager every call goes to. */
  val underlying: CheckpointFileManager =
    if (isLocalFile(root, hadoopConf))
      new FileSystemBasedCheckpointFileManager(root,
        withConf(hadoopConf)(c => {
          c.set("fs.file.impl", classOf[InProcessChmodFileSystem].getName)
          // A private instance: the JVM-wide cached `file:` filesystem
          // stays Hadoop's own.
          c.setBoolean("fs.file.impl.disable.cache", true)
        }))
    else CheckpointFileManager.create(root,
      withConf(hadoopConf)(_.unset(ClassKey)))

  override def createAtomic(path: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    underlying.createAtomic(path, overwriteIfPossible)
  override def open(path: Path) = underlying.open(path)
  override def list(path: Path, filter: PathFilter) =
    underlying.list(path, filter)
  override def mkdirs(path: Path): Unit = underlying.mkdirs(path)
  override def exists(path: Path): Boolean = underlying.exists(path)
  override def delete(path: Path): Unit = underlying.delete(path)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path =
    underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {
  /** The Spark conf (and Hadoop conf) key that names the manager class
    * `CheckpointFileManager.create` instantiates. */
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** True when `path` resolves to the local filesystem: scheme `file`, or
    * no scheme under a `file:` default filesystem. */
  def isLocalFile(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  private def withConf(conf: Configuration)(f: Configuration => Unit)
      : Configuration = {
    val c = new Configuration(conf)
    f(c)
    c
  }
}

/** Hadoop's RawLocalFileSystem with `setPermission` done in-process through
  * `Files.setPosixFilePermissions` instead of a `chmod` process. The mode
  * bits are the ones Hadoop asks for (umasked by Hadoop, as before). A
  * sticky bit, which java.nio cannot set, or a non-POSIX filesystem falls
  * back to Hadoop's own path. */
class InProcessChmodFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))
    catch {
      case _: UnsupportedOperationException =>
        super.setPermission(p, permission)
    }
}
