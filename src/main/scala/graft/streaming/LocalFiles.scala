package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Files the ingest path creates on `file:` paths, without a forked process
  * per file. With no libhadoop, Hadoop's local filesystem forks `chmod` to
  * set the mode of every file, `.crc` sidecar and directory it creates, and
  * Spark's default (FileContext) checkpoint file manager forks `readlink` on
  * every rename as well — about 4.5 ms a fork, paid per micro-batch by the
  * offset, commit and book logs and by both sink partitions.
  *
  * [[NoForkLocalFileSystem]] keeps Hadoop's checksummed local filesystem —
  * the same bytes, the same names (`.crc` included), the same modes — and
  * sets the modes in-process. It is applied only through [[conf]], a copy
  * of a Hadoop conf; checkpoints reach it through
  * [[LocalCheckpointFileManager]], installed by [[useCheckpointManager]]. */
object LocalFiles {

  /** The key through which Spark picks its checkpoint file manager (a SQL
    * conf, copied into every session Hadoop conf). */
  val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** A copy of `base` whose `file:` filesystem is [[NoForkLocalFileSystem]],
    * uncached: the `file:` filesystem cached under the same key would
    * otherwise be returned. */
  def conf(base: Configuration): Configuration = {
    val c = new Configuration(base)
    c.set("fs.file.impl", classOf[NoForkLocalFileSystem].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }

  /** Make [[LocalCheckpointFileManager]] the session's checkpoint file
    * manager, unless the caller has already chosen one. Streaming queries
    * copy the session conf when they start, so call this before. */
  def useCheckpointManager(spark: SparkSession): Unit =
    if (spark.conf.getOption(CheckpointManagerKey).isEmpty)
      spark.conf.set(CheckpointManagerKey,
        classOf[LocalCheckpointFileManager].getName)
}

/** Hadoop's `LocalFileSystem` (checksummed: every file gets its `.crc`) over
  * a raw local filesystem that sets modes without forking `chmod`. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` sets the same mode bits through
  * `java.nio` instead of a forked `chmod`. Modes beyond plain `rwx` (the
  * sticky bit), a store without a POSIX view, and a target that already
  * carries setuid, setgid or sticky bits (`chmod` keeps a directory's) take
  * Hadoop's own path. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    val file = pathToFile(p).toPath
    def plainNow = try
      (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00) == 0
    catch {
      case _: UnsupportedOperationException | _: IllegalArgumentException =>
        false
    }
    if ((bits & ~0x1ff) == 0 && plainNow)
      // with no sticky bit, FsPermission prints the plain "rwxr-x---" form
      Files.setPosixFilePermissions(file,
        PosixFilePermissions.fromString(permission.toString))
    else super.setPermission(p, permission)
  }
}

/** The checkpoint file manager [[LocalFiles.useCheckpointManager]] installs.
  * On a `file:` path (the scheme read from the path, else from
  * `fs.defaultFS`) it is Spark's `FileSystemBasedCheckpointFileManager` over
  * [[LocalFiles.conf]]: atomic writes by rename, as with Spark's default,
  * but without the FileContext rename's forked `readlink`, and a
  * create-only write refused by an existing file (as the offset and commit
  * logs write) removes its temp file. Any other scheme
  * gets exactly the manager `CheckpointFileManager.create` picks with no
  * manager class set. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if ("file".equalsIgnoreCase(scheme))
      new FileSystemBasedCheckpointFileManager(path,
          LocalFiles.conf(hadoopConf)) {
        // a create-only write refused because the target exists deletes
        // its temp file (and so its .crc); Spark's own leaves both behind
        override def renameTempFile(srcPath: Path, dstPath: Path,
            overwriteIfPossible: Boolean): Unit =
          try super.renameTempFile(srcPath, dstPath, overwriteIfPossible)
          catch {
            case e: FileAlreadyExistsException => delete(srcPath); throw e
          }
      }
    else {
      val c = new Configuration(hadoopConf)
      c.unset(LocalFiles.CheckpointManagerKey)
      CheckpointFileManager.create(path, c)
    }
  }

  override def createAtomic(path: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(path, overwriteIfPossible)
  override def open(path: Path) = delegate.open(path)
  override def list(path: Path, filter: PathFilter) = delegate.list(path, filter)
  override def list(path: Path) = delegate.list(path)
  override def mkdirs(path: Path): Unit = delegate.mkdirs(path)
  override def exists(path: Path): Boolean = delegate.exists(path)
  override def delete(path: Path): Unit = delegate.delete(path)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path =
    delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}
