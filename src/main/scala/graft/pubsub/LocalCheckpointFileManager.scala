package graft.pubsub

import java.io.BufferedOutputStream
import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Local-filesystem primitives shared by [[ReplayCache]] and
  * [[LocalCheckpointFileManager]]. */
private[pubsub] object LocalFiles {

  /** The scheme a path without one resolves to under `conf`. */
  def defaultScheme(conf: Configuration): String =
    FileSystem.getDefaultUri(conf).getScheme

  /** True when `p` resolves to the local filesystem: scheme `file`, or
    * no scheme while the default filesystem (`fs.defaultFS`) is local.
    * Spark passes unqualified paths too (e.g. a file sink's metadata log
    * under the user's `path`); those belong to the default filesystem. */
  def isLocal(p: Path, defaultScheme: String): Boolean =
    Option(p.toUri.getScheme).getOrElse(defaultScheme) == "file"

  def nioPath(p: Path): java.nio.file.Path = Paths.get(p.toUri.getPath)

  /** A fresh temp file name beside `target`: hidden (leading dot), and
    * tagged `.tmp-` so directory listings can skip it. */
  def tempBeside(target: java.nio.file.Path): java.nio.file.Path =
    target.resolveSibling(
      s".${target.getFileName}.tmp-${UUID.randomUUID()}")

  /** Makes `tmp`'s bytes `target` unless `target` already exists, and
    * deletes `tmp` either way; true when this call created `target`.
    * The no-overwrite claim must be atomic: an exists() guard before a
    * rename is check-then-act, and POSIX rename silently replaces, so
    * two racing writers could both "win". A hard link is the atomic
    * primitive: link(2) fails with EEXIST. */
  def claim(tmp: java.nio.file.Path, target: java.nio.file.Path): Boolean =
    try {
      Files.createLink(target, tmp)
      true
    } catch {
      case _: FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
}

/** Spark `CheckpointFileManager` that writes local checkpoint files with
  * java.nio. Structured Streaming writes an offset-log entry before each
  * micro-batch and a commit-log entry after it, both through
  * `createAtomic`. Spark's default `FileContextBasedCheckpointFileManager`
  * goes through Hadoop's ChecksumFs, and without libhadoop every such
  * write forks shell processes: `readlink` from the checksummed rename
  * and `chmod` on the data and `.crc` temp files, tens of milliseconds
  * per file. Here a local `createAtomic` writes a temp file in the
  * target's directory and claims the target with a hard link (no
  * overwrite) or an atomic rename (overwrite). Local directories are
  * made with `Files.createDirectories`, since Hadoop forks `chmod` on
  * each directory it creates; they get the process umask rather than
  * Hadoop's `fs.permissions.umask-mode` (both 022 by default). A path
  * is local when it resolves to the local filesystem, so an unqualified
  * path under a non-local `fs.defaultFS` goes to the delegate with
  * every other call on it.
  *
  * Every other method, and every non-local path, goes to the manager
  * Spark would pick without this class, so schemes without a
  * FileContext keep Spark's FileSystem fallback. Files written here get
  * no `.crc` sidecar; Spark's stock manager still reads them, because
  * ChecksumFs verifies only when the sidecar exists. Durability is
  * unchanged: Hadoop's local filesystem does not fsync either. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  /** The manager Spark picks for `path` when the class key is unset. */
  private[pubsub] val delegate: CheckpointFileManager = {
    val conf = new Configuration(hadoopConf)
    conf.unset(LocalCheckpointFileManager.ClassKey)
    CheckpointFileManager.create(path, conf)
  }

  private val defaultScheme = LocalFiles.defaultScheme(hadoopConf)
  private def isLocalPath(p: Path) = LocalFiles.isLocal(p, defaultScheme)

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (isLocalPath(p))
      new LocalAtomicOutputStream(LocalFiles.nioPath(p), overwriteIfPossible)
    else delegate.createAtomic(p, overwriteIfPossible)

  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(p, filter)
  override def mkdirs(p: Path): Unit =
    if (isLocalPath(p)) {
      // a JDK whose createDirectories checks existence without following
      // links rejects a symlink to a directory; isDirectory follows it,
      // as Hadoop's local mkdirs does
      val d = LocalFiles.nioPath(p)
      if (!Files.isDirectory(d)) Files.createDirectories(d)
    } else delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = {
    // Hadoop's mkdir forks `chmod` only for a directory it creates
    if (isLocalPath(path)) mkdirs(path)
    delegate.createCheckpointDirectory()
  }
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {
  /** Spark's key for the checkpoint file manager class. */
  private[pubsub] val ClassKey =
    "spark.sql.streaming.checkpointFileManagerClass"

  /** Makes this class the session's checkpoint file manager unless the
    * session, or its Hadoop configuration, already names one — a user's
    * own manager (Spark's stock one included) always wins. */
  private[pubsub] def installIfUnset(spark: SparkSession): Unit =
    if (spark.conf.getOption(ClassKey).isEmpty &&
        spark.sparkContext.hadoopConfiguration.get(ClassKey) == null)
      spark.conf.set(ClassKey, classOf[LocalCheckpointFileManager].getName)
}

/** Bytes go to a temp file beside `target`; `close()` claims `target`,
  * `cancel()` drops the temp file. A stale `.<name>.crc` sidecar is
  * deleted before the claim: ChecksumFs would otherwise verify the new
  * bytes against it. A no-overwrite claim on an existing target throws
  * Hadoop's FileAlreadyExistsException, which HDFSMetadataLog reports as
  * a concurrent writer. Like Spark's FileContext manager, this needs the
  * target's directory to exist. */
private final class LocalAtomicOutputStream private (
    target: java.nio.file.Path, overwrite: Boolean,
    tmp: java.nio.file.Path)
  extends CancellableFSDataOutputStream(new BufferedOutputStream(
    Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW))) {

  def this(target: java.nio.file.Path, overwrite: Boolean) =
    this(target, overwrite, LocalFiles.tempBeside(target))

  private var terminated = false

  override def close(): Unit = synchronized {
    if (!terminated) {
      terminated = true
      try {
        underlyingStream.close()
        val crc = target.resolveSibling(s".${target.getFileName}.crc")
        if (overwrite) {
          Files.deleteIfExists(crc)
          Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
        } else {
          // a sidecar beside an existing target is that file's own
          if (Files.notExists(target)) Files.deleteIfExists(crc)
          if (!LocalFiles.claim(tmp, target))
            throw new org.apache.hadoop.fs.FileAlreadyExistsException(
              s"$target already exists")
        }
      } catch {
        case NonFatal(e) =>
          Files.deleteIfExists(tmp)
          throw e
      }
    }
  }

  override def cancel(): Unit = synchronized {
    if (!terminated) {
      terminated = true
      try underlyingStream.close() catch { case NonFatal(_) => () }
      Files.deleteIfExists(tmp)
    }
  }
}
