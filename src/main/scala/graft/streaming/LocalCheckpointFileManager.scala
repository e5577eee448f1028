package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The checkpoint file manager a `GraftSession` installs
  * (`spark.sql.streaming.checkpointFileManagerClass`), so it serves every
  * checkpoint writer: offset and commit logs, file source and sink logs,
  * HDFS-backed and RocksDB state stores, memory-sink temp checkpoints.
  *
  * Spark's default, `FileContextBasedCheckpointFileManager`, costs child
  * processes on `file:` paths when Hadoop's native library is absent:
  * every rename resolves links with a forked `readlink`, and every file or
  * directory create sets its mode with a forked `chmod`. Most of a small
  * trigger's state-commit time then goes to waiting on those forks.
  *
  * `file:` paths therefore go through Spark's own FileSystem-based manager
  * (the fallback Spark picks where `FileContext` is unsupported) over one
  * shared `LocalFileSystem`: renames are `File.renameTo`, and the raw
  * file system sets modes with `Files.setPosixFilePermissions`, the same
  * bits `chmod` would set. Hadoop's `.crc` sidecars are still written and
  * verified on read, and Spark's own checkpoint checksums and its
  * no-overwrite check are unchanged. Every other scheme gets the manager
  * Spark would have picked.
  */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val underlying: CheckpointFileManager =
    if (isLocalPath(path, hadoopConf)) new OnLocalFs(path, hadoopConf)
    else sparkDefault(path, hadoopConf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Makes this class the session's checkpoint file manager, unless the
    * user already chose one. */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)

  private def isLocalPath(path: Path, conf: Configuration): Boolean =
    "file".equalsIgnoreCase(
      Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme))

  /** What `CheckpointFileManager.create` returns when no class is set. */
  private def sparkDefault(path: Path, conf: Configuration): CheckpointFileManager = {
    val plain = new Configuration(conf)
    plain.unset(ConfKey)
    CheckpointFileManager.create(path, plain)
  }

  /** Spark's FileSystem-based manager; every method reads `fs`. */
  private final class OnLocalFs(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override val fs: FileSystem = localFs(conf)
  }

  /** Sets modes in-process instead of forking `chmod`. A sticky bit, which
    * `PosixFilePermission` cannot express, still takes Hadoop's path. */
  private final class NioRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }

  private var shared: LocalFileSystem = _

  /** The one checkpoint file system of the JVM, configured by the first
    * caller's conf, as Hadoop's FileSystem cache would be. A checksum
    * failure leaves the file where it is (as the `FileContext` path did)
    * instead of moving it to a `bad_files` directory at the mount root. */
  private[graft] def localFs(conf: Configuration): LocalFileSystem = synchronized {
    if (shared == null) {
      val fs = new LocalFileSystem(new NioRawLocalFileSystem) {
        override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
            sums: FSDataInputStream, sumsPos: Long): Boolean = false
      }
      fs.initialize(URI.create("file:///"), conf)
      shared = fs
    }
    shared
  }
}
