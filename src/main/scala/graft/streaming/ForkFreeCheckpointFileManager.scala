package graft.streaming

import java.net.URI
import java.nio.file.{FileSystems, Files}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager of every graft stream
  * (`spark.sql.streaming.checkpointFileManagerClass`, set by
  * [[StreamingJobs.useForkFreeCheckpoints]]).
  *
  * On `file:` paths it is Spark's `FileSystemBasedCheckpointFileManager`
  * (atomic temp file + rename, cancel, overwrite checks) over a
  * [[ForkFreeLocalFileSystem]]: the same umask-applied modes, the same
  * Hadoop `.crc` files and the same rename, but no `chmod`/`readlink`
  * process per checkpoint file (NOTES fact #26). Every other scheme (hdfs,
  * s3a, ...) gets exactly the manager Spark would have chosen without
  * this class.
  */
class ForkFreeCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new ForkFreeCheckpointFileManager.Local(path, hadoopConf)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(ForkFreeCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
    }
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object ForkFreeCheckpointFileManager {
  /** Spark's internal conf that names the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Spark's FileSystem-based manager with its filesystem swapped for a
    * [[ForkFreeLocalFileSystem]] on the same conf (its umask included). */
  private class Local(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
    override val fs: FileSystem = {
      val local = new ForkFreeLocalFileSystem
      local.initialize(URI.create("file:///"), hadoopConf)
      local
    }
  }
}

/** Hadoop's checksummed `LocalFileSystem` over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` is a `chmod(2)` call instead
  * of a `chmod` process. Without `libhadoop` the stock one launches a
  * shell for it on every file create (data file and `.crc`) and every
  * `mkdirs`. The full mode (`FsPermission.toShort`, sticky bit included)
  * is what the stock `chmod %04o` sets; where the JVM has no `unix`
  * attribute view the stock path is kept.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (ForkFreeRawLocalFileSystem.unixModes)
      Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort.toInt))
    else super.setPermission(p, permission)
}

object ForkFreeRawLocalFileSystem {
  private val unixModes = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
}
