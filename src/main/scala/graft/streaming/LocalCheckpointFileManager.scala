package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption, Path => JPath}
import java.util.UUID
import scala.util.control.NonFatal
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus,
  FileSystem, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** A `CheckpointFileManager` for `file:` checkpoints that never starts
  * a process (registered by `core.Sessions.streamingConfs`).
  *
  * Without libhadoop, Hadoop's local file system shells out for file
  * metadata: Spark's default manager pays a `chmod` process for every
  * file it creates and `readlink` processes for every rename. Each
  * trigger writes an offset-log and a commit-log entry plus state files
  * for each partition, so those processes are a fixed cost of every
  * trigger (measured in `core.Sessions.streamingConfs`). Here a file is
  * written with `java.nio` to a hidden temp file beside its target (the
  * name Spark's managers use) and published by one atomic rename, or,
  * when overwriting is not allowed, by a hard link that fails
  * atomically if the target exists.
  * That failure is Hadoop's `FileAlreadyExistsException`, as from
  * Spark's own managers: `HDFSMetadataLog` relies on it to refuse a
  * second writer of one batch id. Reads, listings and deletes go
  * through Hadoop's `LocalFileSystem`, which starts no process for
  * them; it verifies and hides the `.crc` files that checkpoints
  * written by Spark's default manager carry. Neither manager fsyncs.
  *
  * A checkpoint on any other scheme is handed to Spark's default
  * manager. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val impl: CheckpointFileManager =
    if (Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) == "file")
      new LocalCheckpointFileManager.OnLocalDisk(FileSystem.getLocal(hadoopConf), path)
    else LocalCheckpointFileManager.sparkDefault(path, hadoopConf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The manager Spark picks when no class is configured. */
  private def sparkDefault(path: Path, hadoopConf: Configuration): CheckpointFileManager = {
    val conf = new Configuration(hadoopConf)
    conf.unset(ConfKey)
    CheckpointFileManager.create(path, conf)
  }

  private final class OnLocalDisk(fs: LocalFileSystem, root: Path) extends CheckpointFileManager {
    private def local(p: Path): JPath = fs.pathToFile(p).toPath

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = local(p)
      val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new PublishOnClose(tmp, target, local(fs.getChecksumFile(p)), overwriteIfPossible)
    }
    override def open(p: Path): FSDataInputStream = fs.open(p)
    override def list(p: Path, filter: PathFilter): Array[FileStatus] = fs.listStatus(p, filter)
    override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))
    override def exists(p: Path): Boolean = fs.exists(p)
    override def delete(p: Path): Unit = fs.delete(p, true)
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path = {
      val qualified = fs.makeQualified(root)
      mkdirs(qualified)
      qualified
    }
  }

  /** Bytes go to `tmp`; `close()` publishes them under `target`,
    * `cancel()` drops them. The target name never shows a partial
    * file, and `tmp` is gone once either call returns. */
  private final class PublishOnClose(tmp: JPath, target: JPath, crc: JPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          super.close()
          if (overwrite) {
            // a checksum Hadoop wrote for the old bytes would fail the new ones
            Files.deleteIfExists(crc)
            Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
          } else {
            try Files.createLink(target, tmp)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$target already exists")
            }
          }
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        // the caller is already handling a failure; keep that one
        try underlyingStream.close() catch { case NonFatal(_) => }
        finally Files.deleteIfExists(tmp)
      }
    }
  }
}
