package graft.io

import java.io.{BufferedOutputStream, IOException}
import java.nio.file.{FileAlreadyExistsException => NioFileExists, FileSystemException, FileVisitResult, Files, NoSuchFileException, Paths, SimpleFileVisitor, StandardCopyOption, Path => JPath}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.{CancellableFSDataOutputStream, RenameBasedFSDataOutputStream, RenameHelperMethods}

/** A Spark [[CheckpointFileManager]] that writes `file:` checkpoints
  * through `java.nio` instead of Hadoop's local file system.
  *
  * Hadoop's local file system starts a child process for most metadata
  * calls when its native library is absent: `chmod` for the permission of
  * every file and directory it creates, and `readlink` for every status a
  * `FileContext` rename looks up (four per renamed file, counting its
  * `.crc` sidecar). Spark's default manager writes each checkpoint file
  * (offsets, commits, state deltas, RocksDB changelogs and their checksum
  * files) as a temp file renamed into place, so on a local checkpoint it
  * forked about five processes per file.
  *
  * On `file:` paths this manager creates, renames, makes directories and
  * deletes through `java.nio`, and starts no process. Reads (`open`,
  * `list`, `exists`) and every operation on any other scheme go to
  * Spark's default manager (FileContext-based, or FileSystem-based when
  * the scheme has no `AbstractFileSystem`), so remote checkpoints behave
  * exactly as before and local ones are read through the same checksummed
  * Hadoop file system as before.
  *
  * Write rules, matching Spark's:
  *  - `createAtomic` writes a hidden temp file and renames it into place
  *    on `close` ([[RenameBasedFSDataOutputStream]]); `cancel` deletes the
  *    temp file;
  *  - without overwrite the rename is a hard link, which fails atomically
  *    with [[FileAlreadyExistsException]] if the destination exists — the
  *    fence `HDFSMetadataLog` relies on against a second writer — and the
  *    losing temp file is deleted (Spark's `close` does not cancel after a
  *    failed rename, so nothing else would). A file system without hard
  *    links (some FUSE and SMB mounts) gets a rename that fails if the
  *    destination exists, the guarantee of Spark's FileSystem-based
  *    manager;
  *  - with overwrite the rename atomically replaces the destination;
  *  - files are written without Hadoop's `.<name>.crc` sidecar, and a
  *    stale sidecar of a replaced or deleted file is removed, so a
  *    checkpoint written by either manager reads back through the other.
  *
  * Spark's own checkpoint checksums (`<name>.crc`, written when
  * `spark.sql.streaming.checkpoint.fileChecksum.enabled`) wrap whatever
  * manager is installed and are unaffected.
  *
  * It extends Spark's FileSystem-based manager only to implement
  * `RenameHelperMethods`, a sealed trait that
  * [[RenameBasedFSDataOutputStream]] requires; every operation is
  * overridden.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
  import LocalCheckpointFileManager._

  /** Spark's default manager for `path`, as `CheckpointFileManager.create`
    * builds it when no manager class is configured. */
  private val hadoop: CheckpointFileManager with RenameHelperMethods =
    try new FileContextBasedCheckpointFileManager(path, hadoopConf)
    catch {
      case _: UnsupportedFileSystemException =>
        new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    }

  private val defaultScheme = FileSystem.getDefaultUri(hadoopConf).getScheme

  /** `p` as a `java.nio` path when it lives on the local file system. */
  private def local(p: Path): Option[JPath] =
    if (Option(p.toUri.getScheme).getOrElse(defaultScheme) == "file") {
      Some(Paths.get(p.toUri.getPath))
    } else None

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (local(p).isDefined) new RenameBasedFSDataOutputStream(this, p, overwriteIfPossible)
    else hadoop.createAtomic(p, overwriteIfPossible)

  override def createTempFile(p: Path): FSDataOutputStream = local(p) match {
    case Some(f) =>
      new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(f), BufferBytes), null)
    case None => hadoop.createTempFile(p)
  }

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    (local(src), local(dst)) match {
      case (Some(from), Some(to)) if overwriteIfPossible =>
        Files.deleteIfExists(sidecar(to))
        Files.move(from, to, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      case (Some(from), Some(to)) =>
        try renameNoReplace(from, to)
        catch {
          case _: NioFileExists =>
            Files.deleteIfExists(from)
            throw new FileAlreadyExistsException(s"Failed to rename $src to $dst as destination exists")
        }
        Files.deleteIfExists(sidecar(to))
      case _ => hadoop.renameTempFile(src, dst, overwriteIfPossible)
    }

  override def mkdirs(p: Path): Unit = local(p) match {
    case Some(f) => Files.createDirectories(f)
    case None => hadoop.mkdirs(p)
  }

  override def delete(p: Path): Unit = local(p) match {
    case Some(f) =>
      deleteRecursively(f)
      Files.deleteIfExists(sidecar(f))
    case None => hadoop.delete(p)
  }

  override def createCheckpointDirectory(): Path = local(path) match {
    case Some(f) =>
      Files.createDirectories(f)
      new Path("file", null, f.toAbsolutePath.toString)
    case None => hadoop.createCheckpointDirectory()
  }

  override def open(p: Path): FSDataInputStream = hadoop.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = hadoop.list(p, filter)
  override def exists(p: Path): Boolean = hadoop.exists(p)
  override def isLocal: Boolean = hadoop.isLocal
  override def close(): Unit = hadoop.close()
}

object LocalCheckpointFileManager {

  /** The session key Spark reads the checkpoint file manager class from. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private val BufferBytes = 64 * 1024

  /** Makes this the session's checkpoint file manager for the streaming
    * queries it starts from now on, unless [[ConfKey]] is already set: a
    * manager the user chose is kept. */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty) {
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)
    }

  /** Hadoop's checksum sidecar of `f`: `.<name>.crc` next to it. */
  private def sidecar(f: JPath): JPath = f.resolveSibling(s".${f.getFileName}.crc")

  /** Renames `from` to `to` unless `to` exists. A hard link fails
    * atomically if it does; on a file system without hard links, a move
    * that checks first. */
  private def renameNoReplace(from: JPath, to: JPath): Unit = {
    val linked =
      try { Files.createLink(to, from); true }
      catch { case e: FileSystemException if !e.isInstanceOf[NioFileExists] => false }
    if (linked) Files.delete(from) else Files.move(from, to)
  }

  /** Deletes `root` and everything under it; a missing entry, also one
    * deleted concurrently, is not an error. */
  private def deleteRecursively(root: JPath): Unit =
    Files.walkFileTree(root, new SimpleFileVisitor[JPath] {
      override def visitFile(f: JPath, attrs: BasicFileAttributes): FileVisitResult = {
        Files.deleteIfExists(f)
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: JPath, e: IOException): FileVisitResult = e match {
        case _: NoSuchFileException => FileVisitResult.CONTINUE
        case _ => throw e
      }
      override def postVisitDirectory(d: JPath, e: IOException): FileVisitResult = {
        if (e != null && !e.isInstanceOf[NoSuchFileException]) throw e
        Files.deleteIfExists(d)
        FileVisitResult.CONTINUE
      }
    })
}
