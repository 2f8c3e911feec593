package graft.streaming

import java.io.{FileOutputStream, OutputStream}
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileAlreadyExistsException, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Spark's default checkpoint file manager, minus its subprocesses on a
  * local file system. Without Hadoop's native library, the local
  * `FileContext` forks `chmod` for every file and directory it creates and
  * `readlink` for every rename: about a hundred forks per streaming
  * trigger. Here a local temp file is written through Hadoop's
  * `ChecksumFileSystem` (so its `.crc` sidecar is still written) over a
  * raw layer that creates files with the process umask instead of a
  * `chmod`, published with `rename(2)`, and read back through the same
  * `ChecksumFileSystem`, which verifies the `.crc` (the local `FileContext`
  * reads past it). Every other scheme (HDFS, S3, ...) takes Spark's code
  * unchanged.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  private val local = isLocal

  private lazy val localFs: LocalFileSystem = {
    val fs = new LocalFileSystem(new RawLocalFileSystem {
      override protected def createOutputStreamWithMode(
          f: Path, append: Boolean, permission: FsPermission): OutputStream =
        new FileOutputStream(pathToFile(f), append)
    }) {
      // a corrupt file stays where it is; Hadoop's default moves it into a
      // `bad_files` directory at the mount root
      override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
          sums: FSDataInputStream, sumsPos: Long): Boolean = false
    }
    fs.initialize(java.net.URI.create("file:///"), hadoopConf)
    fs
  }

  private def file(p: Path) = localFs.pathToFile(p).toPath

  override def mkdirs(path: Path): Unit =
    if (!local) super.mkdirs(path) else Files.createDirectories(file(path))

  override def open(path: Path): FSDataInputStream =
    if (!local) super.open(path) else localFs.open(path)

  override def createTempFile(path: Path): FSDataOutputStream =
    if (!local) super.createTempFile(path)
    else localFs.create(path, null, true, localFs.getConf.getInt("io.file.buffer.size", 4096),
      localFs.getDefaultReplication(path), localFs.getDefaultBlockSize(path), null)

  /** `rename(2)`: atomic replace when `overwriteIfPossible`, else
    * `FileAlreadyExistsException` when the target exists, after deleting
    * the temp file and its `.crc` (Spark's output stream leaves them
    * behind). The `.crc` follows its file. On replace the target's old
    * `.crc` goes first, so a crash between the moves leaves the old or the
    * new file with no `.crc` (read unchecked), never new bytes under the
    * old `.crc`, which would fail every later read.
    */
  override def renameTempFile(srcPath: Path, dstPath: Path, overwriteIfPossible: Boolean): Unit =
    if (!local) super.renameTempFile(srcPath, dstPath, overwriteIfPossible)
    else {
      val dstCrc = file(localFs.getChecksumFile(dstPath))
      val crc = file(localFs.getChecksumFile(srcPath))
      if (overwriteIfPossible) {
        Files.deleteIfExists(dstCrc)
        Files.move(file(srcPath), file(dstPath), StandardCopyOption.ATOMIC_MOVE)
      } else try Files.move(file(srcPath), file(dstPath)) catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(file(srcPath))
          Files.deleteIfExists(crc)
          throw new FileAlreadyExistsException(s"$dstPath already exists")
      }
      if (Files.exists(crc)) Files.move(crc, dstCrc, StandardCopyOption.ATOMIC_MOVE)
      else Files.deleteIfExists(dstCrc)
    }
}
