package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption}

/** A streaming checkpoint manager that writes local files through
  * `java.nio` and forks no process.
  *
  * Without Hadoop's native library, the local file system sets
  * permissions with a forked `chmod` and resolves links with a forked
  * `readlink`: about 10 forks per checkpoint file, and a micro-batch
  * writes several (offset log, commit log, state delta and its
  * checksum). Here the three writing calls go to `java.nio` instead:
  * `createTempFile` opens a plain output stream, `renameTempFile` is an
  * atomic `Files.move`, and `mkdirs` is `Files.createDirectories`. The
  * write-temp-then-rename protocol of [[createAtomic]] is Spark's own, so
  * a reader sees a whole file or none. A rename without overwrite checks
  * the target first and then moves it, the same check-then-rename Spark's
  * managers make on the local file system, and throws Hadoop's
  * `FileAlreadyExistsException`, which the offset and commit logs read as
  * a concurrent writer. Files are written without Hadoop's `.crc`
  * sidecar, and the checksummed file system reads a file that has none.
  * A file replaced here keeps any sidecar Hadoop wrote for the old one,
  * and the inherited `open` then fails its checksum; so a checkpoint
  * directory is written by this manager from its start.
  *
  * A path whose scheme is not `file` keeps the inherited `FileSystem`
  * calls, and so do reads, listing, `exists` and `delete`, which fork
  * nothing. Spark instantiates the class by name from
  * `spark.sql.streaming.checkpointFileManagerClass`.
  */
class NioCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  /** `p` as a `java.nio` path when it lives on the local file system. */
  private def local(p: Path): Option[java.nio.file.Path] = {
    val uri = fs.makeQualified(p).toUri
    if (uri.getScheme == "file") Some(Paths.get(uri)) else None
  }

  override def createTempFile(p: Path): FSDataOutputStream = local(p) match {
    case Some(file) =>
      Files.createDirectories(file.getParent)
      new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(file)), null)
    case None => super.createTempFile(p)
  }

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    (local(src), local(dst)) match {
      case (Some(from), Some(to)) =>
        if (!overwriteIfPossible && Files.exists(to))
          throw new FileAlreadyExistsException(
            s"Failed to rename $src to $dst as destination already exists")
        Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
      case _ => super.renameTempFile(src, dst, overwriteIfPossible)
    }

  override def mkdirs(p: Path): Unit = local(p) match {
    case Some(dir) => Files.createDirectories(dir)
    case None => super.mkdirs(p)
  }
}
