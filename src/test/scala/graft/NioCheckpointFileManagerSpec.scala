package graft

import graft.engine.NioCheckpointFileManager
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** [[NioCheckpointFileManager]] against the contract Spark's offset log,
  * commit log and state store rely on: a file written by `createAtomic`
  * appears whole at its final name on `close`, never on `cancel`, and
  * never over an existing file unless overwriting is asked for.
  */
class NioCheckpointFileManagerSpec extends AnyFunSuite {
  private val conf = new Configuration()

  private def freshDir(): Path =
    new Path(Files.createTempDirectory("graft_ckpt_t").toUri)

  private def write(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: Path): Seq[String] =
    Files.list(Paths.get(dir.toUri)).iterator.asScala.map(_.getFileName.toString).toSeq.sorted

  test("createAtomic without overwrite onto an existing file throws and keeps its bytes") {
    val dir = freshDir()
    val fm = new NioCheckpointFileManager(dir, conf)
    val file = new Path(dir, "0")
    write(fm, file, "first")
    intercept[FileAlreadyExistsException](write(fm, file, "second"))
    assert(read(fm, file) === "first")
    // with overwrite, the rename replaces it
    write(fm, file, "third", overwrite = true)
    assert(read(fm, file) === "third")
  }

  test("cancel leaves neither the temp file nor the final file") {
    val dir = freshDir()
    val fm = new NioCheckpointFileManager(dir, conf)
    val out = fm.createAtomic(new Path(dir, "0"), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty)
    assert(!fm.exists(new Path(dir, "0")))
  }

  test("mkdirs creates missing parents and is idempotent") {
    val dir = new Path(freshDir(), "a/b/c")
    val fm = new NioCheckpointFileManager(dir, conf)
    fm.mkdirs(dir)
    fm.mkdirs(dir)
    assert(Files.isDirectory(Paths.get(dir.toUri)))
  }

  test("Spark's default manager reads back a file written here, and a listing shows the " +
      "final name only once the write lands") {
    val dir = freshDir()
    val fm = new NioCheckpointFileManager(dir, conf)
    val default = CheckpointFileManager.create(dir, conf)
    assert(!default.isInstanceOf[NioCheckpointFileManager])
    val out = fm.createAtomic(new Path(dir, "0"), false)
    out.write("{\"batch\":0}".getBytes(UTF_8))
    out.flush()
    // in flight: only the hidden temp file exists, under a name no log
    // reads as a batch
    val inFlight = default.list(dir).map(_.getPath.getName).toSeq
    assert(inFlight.size === 1 && inFlight.head.startsWith(".") &&
      inFlight.head.endsWith(".tmp"), inFlight)
    out.close()
    assert(default.list(dir).map(_.getPath.getName).toSeq === Seq("0"))
    assert(read(default, new Path(dir, "0")) === "{\"batch\":0}")
    // a path without a scheme resolves to the local file system and is
    // written the same way: no temp file left, and no Hadoop .crc sidecar
    val bare = new Path(Paths.get(dir.toUri).toString)
    write(new NioCheckpointFileManager(bare, conf), new Path(bare, "1"), "{\"batch\":1}")
    assert(names(dir) === Seq("0", "1"))
    assert(read(default, new Path(dir, "1")) === "{\"batch\":1}")
  }

  test("a path whose scheme is not file takes the inherited FileSystem calls") {
    val c = new Configuration(conf)
    c.set("fs.graftfs.impl", classOf[CountingLocalFs].getName)
    c.setBoolean("fs.graftfs.impl.disable.cache", true)
    val local = Files.createTempDirectory("graft_ckpt_t")
    val dir = new Path(s"graftfs://${local.toUri.getPath}")
    CountingLocalFs.reset()
    val fm = new NioCheckpointFileManager(dir, c)
    fm.mkdirs(new Path(dir, "offsets"))
    write(fm, new Path(dir, "offsets/0"), "zero")
    assert(CountingLocalFs.mkdirs.get > 0)
    assert(CountingLocalFs.creates.get === 1)
    assert(CountingLocalFs.renames.get === 1)
    assert(new String(Files.readAllBytes(local.resolve("offsets/0")), UTF_8) === "zero")
  }
}

/** The raw local file system under another scheme, counting the calls
  * the inherited checkpoint manager makes.
  */
class CountingLocalFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    CountingLocalFs.mkdirs.incrementAndGet()
    super.mkdirs(p, permission)
  }
  override def create(p: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CountingLocalFs.creates.incrementAndGet()
    super.create(p, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(p: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CountingLocalFs.creates.incrementAndGet()
    super.create(p, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CountingLocalFs.renames.incrementAndGet()
    super.rename(src, dst)
  }
}

object CountingLocalFs {
  val mkdirs, creates, renames = new AtomicInteger
  def reset(): Unit = Seq(mkdirs, creates, renames).foreach(_.set(0))
}
