package graft.ingest

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.util.EnumSet
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{
  ChecksumException, CreateFlag, DelegateToFileSystem, FSDataOutputStream, FileAlreadyExistsException,
  FileSystem, Path, RawLocalFileSystem
}
import org.apache.hadoop.fs.Options.ChecksumOpt
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The local FS's raw layer under the [[CountingRawFs.Scheme]] scheme,
  * counting the creates and renames that reach it.
  */
class CountingRawFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${CountingRawFs.Scheme}:///")
  override protected def primitiveCreate(
      f: Path, perm: FsPermission, flag: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable, checksumOpt: ChecksumOpt): FSDataOutputStream = {
    CountingRawFs.creates.incrementAndGet()
    super.primitiveCreate(f, perm, flag, bufferSize, replication, blockSize, progress, checksumOpt)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CountingRawFs.renames.incrementAndGet()
    super.rename(src, dst)
  }
}

object CountingRawFs {
  val Scheme = "countingfs"
  val creates, renames = new AtomicInteger()
}

/** The `FileContext` binding of [[CountingRawFs]]: a file system that is
  * not Hadoop's local one as far as a checkpoint manager can tell.
  */
class CountingAbstractFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new CountingRawFs, conf, CountingRawFs.Scheme, false)

/** Fault injection for [[CheckpointFiles]], the ingest streams' checkpoint
  * manager: every publish is checked, refuses to overwrite unless asked,
  * leaves no temp file behind, and never leaves a log unreadable. Writes go
  * through `createAtomic` exactly as Spark's `HDFSMetadataLog.write` drives
  * them: `close()` publishes, `cancel()` after any failure.
  */
class CheckpointFilesSpec extends AnyFunSuite {
  private val conf = new Configuration()

  private def dir(): NioPath = Files.createTempDirectory("ckptfiles")
  private def hpath(p: NioPath) = new Path(p.toAbsolutePath.toString)
  private def manager(d: NioPath) = new CheckpointFiles(hpath(d), conf)

  /** HDFSMetadataLog's write: write, then close to publish; cancel and
    * rethrow on any failure.
    */
  private def write(fm: CheckpointFiles, p: NioPath, bytes: Array[Byte], overwrite: Boolean = false)(
      fail: () => Unit = () => ()): Unit = {
    val out = fm.createAtomic(hpath(p), overwrite)
    try {
      out.write(bytes)
      fail()
      out.close()
    } catch {
      case e: Throwable =>
        out.cancel()
        throw e
    }
  }

  private def names(d: NioPath): Set[String] = {
    val s = Files.list(d)
    try s.iterator().asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }

  private def read(fm: CheckpointFiles, p: NioPath): String = {
    val in = fm.open(hpath(p))
    try new String(in.readAllBytes(), "UTF-8")
    finally in.close()
  }

  test("on the local FS a log file is written, published and read back, with no temp or checksum file") {
    val d = dir()
    val fm = manager(d)
    assert(fm.isLocal)
    val fresh = manager(d.resolve("fresh/ckpt")).createCheckpointDirectory()
    assert(fresh.toUri.getScheme == "file" && Files.isDirectory(d.resolve("fresh/ckpt")))
    fm.mkdirs(hpath(d.resolve("offsets/nested")))
    assert(Files.isDirectory(d.resolve("offsets/nested")))
    write(fm, d.resolve("offsets/0"), "v1\n{}".getBytes)()
    assert(read(fm, d.resolve("offsets/0")) == "v1\n{}")
    assert(names(d.resolve("offsets")) == Set("0", "nested"))
    assert(names(d) == Set("fresh", "offsets"))
  }

  test("publishing without overwrite onto an existing file throws FileAlreadyExistsException; its bytes stay") {
    val d = dir()
    val fm = manager(d)
    write(fm, d.resolve("0"), "first".getBytes)()
    val e = intercept[FileAlreadyExistsException](write(fm, d.resolve("0"), "second".getBytes)())
    assert(e.getMessage.contains("exists"), e.getMessage)
    assert(new String(Files.readAllBytes(d.resolve("0"))) == "first")
    assert(names(d) == Set("0"), "the refused temp file is deleted")
    // with overwrite the same publish replaces it
    write(fm, d.resolve("0"), "second".getBytes, overwrite = true)()
    assert(read(fm, d.resolve("0")) == "second")
    assert(names(d) == Set("0"))
  }

  test("a write that throws before the publish leaves no log file and no temp file") {
    val d = dir()
    val fm = manager(d)
    val e = intercept[IllegalStateException] {
      write(fm, d.resolve("3"), "half".getBytes)(() => throw new IllegalStateException("injected"))
    }
    assert(e.getMessage == "injected")
    assert(names(d).isEmpty)
  }

  test("a failed move throws; the target stays as it was and no temp file is left") {
    val d = dir()
    val fm = manager(d)
    // a non-empty directory in the log file's place: rename(2) and link(2) both refuse it
    val target = Files.createDirectories(d.resolve("7"))
    Files.write(target.resolve("keep"), "old".getBytes)
    intercept[java.io.IOException](write(fm, target, "new".getBytes, overwrite = true)())
    intercept[FileAlreadyExistsException](write(fm, target, "new".getBytes)())
    assert(names(target) == Set("keep") && new String(Files.readAllBytes(target.resolve("keep"))) == "old")
    assert(names(d) == Set("7"))
  }

  test("a stale .<name>.crc beside a log never makes the published log unreadable") {
    val d = dir()
    val fm = manager(d)
    // Hadoop's checksummed local FS, the strictest reader: Spark's FileContext
    // reads skip the sums, its FileSystem-based manager verifies them
    val local = FileSystem.getLocal(conf)
    def checksummed(name: String, text: String): Unit = {
      val out = local.create(hpath(d.resolve(name)))
      try out.write(text.getBytes) finally out.close()
      assert(Files.exists(d.resolve(s".$name.crc")))
    }
    def readBoth(name: String): String = {
      val in = local.open(hpath(d.resolve(name)))
      val verified = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      assert(read(fm, d.resolve(name)) == verified)
      verified
    }
    // the hazard: new bytes beside an older file's sums fail a verified read
    checksummed("0", "old log")
    Files.write(d.resolve("0"), "new log!".getBytes)
    intercept[ChecksumException](readBoth("0"))

    // the log removed by hand (to re-run a batch) but not its checksum
    checksummed("1", "old log")
    Files.delete(d.resolve("1"))
    write(fm, d.resolve("1"), "new log!".getBytes)()
    assert(readBoth("1") == "new log!")

    // a checksummed log overwritten in place
    checksummed("2", "old log")
    write(fm, d.resolve("2"), "new log!".getBytes, overwrite = true)()
    assert(readBoth("2") == "new log!")

    // a refused publish keeps the existing log's checksum
    checksummed("3", "old log")
    intercept[FileAlreadyExistsException](write(fm, d.resolve("3"), "new log!".getBytes)())
    assert(Files.exists(d.resolve(".3.crc")) && readBoth("3") == "old log")
  }

  test("a file system other than the local one goes through Spark's FileContext code unchanged") {
    val d = dir()
    val c = new Configuration(conf)
    c.set(s"fs.AbstractFileSystem.${CountingRawFs.Scheme}.impl", classOf[CountingAbstractFs].getName)
    val root = new Path(s"${CountingRawFs.Scheme}://${d.toUri.getPath}")
    val fm = new CheckpointFiles(root, c)
    assert(!fm.isLocal)
    val (creates, renames) = (CountingRawFs.creates.get, CountingRawFs.renames.get)
    fm.mkdirs(new Path(root, "commits"))
    val out = fm.createAtomic(new Path(root, "commits/0"), false)
    out.write("v1".getBytes)
    out.close()
    assert(CountingRawFs.creates.get - creates == 1 && CountingRawFs.renames.get - renames == 1)
    assert(new String(Files.readAllBytes(d.resolve("commits/0"))) == "v1")
    val again = fm.createAtomic(new Path(root, "commits/0"), false)
    again.write("v2".getBytes)
    intercept[FileAlreadyExistsException](again.close())
    assert(new String(Files.readAllBytes(d.resolve("commits/0"))) == "v1")
  }
}
