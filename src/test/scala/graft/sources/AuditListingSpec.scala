package graft.sources

import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.fs.{LocalFileSystem, LocatedFileStatus, Path, RawLocalFileSystem, RemoteIterator}
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.AuditSource

/** The local FS (a `FilterFileSystem` over the raw one) under the
  * [[NoLocatedListingFileSystem.Scheme]] scheme, refusing the listings
  * that build a `LocatedFileStatus` per file.
  */
class NoLocatedListingFileSystem extends LocalFileSystem(new NoLocatedListingFileSystem.Raw) {
  override def listFiles(f: Path, recursive: Boolean): RemoteIterator[LocatedFileStatus] =
    throw new UnsupportedOperationException(s"listFiles($f)")
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    throw new UnsupportedOperationException(s"listLocatedStatus($f)")
}

object NoLocatedListingFileSystem {
  val Scheme = "nolocated"
  class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
  }
}

/** The `graft-audit` scan lists day directories with `listStatus` alone:
  * on Hadoop's local FS without libhadoop, every `LocatedFileStatus` forks
  * an `ls -ld` to read the file's owner and permission.
  */
class AuditListingSpec extends AnyFunSuite {
  import NoLocatedListingFileSystem.Scheme

  test("a graft-audit batch scan plans and reads over a FS whose located listings throw") {
    val spark = graft.SparkSpec.spark
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl", classOf[NoLocatedListingFileSystem].getName)
    val src = Files.createTempDirectory("nolocated-src")
    val day = Files.createDirectories(src.resolve("2021-05-05"))
    Files.write(day.resolve("a.txt"), "a".getBytes)
    Files.write(day.resolve("empty.txt"), Array.emptyByteArray)
    Files.write(Files.createDirectories(day.resolve("sub")).resolve("b.txt"), "bb".getBytes)
    val root = s"$Scheme://$src"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assertThrows[UnsupportedOperationException](fs.listFiles(new Path(root), true))

    def lengths(df: org.apache.spark.sql.DataFrame): Map[String, (Int, String)] =
      df.collect().map { r =>
        r.getString(0).stripPrefix(s"$Scheme:$day/") -> (r.getAs[Array[Byte]](1).length, r.getDate(2).toString)
      }.toMap
    val want = Map("a.txt" -> (1, "2021-05-05"), "empty.txt" -> (0, "2021-05-05"), "sub/b.txt" -> (2, "2021-05-05"))
    assert(lengths(spark.read.format("graft-audit").option("srcDir", root).load()) == want)
    assert(lengths(AuditSource.readPending(spark, root, AuditSource.listDays(spark, root).map(_.day))) == want)
  }
}
