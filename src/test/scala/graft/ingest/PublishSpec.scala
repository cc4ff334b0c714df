package graft.ingest

import java.nio.file.{Files, Path => NioPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.FaultFs

/** [[Publish.stagedDir]]: a batch dir is published whole or the publish
  * throws; a rowless batch publishes nothing. (The file shapes are covered
  * by `CheckpointFilesSpec` and by their writers' specs.)
  */
class PublishSpec extends AnyFunSuite {
  private val conf = new Configuration()
  FaultFs.bind(conf)

  private def names(d: NioPath): Set[String] = {
    val s = Files.list(d)
    try s.iterator().asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }

  test("stagedDir: a rename that returns false throws naming both dirs; an empty batch leaves no batch dir") {
    val d = Files.createTempDirectory("publish")
    val fs = new Path(FaultFs.uri(d)).getFileSystem(conf)
    def staged(name: String): Path = {
      Files.createDirectories(d.resolve(name))
      Files.write(d.resolve(name).resolve("part-0"), name.getBytes)
      new Path(FaultFs.uri(d.resolve(name)))
    }
    val target = new Path(FaultFs.uri(d.resolve("batch=1")))

    val e = intercept[IllegalStateException] {
      FaultFs.failingRenamesTo(d.resolve("batch=1"))(Publish.stagedDir(fs, staged("_staging_batch=1"), target, 3))
    }
    assert(e.getMessage.contains("_staging_batch=1") && e.getMessage.contains("batch=1"), e.getMessage)
    assert(!Files.exists(d.resolve("batch=1")))

    Publish.stagedDir(fs, staged("_staging_batch=1"), target, 3)
    assert(names(d) == Set("batch=1"))
    // a replayed epoch replaces the published dir
    Publish.stagedDir(fs, staged("_staging_batch=1"), target, 3)
    assert(names(d) == Set("batch=1") && names(d.resolve("batch=1")) == Set("part-0"))

    Publish.stagedDir(fs, staged("_staging_batch=2"), new Path(FaultFs.uri(d.resolve("batch=2"))), 0)
    assert(names(d) == Set("batch=1"), "an empty batch publishes nothing and deletes its staging dir")
  }
}
