package graft.ingest

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import scala.jdk.CollectionConverters._

class WatermarkSpec extends AnyFunSuite {
  private def tmpFile(): String = {
    val d = Files.createTempDirectory("wm")
    d.resolve("progress.txt").toString
  }

  test("missing file => None => process everything (ref :227-230)") {
    assert(Watermark.read(tmpFile()).isEmpty)
  }

  test("commit then read round-trips; newline-trimmed") {
    val f = tmpFile()
    Watermark.commit(f, LocalDate.parse("2020-10-10"))
    assert(Watermark.read(f).contains(LocalDate.parse("2020-10-10")))
    // reference strips the trailing newline (:217-218); tolerate one
    Files.write(Paths.get(f), "2021-01-02\n".getBytes)
    assert(Watermark.read(f).contains(LocalDate.parse("2021-01-02")))
  }

  test("malformed date raises (ref :220-226)") {
    val f = tmpFile()
    Files.write(Paths.get(f), "not-a-date".getBytes)
    assertThrows[IllegalStateException](Watermark.read(f))
  }

  test("commit overwrites: only the LAST completed day is kept (ref :66,71-73)") {
    val f = tmpFile()
    Watermark.commit(f, LocalDate.parse("2020-10-10"))
    Watermark.commit(f, LocalDate.parse("2020-10-11"))
    assert(Watermark.read(f).contains(LocalDate.parse("2020-10-11")))
    assert(new String(Files.readAllBytes(Paths.get(f))).trim == "2020-10-11")
  }

  test("a failed move leaves the target as it was and no temp file behind") {
    val dir = Files.createTempDirectory("wm")
    val target = Files.createDirectories(dir.resolve("progress.txt"))
    Files.write(target.resolve("keep"), "old".getBytes)
    intercept[java.io.IOException](Watermark.commit(target.toString, LocalDate.parse("2020-10-11")))
    assert(Files.isDirectory(target))
    assert(new String(Files.readAllBytes(target.resolve("keep"))) == "old")
    val left = Files.list(dir)
    try assert(left.iterator().asScala.map(_.getFileName.toString).toSeq == Seq("progress.txt"))
    finally left.close()
  }

  test("parseDay: dated ok, non-dated None (ref :30-32)") {
    assert(Watermark.parseDay("2020-10-10").contains(LocalDate.parse("2020-10-10")))
    assert(Watermark.parseDay("not-a-date").isEmpty)
    assert(Watermark.parseDay("2020-13-45").isEmpty)
  }

  test("one day codec: only a day's canonical name parses; an impossible day in the file is corrupt") {
    for (name <- Seq("2021-02-30", "2021-02-29", "2021-2-3", "02021-02-28"))
      assert(Watermark.parseDay(name).isEmpty, name)
    assert(Watermark.parseDay("2020-02-29").contains(LocalDate.parse("2020-02-29")))
    val f = tmpFile()
    Files.write(Paths.get(f), "2021-02-30".getBytes)
    val e = intercept[IllegalStateException](Watermark.read(f))
    assert(e.getMessage.startsWith("Corrupt progress file"))
  }

  test("isPending is STRICTLY greater-than (ref :33)") {
    val w = Some(LocalDate.parse("2020-10-10"))
    assert(!Watermark.isPending(LocalDate.parse("2020-10-09"), w))
    assert(!Watermark.isPending(LocalDate.parse("2020-10-10"), w)) // equal day NOT reprocessed
    assert(Watermark.isPending(LocalDate.parse("2020-10-11"), w))
    assert(Watermark.isPending(LocalDate.parse("1970-01-01"), None)) // no watermark => all pending
  }
}
