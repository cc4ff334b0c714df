package graft.sources

import java.nio.file.Files
import java.time.LocalDate
import graft.ingest.AuditSource
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

/** Pins the Trigger.AvailableNow admission contract on the `graft-audit`
  * stream: the ceiling is fixed at query start, INCLUDING when the start
  * listing is empty — a day directory landing mid-run waits for the next
  * run (one scheduled invocation of the reference processes only what it
  * saw at startup).
  */
class AuditAvailableNowSpec extends AnyFunSuite {
  private def emptyOpts = new CaseInsensitiveStringMap(java.util.Collections.emptyMap[String, String]())

  test("AvailableNow pinned on an EMPTY source admits nothing, even if a day lands mid-run") {
    graft.SparkSpec.spark // ensure SparkSession.active exists
    val src = Files.createTempDirectory("empty-src")
    val stream = new AuditMicroBatchStream(src.toString, emptyOpts)
    stream.prepareForTriggerAvailableNow() // lists nothing: ceiling must mean "admit nothing"

    // a day lands mid-run
    val d = Files.createDirectories(src.resolve("2021-01-01"))
    Files.write(d.resolve("a.txt"), "x".getBytes)

    val start = stream.initialOffset()
    assert(stream.latestOffset(start, ReadLimit.allAvailable()) == start, "mid-run day was admitted")

    // the NEXT run (fresh pin) sees it
    val next = new AuditMicroBatchStream(src.toString, emptyOpts)
    next.prepareForTriggerAvailableNow()
    assert(
      next.latestOffset(start, ReadLimit.allAvailable()) == AuditDayOffset(Some(LocalDate.parse("2021-01-01")))
    )
  }

  test("a latestOffset + reportLatestOffset pair lists the source once") {
    graft.SparkSpec.spark
    val src = Files.createTempDirectory("report-src")
    for (day <- Seq("2021-03-01", "2021-03-02"))
      Files.write(Files.createDirectories(src.resolve(day)).resolve("a.txt"), "x".getBytes)
    val stream = new AuditMicroBatchStream(src.toString, emptyOpts)
    val newest = AuditDayOffset(Some(LocalDate.parse("2021-03-02")))
    assert(stream.reportLatestOffset() == newest, "before any latestOffset: a fresh listing")

    val before = AuditSource.listDayCalls.get()
    val next = stream.latestOffset(stream.initialOffset(), ReadLimit.allAvailable())
    val reported = stream.reportLatestOffset()
    val listings = AuditSource.listDayCalls.get() - before
    assert(next == AuditDayOffset(Some(LocalDate.parse("2021-03-01"))))
    assert(reported == newest)
    assert(listings == 1, s"latestOffset + reportLatestOffset listed the source $listings times; expected 1")
  }

  test("a non-AvailableNow (continuous micro-batch) stream has no ceiling: new days admitted as they land") {
    graft.SparkSpec.spark
    val src = Files.createTempDirectory("cont-src")
    val stream = new AuditMicroBatchStream(src.toString, emptyOpts) // prepare never called
    val d = Files.createDirectories(src.resolve("2021-02-01"))
    Files.write(d.resolve("a.txt"), "x".getBytes)
    val start = stream.initialOffset()
    assert(
      stream.latestOffset(start, ReadLimit.allAvailable()) == AuditDayOffset(Some(LocalDate.parse("2021-02-01")))
    )
  }
}
