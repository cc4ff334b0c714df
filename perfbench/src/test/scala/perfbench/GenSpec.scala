package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def kafkaBytes(seed: Long): Seq[(Int, Long, Long, Option[Seq[Byte]])] =
    Gen.kafkaBacklog(seed, 300, 8, 5, 6).map(r => (r.partition, r.offset, r.timestampMs, Option(r.value).map(_.toSeq)))

  private def filesBytes(files: Seq[Gen.SrcFile]): Seq[(String, String, Seq[Byte])] =
    files.map(f => (f.dir, f.name, f.bytes.toSeq))

  test("the same seed gives byte-identical inputs") {
    assert(kafkaBytes(11) == kafkaBytes(11))
    assert(filesBytes(Gen.dayBacklog(11, 4, 2, (1 << 14, 1 << 16))) ==
      filesBytes(Gen.dayBacklog(11, 4, 2, (1 << 14, 1 << 16))))
    assert(filesBytes(Gen.readCorpus(11, 3, 5, 1, (1 << 14, 1 << 15))) ==
      filesBytes(Gen.readCorpus(11, 3, 5, 1, (1 << 14, 1 << 15))))
  }

  test("another seed gives other inputs") {
    assert(kafkaBytes(11) != kafkaBytes(12))
    assert(filesBytes(Gen.dayBacklog(11, 4, 2, (1 << 14, 1 << 16))) !=
      filesBytes(Gen.dayBacklog(12, 4, 2, (1 << 14, 1 << 16))))
  }

  test("kafka records carry tombstones and 0.2-4 KB values over several days") {
    val recs = Gen.kafkaBacklog(5, 2000, 8, 5, 40)
    assert(recs.count(_.value == null) == 40)
    assert(recs.filter(_.value != null).forall(r => r.value.length >= 200 && r.value.length <= 4096 + 512))
    assert(recs.map(r => r.timestampMs / 86400000L).distinct.size == 5)
    assert(recs.groupBy(_.partition).values.forall(rs => rs.map(_.offset) == rs.indices.map(_.toLong)))
  }

  test("payloads compress, but not trivially") {
    val bytes = Gen.auditFile(new java.util.SplittableRandom(3), 0L, 1 << 20)
    val ratio = bytes.length.toDouble / graft.ingest.Zlib.compress(bytes).length
    assert(ratio > 1.5 && ratio < 8, s"zlib ratio $ratio")
  }

  test("every seed moves the same number of objects and bytes") {
    def volume(files: Seq[Gen.SrcFile]) = (files.size, files.iterator.map(_.bytes.length / 4096).sum)
    def near(a: (Int, Int), b: (Int, Int)) = a._1 == b._1 && math.abs(a._2 - b._2) <= a._2 / 20
    assert(near(volume(Gen.dayBacklog(1, 6, 3, (1 << 16, 1 << 18))), volume(Gen.dayBacklog(2, 6, 3, (1 << 16, 1 << 18)))))
    assert(near(volume(Gen.readCorpus(1, 3, 20, 2, (1 << 16, 1 << 17))), volume(Gen.readCorpus(2, 3, 20, 2, (1 << 16, 1 << 17)))))
  }

  test("the day backlog has one empty file and one non-dated directory") {
    val files = Gen.dayBacklog(9, 6, 3, (1 << 12, 1 << 13))
    assert(files.count(_.bytes.isEmpty) == 1)
    assert(files.count(_.dir == Gen.NonDatedDir) == 1)
  }
}
