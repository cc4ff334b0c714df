package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

class BinPackSpec extends AnyFunSuite {
  private def f(id: Int, size: Long) = (s"file-$id", size, 0)

  test("every file lands in exactly one bin; no bin over capacity unless a single oversized file") {
    val rnd = new Random(7)
    val files = (0 until 5000).map(i => f(i, rnd.nextInt(40 * 1024 * 1024).toLong)) ++
      Seq(f(9001, 300L * 1024 * 1024)) // oversized
    val cap = 128L * 1024 * 1024
    val bins = AuditMicroBatchStream.binPack(files, cap)
    val all = bins.flatten
    assert(all.length == files.length)
    assert(all.map(_._1).toSet == files.map(_._1).toSet)
    for (b <- bins) {
      val total = b.map(_._2).sum
      assert(total <= cap || b.length == 1, s"overfull multi-file bin: $total")
    }
    // packing quality: within 2x of the theoretical minimum bin count
    val lowerBound = math.ceil(files.map(_._2).sum.toDouble / cap).toInt
    assert(bins.length <= 2 * lowerBound, s"${bins.length} bins vs lower bound $lowerBound")
  }

  test("zero-length files pack; empty input packs to zero bins") {
    val bins = AuditMicroBatchStream.binPack(Seq(f(1, 0), f(2, 0), f(3, 10)), 100)
    assert(bins.flatten.length == 3)
    assert(AuditMicroBatchStream.binPack(Seq.empty, 100).isEmpty)
  }

  test("binCap spreads the bytes over every core, caps at maxPartitionBytes, and is never 0") {
    val mib = 1L << 20
    assert(AuditMicroBatchStream.binCap(46 * mib + 1, 128 * mib, 4) == 46 * mib / 4 + 1)
    assert(AuditMicroBatchStream.binCap(10 * 1024 * mib, 128 * mib, 4) == 128 * mib)
    assert(AuditMicroBatchStream.binCap(0L, 128 * mib, 4) == 1L)
    // all-empty input at the floor cap: the files share one bin
    assert(AuditMicroBatchStream.binPack(Seq(f(1, 0), f(2, 0), f(3, 0)), 1L).length == 1)
  }

  test("large n packs in O(n log b) time (1M files well under a second-scale budget)") {
    val rnd = new Random(11)
    val files = (0 until 1000000).map(i => f(i, rnd.nextInt(4 * 1024 * 1024).toLong))
    val t0 = System.nanoTime()
    val bins = AuditMicroBatchStream.binPack(files, 128L * 1024 * 1024)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(bins.flatten.length == files.length)
    assert(sec < 30, s"bin-packing 1M files took ${sec}s — quadratic regression?")
  }
}
