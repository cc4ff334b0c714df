package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

class AhoCorasickSpec extends AnyFunSuite {

  /** Naive all-occurrences counter: slide a window per pattern. */
  private def naive(text: String, pats: Seq[String]): Seq[Long] =
    pats.map { p =>
      (0 to text.length - p.length).count(i => text.regionMatches(i, p, 0, p.length)).toLong
    }

  test("finds overlapping matches of bordered patterns (aba in ababa = 2)") {
    val ac = AhoCorasick.build(Seq("aba"))
    assert(ac.countMatches("ababa").toSeq === Seq(2L))
    assert(AhoCorasick.hasBorder("aba"))
  }

  test("nested and suffix patterns all fire via output links") {
    // "he" ends inside "she"; "hers" shares the "he" path
    val ac = AhoCorasick.build(Seq("he", "she", "his", "hers"))
    assert(ac.countMatches("ushers").toSeq === Seq(1L, 1L, 0L, 1L))
  }

  test("matches can cross token boundaries (substring, not token, semantics)") {
    val ac = AhoCorasick.build(Seq("rt win"))
    assert(ac.countMatches("sort window scan").toSeq === Seq(1L))
  }

  test("agrees with a naive scanner on random texts and random pattern sets") {
    val rnd = new Random(42)
    (0 until 50).foreach { _ =>
      val alphabet = "abc"
      val pats = (0 until (1 + rnd.nextInt(6)))
        .map(_ => (0 until (1 + rnd.nextInt(4))).map(_ => alphabet(rnd.nextInt(3))).mkString)
        .distinct
      val text = (0 until 200).map(_ => alphabet(rnd.nextInt(3))).mkString
      val ac = AhoCorasick.build(pats)
      assert(ac.countMatches(text).toSeq === naive(text, pats), s"pats=$pats")
    }
  }

  test("hasBorder: border-free patterns cannot self-overlap") {
    assert(!AhoCorasick.hasBorder("merge slow"))
    assert(!AhoCorasick.hasBorder("vector"))
    assert(AhoCorasick.hasBorder("abab")) // border "ab"
    assert(AhoCorasick.hasBorder("aa"))
    // property: for border-free p, occurrences in p+p are exactly 2 (no straddle)
    val p = "vector"
    assert(AhoCorasick.build(Seq(p)).countMatches(p + p).toSeq === Seq(2L))
  }

  test("duplicate and empty patterns are rejected loudly") {
    intercept[IllegalArgumentException](AhoCorasick.build(Seq("a", "a")))
    intercept[IllegalArgumentException](AhoCorasick.build(Seq("")))
    intercept[IllegalArgumentException](AhoCorasick.build(Nil))
  }
}
