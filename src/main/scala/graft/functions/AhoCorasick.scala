package graft.functions

import scala.collection.mutable

/** Aho–Corasick multi-pattern substring matcher — the curation kernel
  * for literal blocklists (badword / boilerplate phrase lists), which
  * are SUBSTRING semantics in practice, not token equality (r03's
  * rung). One automaton pass over a document finds every occurrence of
  * every pattern simultaneously: O(text + matches) per document
  * regardless of pattern count, where the per-pattern `contains`/
  * `replace` loop is O(text × patterns).
  *
  * Built from the textbook construction (goto trie + BFS failure links
  * + output links merged along failures). At scale the automaton is
  * built ONCE from the broadcast pattern list and reused across a
  * task's documents — it is immutable after construction and safe to
  * share across threads.
  */
final class AhoCorasick private (
    // flat trie: per-node sorted parallel arrays of (char, next) edges
    edgeChars: Array[Array[Char]],
    edgeNexts: Array[Array[Int]],
    fail: Array[Int],
    // per-node matched pattern ids (already merged along failure links)
    outputs: Array[Array[Int]],
    val patterns: Seq[String]) extends Serializable {

  private def step(state0: Int, c: Char): Int = {
    var state = state0
    while (true) {
      val idx = java.util.Arrays.binarySearch(edgeChars(state), c)
      if (idx >= 0) return edgeNexts(state)(idx)
      if (state == 0) return 0
      state = fail(state)
    }
    0 // unreachable
  }

  /** Count every occurrence (including overlapping and nested ones) of
    * each pattern in `text`. Returns a counts array indexed like
    * `patterns`.
    */
  def countMatches(text: String): Array[Long] = {
    val counts = new Array[Long](patterns.length)
    var state = 0
    var i = 0
    while (i < text.length) {
      state = step(state, text.charAt(i))
      val out = outputs(state)
      var j = 0
      while (j < out.length) { counts(out(j)) += 1L; j += 1 }
      i += 1
    }
    counts
  }

  /** True as soon as ANY pattern occurs in `text` — the blocklist
    * drop-filter fast path (early exit, no counts array allocated).
    */
  def containsAny(text: String): Boolean = {
    var state = 0
    var i = 0
    while (i < text.length) {
      state = step(state, text.charAt(i))
      if (outputs(state).length > 0) return true
      i += 1
    }
    false
  }
}

object AhoCorasick {

  def build(patterns: Seq[String]): AhoCorasick = {
    require(patterns.nonEmpty, "empty pattern list")
    require(patterns.forall(_.nonEmpty), "empty pattern")
    require(patterns.distinct.length == patterns.length, s"duplicate patterns")
    // mutable trie
    val children = mutable.ArrayBuffer(mutable.TreeMap.empty[Char, Int])
    val patEnd = mutable.ArrayBuffer(List.empty[Int])
    patterns.zipWithIndex.foreach { case (p, pid) =>
      var node = 0
      p.foreach { c =>
        node = children(node).getOrElseUpdate(c, {
          children += mutable.TreeMap.empty[Char, Int]
          patEnd += Nil
          children.length - 1
        })
      }
      patEnd(node) ::= pid
    }
    val n = children.length
    val fail = new Array[Int](n)
    val outputs = Array.fill(n)(List.empty[Int])
    (0 until n).foreach(i => outputs(i) = patEnd(i))
    // BFS failure links; merge outputs along them
    val queue = mutable.Queue.empty[Int]
    children(0).values.foreach { c => fail(c) = 0; queue += c }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      children(u).foreach { case (ch, v) =>
        var f = fail(u)
        while (f != 0 && !children(f).contains(ch)) f = fail(f)
        fail(v) = children(f).get(ch).filter(_ != v).getOrElse(0)
        outputs(v) = outputs(v) ++ outputs(fail(v))
        queue += v
      }
    }
    new AhoCorasick(
      children.map(_.keysIterator.toArray).toArray,
      children.map(_.valuesIterator.toArray).toArray,
      fail,
      outputs.map(_.toArray.sorted),
      patterns)
  }

  /** True iff `p` has a border (a proper prefix that is also a suffix).
    * Border-free patterns cannot self-overlap, so "all occurrences"
    * (what the automaton counts) equals the non-overlapping count a
    * replace-based oracle computes — w06 requires this so its SQL
    * oracle is exact.
    */
  def hasBorder(p: String): Boolean =
    (1 until p.length).exists(k => p.startsWith(p.substring(p.length - k)))
}
