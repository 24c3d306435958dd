package graft.nlp

import scala.collection.mutable

/** Serializable Aho-Corasick automaton for multi-pattern dictionary
  * matching in one pass over document text.
  *
  * This is the engine's scale path for mention detection (SURVEY.md §7.1
  * module `nlp`): the entity dictionary (protein surfaces + aliases,
  * FIXTURES.md §2) is compiled once on the driver, broadcast, and each
  * document is scanned in O(|text| + matches) inside a narrow map — the
  * Spark-first replacement for the reference corpus's precomputed `T`
  * entity lines (brat_json_converter.py:80-88). A per-pattern `indexOf`
  * scan would be O(|dict| · |text|) and fall over at 100 TB; Aho-Corasick
  * is independent of dictionary size at scan time.
  *
  * Matches are emitted only on word boundaries (chars adjacent to the match
  * must be non-word), mirroring token-aligned entity spans in the corpus.
  */
final class AhoCorasick private (
    // CSR trie: state s's edges are edgeChar/edgeTarget over
    // edgeStart(s) until edgeStart(s + 1), sorted by char — O(states)
    // primitive arrays, no per-node map, compact to serialize/broadcast
    private val edgeStart: Array[Int],
    private val edgeChar: Array[Char],
    private val edgeTarget: Array[Int],
    private val fail: Array[Int],
    // pattern ids ending at state s: outIds over outStart(s) until
    // outStart(s + 1) — the state's own pattern, then its fail chain's
    private val outStart: Array[Int],
    private val outIds: Array[Int],
    val patterns: Array[String],
    val payloads: Array[(String, String)] // (norm_id, tag) per pattern
) extends Serializable {
  import AhoCorasick.Match

  private def isWordChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_'

  /** Target of state `s`'s edge on `c`, or -1: binary search over the
    * state's sorted edge range. */
  private def step(s: Int, c: Char): Int = {
    var lo = edgeStart(s)
    var hi = edgeStart(s + 1) - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val m = edgeChar(mid)
      if (m < c) lo = mid + 1
      else if (m > c) hi = mid - 1
      else return edgeTarget(mid)
    }
    -1
  }

  /** All word-boundary-valid dictionary matches in `text`; offsets are
    * `base`-shifted (doc-absolute). Overlapping matches are all emitted,
    * as in brat corpora where entity spans may overlap. */
  def findAll(text: String, base: Int = 0): Seq[Match] = {
    val res = Seq.newBuilder[Match]
    var state = 0
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      var s = state
      var t = step(s, c)
      while (t < 0 && s != 0) { s = fail(s); t = step(s, c) }
      state = if (t < 0) 0 else t
      // out-links are pre-propagated through fail links at build time
      var k = outStart(state)
      while (k < outStart(state + 1)) {
        val pid = outIds(k)
        val p = patterns(pid)
        val b = i + 1 - p.length
        val leftOk = b == 0 || !isWordChar(text.charAt(b - 1))
        val rightOk = i + 1 == n || !isWordChar(text.charAt(i + 1))
        if (leftOk && rightOk) {
          val (norm, tag) = payloads(pid)
          res += Match(base + b, base + i + 1, p, norm, tag)
        }
        k += 1
      }
      i += 1
    }
    res.result()
  }
}

object AhoCorasick {
  final case class Match(bgn: Int, end: Int, surface: String, norm_id: String, tag: String)

  /** Build the automaton from (surface, norm_id, tag) dictionary rows.
    * Duplicate surfaces keep the lexicographically-smallest norm_id so the
    * automaton is deterministic regardless of input row order. */
  def build(dict: Seq[(String, String, String)]): AhoCorasick = {
    val entries = dict.filter(_._1.nonEmpty)
      .groupBy(_._1).toSeq
      .map { case (surface, rows) => (surface, rows.minBy(r => (r._2, r._3))) }
      .sortBy(_._1)
    val patterns = entries.map(_._1).toArray
    val payloads = entries.map { case (_, (_, n, t)) => (n, t) }.toArray

    // the trie, with sorted children, before flattening
    val children = mutable.ArrayBuffer(mutable.TreeMap.empty[Char, Int])
    val own = mutable.ArrayBuffer(-1)
    patterns.zipWithIndex.foreach { case (p, pid) =>
      var s = 0
      p.foreach { c =>
        s = children(s).getOrElseUpdate(c, {
          children += mutable.TreeMap.empty[Char, Int]
          own += -1
          children.length - 1
        })
      }
      own(s) = pid
    }
    val nStates = children.length
    val edgeStart = new Array[Int](nStates + 1)
    (0 until nStates).foreach(s => edgeStart(s + 1) = edgeStart(s) + children(s).size)
    val edgeChar = new Array[Char](edgeStart(nStates))
    val edgeTarget = new Array[Int](edgeStart(nStates))
    (0 until nStates).foreach { s =>
      children(s).iterator.zipWithIndex.foreach { case ((c, v), k) =>
        edgeChar(edgeStart(s) + k) = c
        edgeTarget(edgeStart(s) + k) = v
      }
    }

    // fail links and propagated outputs, breadth-first so that a state's
    // fail target (always shallower) is final before the state is visited
    val fail = new Array[Int](nStates)
    val out = Array.tabulate(nStates)(s => if (own(s) >= 0) List(own(s)) else Nil)
    val queue = mutable.Queue.empty[Int]
    children(0).values.foreach(queue.enqueue(_))
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      children(u).foreach { case (c, v) =>
        var f = fail(u)
        while (f != 0 && !children(f).contains(c)) f = fail(f)
        fail(v) = children(f).get(c).filter(_ != v).getOrElse(0)
        out(v) = out(v) ++ out(fail(v))
        queue.enqueue(v)
      }
    }
    val outStart = new Array[Int](nStates + 1)
    (0 until nStates).foreach(s => outStart(s + 1) = outStart(s) + out(s).length)
    val outIds = out.flatten

    new AhoCorasick(edgeStart, edgeChar, edgeTarget, fail, outStart, outIds,
      patterns, payloads)
  }
}
