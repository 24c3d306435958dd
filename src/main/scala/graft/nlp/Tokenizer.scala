package graft.nlp

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

/** Deterministic regex-style word+punct tokenizer (SURVEY.md C7).
  *
  * The reference tokenizes once per document with a HF subword tokenizer and
  * slices per candidate pair (ann_io_generator_cross_sentence_MD.py:48-90 →
  * :158-219 — tokenize-once is one of its few hand-rolled optimizations,
  * SURVEY.md §4). The engine mirrors that shape: `tokenize` runs once per
  * doc inside the narrow per-doc pass; every pair window is a slice of the
  * result. Subword splitting is not semantically load-bearing for the
  * deterministic scorer, so tokens are maximal runs of letters/digits or
  * single punctuation chars — stable, locale-free, and offset-preserving.
  */
object Tokenizer extends Serializable {

  /** A token with its document-absolute [bgn,end) char range. */
  final case class Token(text: String, bgn: Int, end: Int)

  private def isWordChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_'

  /** Tokenize text whose index space starts at `base` (doc-absolute).
    * The result is array-backed: the pair geometry indexes it O(1). */
  def tokenize(text: String, base: Int = 0): IndexedSeq[Token] = {
    val out = new mutable.ArrayBuilder.ofRef[Token]
    out.sizeHint(text.length / 4 + 8)
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (c.isWhitespace) i += 1
      else if (isWordChar(c)) {
        val s = i
        while (i < n && isWordChar(text.charAt(i))) i += 1
        out += Token(text.substring(s, i), base + s, base + i)
      } else {
        out += Token(text.substring(i, i + 1), base + i, base + i + 1)
        i += 1
      }
    }
    ArraySeq.unsafeWrapArray(out.result())
  }

  /** Index of the token containing char offset `pos` (start-inclusive),
    * found by binary search over token begins — O(log n) per lookup, used
    * for pair → token-index mapping (ann_io pair windows). Returns the
    * token whose [bgn,end) contains pos, or the nearest following token. */
  def tokenIndexAt(tokens: IndexedSeq[Token], pos: Int): Int = {
    var lo = 0
    var hi = tokens.length - 1
    var ans = tokens.length
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (tokens(mid).end > pos) { ans = mid; hi = mid - 1 }
      else lo = mid + 1
    }
    ans
  }
}
