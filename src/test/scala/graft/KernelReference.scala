package graft

import graft.core._
import graft.nlp.Tokenizer
import graft.nlp.Tokenizer.Token
import graft.score.WindowEncoder

import scala.collection.mutable

/** The per-doc kernel in its first, direct form: mention ownership by a
  * search over all mentions per token, pair generation as a for-comprehension
  * over the config predicates, four offset searches per scored pair, and an
  * automaton with one hash map per trie node. Slow but plain; the specs
  * assert that the engine's kernel gives equal output. */
object KernelReference {

  def owners(tokens: IndexedSeq[Token], allMentions: Seq[Mention]): Array[String] = {
    val mentionRanges = allMentions.map(m => (m.bgn, m.end, m.mention_id)).sortBy(_._1)
    tokens.map { t =>
      mentionRanges.find(r => t.bgn >= r._1 && t.end <= r._2).map(_._3).orNull
    }.toArray
  }

  def forDoc(mentions: Seq[Mention], config: TaskConfig): Seq[CandidatePair] = {
    val valid = mentions
      .filter(m => config.entities.contains(m.tag) && m.sent_id >= 0)
      .sortBy(m => (m.bgn, m.end, m.mention_id))
    for {
      i <- valid.indices
      j <- (i + 1) until valid.length
      a = valid(i); b = valid(j)
      if config.isValidPair(a.tag, b.tag)
      dist = math.abs(a.sent_id - b.sent_id)
      if config.passesDistancePrune(dist)
    } yield CandidatePair(a.doc_id, a.mention_id, b.mention_id,
      a.norm_id, b.norm_id, a.bgn, a.end, b.bgn, b.end,
      a.sent_id, b.sent_id, dist, cross_sentence = dist > 0)
  }

  /** `MentionDetector.detect`'s ordering and numbering over `findAll` hits. */
  def detect(doc: Doc, ac: AhoCorasick, sentences: Seq[Sentence]): Seq[Mention] = {
    def sentOf(pos: Int): Int = {
      val k = sentences.lastIndexWhere(_.bgn <= pos)
      if (k >= 0 && pos < sentences(k).end) k else -1
    }
    val hits = doc.spans.iterator.filter(s => s.kind == "text" && s.text.nonEmpty)
      .flatMap(s => ac.findAll(s.text, s.offset))
      .toSeq.sortBy(m => (m.bgn, m.end, m.norm_id))
    hits.zipWithIndex.map { case (m, i) =>
      Mention(doc.doc_id, s"T${i + 1}", m.tag, m.bgn, m.end, m.surface,
        m.norm_id, sentOf(m.bgn))
    }
  }

  /** (t1, t1e, t2, t2e, dist, fitted) by four offset searches. */
  def geometry(tokens: IndexedSeq[Token], p: CandidatePair,
               maxSeqLen: Int): (Int, Int, Int, Int, Int, Boolean) = {
    val t1 = Tokenizer.tokenIndexAt(tokens, p.e1_bgn)
    val t1e = math.max(t1, Tokenizer.tokenIndexAt(tokens, p.e1_end - 1))
    val t2 = Tokenizer.tokenIndexAt(tokens, p.e2_bgn)
    val t2e = math.max(t2, Tokenizer.tokenIndexAt(tokens, p.e2_end - 1))
    val dist = t2e - t1 + 1
    (t1, t1e, t2, t2e, dist, dist + WindowEncoder.MaskReserve <= maxSeqLen)
  }

  /** `LexiconScorer.scoreDoc`: per pair, the offset-searched geometry and a
    * scan of the between-masks tokens. */
  def scoreDoc(lexicon: Set[String], tokens: IndexedSeq[Token], mentions: Seq[Mention],
               pairs: Seq[CandidatePair], maxSeqLen: Int): Seq[ScoredPair] = {
    lazy val owner = owners(tokens, mentions)
    pairs.flatMap { p =>
      val (_, t1e, t2, _, _, fitted) = geometry(tokens, p, maxSeqLen)
      if (!fitted) None
      else {
        var hits = 0
        if (p.sent_dist == 0) {
          var i = t1e + 1
          while (i < t2) {
            if (lexicon.contains(tokens(i).text) && owner(i) == null) hits += 1
            i += 1
          }
        }
        if (hits > 0) {
          val enc = WindowEncoder.encodeOne(tokens, owner, p, maxSeqLen)
          Some(ScoredPair(p.doc_id, p.e1, p.e2, p.e1_norm, p.e2_norm,
            p.sent_dist, enc.tokens, enc.tokenBgns, enc.tokenEnds, 0.0, 1.0 + hits))
        } else {
          Some(ScoredPair(p.doc_id, p.e1, p.e2, p.e1_norm, p.e2_norm,
            p.sent_dist, Nil, Nil, Nil, 1.0, 0.0))
        }
      }
    }
  }

  final class AhoCorasick private (
      next: Array[mutable.HashMap[Char, Int]],
      fail: Array[Int],
      out: Array[List[Int]],
      patterns: Array[String],
      payloads: Array[(String, String)]) {

    private def isWordChar(c: Char): Boolean =
      Character.isLetterOrDigit(c) || c == '_'

    def findAll(text: String, base: Int = 0): Seq[graft.nlp.AhoCorasick.Match] = {
      val res = Seq.newBuilder[graft.nlp.AhoCorasick.Match]
      var state = 0
      var i = 0
      val n = text.length
      while (i < n) {
        val c = text.charAt(i)
        var s = state
        while (s != 0 && !next(s).contains(c)) s = fail(s)
        state = next(s).getOrElse(c, 0)
        out(state).foreach { pid =>
          val p = patterns(pid)
          val b = i + 1 - p.length
          val leftOk = b == 0 || !isWordChar(text.charAt(b - 1))
          val rightOk = i + 1 == n || !isWordChar(text.charAt(i + 1))
          if (leftOk && rightOk) {
            val (norm, tag) = payloads(pid)
            res += graft.nlp.AhoCorasick.Match(base + b, base + i + 1, p, norm, tag)
          }
        }
        i += 1
      }
      res.result()
    }
  }

  object AhoCorasick {
    def build(dict: Seq[(String, String, String)]): AhoCorasick = {
      val entries = dict.filter(_._1.nonEmpty)
        .groupBy(_._1).toSeq
        .map { case (surface, rows) => (surface, rows.minBy(r => (r._2, r._3))) }
        .sortBy(_._1)
      val patterns = entries.map(_._1).toArray
      val payloads = entries.map { case (_, (_, n, t)) => (n, t) }.toArray

      val next = mutable.ArrayBuffer(mutable.HashMap.empty[Char, Int])
      val outB = mutable.ArrayBuffer(List.empty[Int])
      patterns.zipWithIndex.foreach { case (p, pid) =>
        var s = 0
        p.foreach { c =>
          s = next(s).getOrElseUpdate(c, {
            next += mutable.HashMap.empty[Char, Int]
            outB += Nil
            next.length - 1
          })
        }
        outB(s) = pid :: outB(s)
      }
      val fail = Array.fill(next.length)(0)
      val queue = mutable.Queue.empty[Int]
      next(0).values.foreach(queue.enqueue(_))
      while (queue.nonEmpty) {
        val u = queue.dequeue()
        next(u).foreach { case (c, v) =>
          var f = fail(u)
          while (f != 0 && !next(f).contains(c)) f = fail(f)
          fail(v) = if (next(f).contains(c) && next(f)(c) != v) next(f)(c) else 0
          outB(v) = outB(v) ++ outB(fail(v))
          queue.enqueue(v)
        }
      }
      new AhoCorasick(next.toArray, fail, outB.toArray, patterns, payloads)
    }
  }
}
