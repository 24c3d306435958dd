package graft.score

import graft.core._
import graft.nlp.Tokenizer
import graft.nlp.Tokenizer.Token

import scala.collection.immutable.ArraySeq

/** Pair-window encoding (SURVEY.md §2.5 W3, §2.2 F5, §2.7 C7-C10).
  *
  * Mirrors the reference's encoder
  * (helpers/ann_io_generator_cross_sentence_MD.py):
  *  - the document is tokenized ONCE and every pair window is a slice —
  *    the reference's own key optimization (:48-90 then :158-219; see
  *    SURVEY.md §4 "whole-document tokenize once");
  *  - MASK_EVERYTHING representation (:92-156, :221-297): the two focus
  *    mentions become `[unused1]`, every other entity mention `[unused2]`,
  *    with original char offsets tracked through masking — this is the
  *    strategy the shipped best model uses
  *    (TrainRelationExtractionSystem/ct_train_pipeline.py:105);
  *  - F5 window-fit predicate (:178-181, :243-246): pair token distance +
  *    reserved-mark budget must fit max_seq_len; unfitted pairs are NOT
  *    silently dropped — they surface as false negatives in evaluation
  *    exactly like the reference's FN accounting (:401-523);
  *  - W3 window slice: ⌊(max_len − (dist+reserve))/2⌋ tokens before/after
  *    the pair, clamped to doc bounds (:183-198, :248-262).
  *
  * Padding (C10) is unnecessary: no tensor batch exists — the scorer is a
  * row iterator, so windows stay variable-length.
  */
object WindowEncoder extends Serializable {

  val FocusMask = "[unused1]"
  val OtherMask = "[unused2]"
  /** MASK strategy reserves 4 positions (CLS/SEP + 2 masks) per
    * ann_io_generator_cross_sentence_MD.py:243-246. */
  val MaskReserve = 4
  /** MARK strategy reserves 6 positions — CLS/SEP + 4 boundary markers
    * (ann_io_generator_cross_sentence_MD.py:178-181). */
  val MarkReserve = 6

  /** Representation strategies — the reference's main extension point
    * (helpers/pipeline_variables.py:3-6; dispatch ann_io:312-347; the
    * unimplemented MASK_FOCUS halts there, :313-315, and is likewise
    * absent here). The shipped best model uses MASK_EVERYTHING
    * (ct_train_pipeline.py:105); MARK is the published alternative. */
  sealed trait RepresentationStrategy { def reserve: Int }
  case object MaskEverything extends RepresentationStrategy { val reserve: Int = MaskReserve }

  /** MARK: typed boundary markers `[unused3+2k]`/`[unused4+2k]` inserted
    * around both focus entities, k = the entity type's index in the config
    * (ann_io:23-35 marker table, :158-219 window build). Unlike MASK,
    * document tokens — other entities included — pass through unmasked. */
  final case class Mark(entityTypes: Seq[String]) extends RepresentationStrategy {
    val reserve: Int = MarkReserve
    private val idx = entityTypes.zipWithIndex.toMap
    def bgnMarker(tag: String): String = s"[unused${3 + 2 * idx.getOrElse(tag, 0)}]"
    def endMarker(tag: String): String = s"[unused${4 + 2 * idx.getOrElse(tag, 0)}]"
  }

  /** Per-token mention ownership (mention_id or null), computed ONCE per
    * document and shared across all of its pair encodings. A token belongs
    * to the first mention, in stable begin-offset order, whose char range
    * contains it. One marking pass: mentions are visited by begin offset,
    * so the first token a mention can contain only moves forward. */
  def owners(tokens: IndexedSeq[Token], allMentions: Seq[Mention]): Array[String] = {
    val owner = new Array[String](tokens.length)
    var first = 0 // first token whose end lies past the current mention's bgn
    allMentions.sortBy(_.bgn).foreach { m =>
      while (first < tokens.length && tokens(first).end <= m.bgn) first += 1
      var i = first
      while (i < tokens.length && tokens(i).bgn < m.end) {
        val t = tokens(i)
        if (owner(i) == null && t.bgn >= m.bgn && t.end <= m.end) owner(i) = m.mention_id
        i += 1
      }
    }
    owner
  }

  /** Token-index geometry of one pair: (t1, t1e, t2, t2e, dist, fitted),
    * by binary search over the token array. Per-doc passes use
    * [[PairSpans]], which does the searches once per mention instead. */
  def geometry(tokens: IndexedSeq[Token], p: CandidatePair,
               maxSeqLen: Int): (Int, Int, Int, Int, Int, Boolean) = {
    val t1 = Tokenizer.tokenIndexAt(tokens, p.e1_bgn)
    val t1e = lastToken(tokens, t1, p.e1_end)
    val t2 = Tokenizer.tokenIndexAt(tokens, p.e2_bgn)
    val t2e = lastToken(tokens, t2, p.e2_end)
    val dist = t2e - t1 + 1
    (t1, t1e, t2, t2e, dist, dist + MaskReserve <= maxSeqLen)
  }

  /** max(first, tokenIndexAt(end - 1)) for a span whose first token is
    * `first`; a span ending inside that token (the common one-token
    * mention) needs no second search. */
  private def lastToken(tokens: IndexedSeq[Token], first: Int, end: Int): Int =
    if (first >= tokens.length || tokens(first).end >= end) first
    else math.max(first, Tokenizer.tokenIndexAt(tokens, end - 1))

  /** The same geometry as [[geometry]] for many pairs of one document:
    * each mention's token span [first, last] is searched once, so locating
    * a pair is two map lookups. `locate` fills the mutable fields rather
    * than returning a tuple; a pair whose mention id is not among
    * `mentions`, or whose offsets differ from that mention's, falls back to
    * the offset search. One instance per doc, one thread. */
  final class PairSpans(tokens: IndexedSeq[Token], mentions: Seq[Mention]) {
    private val index = new java.util.HashMap[String, Integer](mentions.length * 2)
    private val bgns = new Array[Int](mentions.length)
    private val ends = new Array[Int](mentions.length)
    private val firsts = new Array[Int](mentions.length)
    private val lasts = new Array[Int](mentions.length)
    mentions.iterator.zipWithIndex.foreach { case (m, k) =>
      index.putIfAbsent(m.mention_id, k)
      bgns(k) = m.bgn
      ends(k) = m.end
      firsts(k) = Tokenizer.tokenIndexAt(tokens, m.bgn)
      lasts(k) = lastToken(tokens, firsts(k), m.end)
    }

    var t1, t1e, t2, t2e = 0
    def dist: Int = t2e - t1 + 1
    def fitted(maxSeqLen: Int): Boolean = dist + MaskReserve <= maxSeqLen

    def locate(p: CandidatePair): Unit = {
      span(p.e1, p.e1_bgn, p.e1_end); t1 = first; t1e = last
      span(p.e2, p.e2_bgn, p.e2_end); t2 = first; t2e = last
    }

    private var first, last = 0
    private def span(id: String, bgn: Int, end: Int): Unit = {
      val k = index.get(id)
      if ((k ne null) && bgns(k) == bgn && ends(k) == end) { first = firsts(k); last = lasts(k) }
      else { first = Tokenizer.tokenIndexAt(tokens, bgn); last = lastToken(tokens, first, end) }
    }
  }

  /** Encode one pair against the shared owner array (W3 slice + MASK). */
  def encodeOne(tokens: IndexedSeq[Token], owner: Array[String],
                p: CandidatePair, maxSeqLen: Int): EncodedPair = {
    val (t1, _, _, t2e, dist, fitted) = geometry(tokens, p, maxSeqLen)
    if (!fitted) {
      EncodedPair(p.doc_id, p.e1, p.e2, p.e1_norm, p.e2_norm,
        p.sent_dist, p.cross_sentence, Nil, Nil, Nil, dist, fitted = false)
    } else {
      val countAround = (maxSeqLen - (dist + MaskReserve)) / 2
      val wBgn = math.max(0, t1 - countAround)
      val wEnd = math.min(tokens.length, t2e + 1 + countAround)
      val masked = new Array[String](wEnd - wBgn)
      val bgns = new Array[Int](wEnd - wBgn)
      val ends = new Array[Int](wEnd - wBgn)
      var i = wBgn
      while (i < wEnd) {
        val t = tokens(i)
        // focus masking decided by the PAIR's char ranges, not the owner
        // array: with overlapping dictionary surfaces (AhoCorasick emits
        // overlaps) the owner array may attribute a focus token to an
        // earlier enclosing mention, which would render it [unused2] and
        // silently lose the pair — the focus check must win
        val isFocus =
          (t.bgn >= p.e1_bgn && t.end <= p.e1_end) ||
            (t.bgn >= p.e2_bgn && t.end <= p.e2_end)
        masked(i - wBgn) =
          if (isFocus) FocusMask
          else if (owner(i) != null) OtherMask
          else t.text
        bgns(i - wBgn) = t.bgn
        ends(i - wBgn) = t.end
        i += 1
      }
      EncodedPair(p.doc_id, p.e1, p.e2, p.e1_norm, p.e2_norm,
        p.sent_dist, p.cross_sentence, ArraySeq.unsafeWrapArray(masked),
        ArraySeq.unsafeWrapArray(bgns), ArraySeq.unsafeWrapArray(ends),
        dist, fitted = true)
    }
  }

  /** Encode every candidate pair of one document against its token array.
    * `allMentions` = every detected mention (for [unused2] masking). */
  def encodeDoc(tokens: IndexedSeq[Token], pairs: Seq[CandidatePair],
                allMentions: Seq[Mention], maxSeqLen: Int): Seq[EncodedPair] = {
    if (pairs.isEmpty) return Nil
    val owner = owners(tokens, allMentions)
    pairs.map(p => encodeOne(tokens, owner, p, maxSeqLen))
  }

  /** Encode one pair under MARK (ann_io:158-219): W3 slice with the +6
    * reserve, typed bgn/end markers inserted around each focus entity,
    * NO masking anywhere else. Marker rows carry the entity boundary as a
    * zero-width (bgn==end) offset so offset tracking stays monotone.
    *
    * Fit predicate: window content = dist + 4 markers + CLS/SEP must fit,
    * i.e. dist + 6 ≤ max_seq_len. (The reference's :178-181 additionally
    * adds both entity token LENGTHS into the distance before comparing —
    * a conservative over-reserve, since the marked window it then builds
    * only grows by the 6 reserved positions; the engine applies the exact
    * geometric requirement.) */
  def encodeOneMark(tokens: IndexedSeq[Token], tagOf: Map[String, String],
                    p: CandidatePair, maxSeqLen: Int,
                    mark: Mark): EncodedPair = {
    val (t1, t1e, t2, t2e, dist, _) = geometry(tokens, p, maxSeqLen)
    val fitted = dist + mark.reserve <= maxSeqLen
    if (!fitted) {
      EncodedPair(p.doc_id, p.e1, p.e2, p.e1_norm, p.e2_norm,
        p.sent_dist, p.cross_sentence, Nil, Nil, Nil, dist, fitted = false)
    } else {
      val countAround = (maxSeqLen - (dist + mark.reserve)) / 2
      val wBgn = math.max(0, t1 - countAround)
      val wEnd = math.min(tokens.length, t2e + 1 + countAround)
      def emit(range: Range): Seq[(String, Int, Int)] =
        range.map(i => (tokens(i).text, tokens(i).bgn, tokens(i).end))
      val tag1 = tagOf.getOrElse(p.e1, "")
      val tag2 = tagOf.getOrElse(p.e2, "")
      val window =
        emit(wBgn until t1) ++
          Seq((mark.bgnMarker(tag1), p.e1_bgn, p.e1_bgn)) ++
          emit(t1 until (t1e + 1)) ++
          Seq((mark.endMarker(tag1), p.e1_end, p.e1_end)) ++
          emit((t1e + 1) until t2) ++
          Seq((mark.bgnMarker(tag2), p.e2_bgn, p.e2_bgn)) ++
          emit(t2 until (t2e + 1)) ++
          Seq((mark.endMarker(tag2), p.e2_end, p.e2_end)) ++
          emit((t2e + 1) until wEnd)
      EncodedPair(p.doc_id, p.e1, p.e2, p.e1_norm, p.e2_norm,
        p.sent_dist, p.cross_sentence,
        window.map(_._1), window.map(_._2), window.map(_._3),
        dist, fitted = true)
    }
  }

  /** Strategy-dispatched document encoding (the engine twin of the
    * reference's strategy switch, ann_io:312-347). */
  def encodeDocWith(strategy: RepresentationStrategy)(
      tokens: IndexedSeq[Token], pairs: Seq[CandidatePair],
      allMentions: Seq[Mention], maxSeqLen: Int): Seq[EncodedPair] =
    strategy match {
      case MaskEverything => encodeDoc(tokens, pairs, allMentions, maxSeqLen)
      case m: Mark =>
        if (pairs.isEmpty) Nil
        else {
          val tagOf = allMentions.map(x => x.mention_id -> x.tag).toMap
          pairs.map(p => encodeOneMark(tokens, tagOf, p, maxSeqLen, m))
        }
    }
}
