package graft.score

import graft.core._

/** The engine's model boundary (SURVEY.md §2.9): the reference's pluggable
  * predict backend (helpers/pipeline_variables.py:8-11, keras-BERT/HF-TF/
  * HF-Torch behind one `build_model/predict` shape) becomes a trait whose
  * implementations run batched inside `mapPartitions` — identity columns
  * stay on-row, eliminating the reference's positional pair_tracking zip
  * (J5, large_scale_prediction_pipeline_pt.py:447).
  */
trait RelationScorer extends Serializable {
  import graft.nlp.Tokenizer.Token

  /** Batch-amortized scoring: an iterator in, an iterator out, so an
    * implementation may buffer rows into fixed-size batches (the engine
    * analog of the reference's padded tensor batches,
    * ann_io_generator_cross_sentence_MD.py:377-381). */
  def score(pairs: Iterator[EncodedPair]): Iterator[ScoredPair]

  /** Per-document fast path used by the fused pipeline pass: the scorer
    * sees the doc's raw tokens + mentions + candidate pairs and may avoid
    * materializing encoded windows for rows it will score negative (the
    * window is only consumed downstream by trigger detection, which is
    * positives-gated). Default = encode-everything then `score` —
    * semantically the reference decode path; override to skip the windows
    * of negatives (equivalence is asserted in ScorerParitySpec). */
  def scoreDoc(tokens: IndexedSeq[Token], mentions: Seq[Mention],
               pairs: Seq[CandidatePair], maxSeqLen: Int): Iterator[ScoredPair] =
    score(WindowEncoder.encodeDoc(tokens, pairs, mentions, maxSeqLen)
      .iterator.filter(_.fitted))
}

/** Deterministic lexicon scorer (SURVEY.md §7.1 module 5, §7.3 risk 1).
  *
  * The reference's positives come from a fine-tuned RoBERTa we cannot run
  * (no GPU/transformers in the sandbox); the scorer re-implements the
  * *decision semantics* of the decode path on deterministic features:
  * a pair is Complex_formation-positive iff
  *   (a) both mentions are in the same sentence, and
  *   (b) a trigger-lexicon token occurs strictly BETWEEN the two focus
  *       masks in the encoded window
  * — the same features the corpus generator plants (FIXTURES.md §5), so
  * any P/R loss below the 0.95 gate is a pipeline bug. Scores are emitted
  * as a 2-class pseudo-logit pair; argmax decoding downstream matches the
  * reference's argmax(softmax)=argmax(logits) identity
  * (helpers/pt_model_helper.py:353-371, C6).
  */
class LexiconScorer(lexicon: Set[String]) extends RelationScorer {
  import graft.nlp.Tokenizer.Token

  override def score(pairs: Iterator[EncodedPair]): Iterator[ScoredPair] =
    pairs.map { p =>
      val first = p.tokens.indexOf(WindowEncoder.FocusMask)
      val last = p.tokens.lastIndexOf(WindowEncoder.FocusMask)
      val hits =
        if (first < 0 || last <= first) 0
        else p.tokens.slice(first + 1, last).count(t => lexicon.contains(t))
      val positive = p.sent_dist == 0 && hits > 0
      // pseudo-logits: pos wins iff the rule fires (argmax decode, C6)
      val (neg, pos) = if (positive) (0.0, 1.0 + hits) else (1.0, 0.0)
      ScoredPair(p.doc_id, p.e1, p.e2, p.e1_norm, p.e2_norm, p.sent_dist,
        p.tokens, p.tokenBgns, p.tokenEnds, neg, pos)
    }

  /** Per-doc fast path: the rule reads only the between-masks region of
    * the window, which is exactly tokens (t1e, t2) — it always fits inside
    * the W3 slice because the pair fits max_seq_len. Tokens owned by OTHER
    * mentions are excluded, mirroring their [unused2] masking in the window
    * path. Per doc: one ownership pass, one prefix count of unowned lexicon
    * tokens and one token span per mention; per pair: two span lookups and
    * one subtraction. Windows are built only for positives; negatives carry
    * empty ones, and unfitted pairs emit no row. */
  override def scoreDoc(tokens: IndexedSeq[Token], mentions: Seq[Mention],
                        pairs: Seq[CandidatePair], maxSeqLen: Int): Iterator[ScoredPair] = {
    if (pairs.isEmpty) return Iterator.empty
    val owner = WindowEncoder.owners(tokens, mentions)
    // lexBefore(k) = unowned lexicon tokens among tokens(0 until k)
    val lexBefore = new Array[Int](tokens.length + 1)
    var k = 0
    while (k < tokens.length) {
      val hit = owner(k) == null && lexicon.contains(tokens(k).text)
      lexBefore(k + 1) = lexBefore(k) + (if (hit) 1 else 0)
      k += 1
    }
    val g = new WindowEncoder.PairSpans(tokens, mentions)

    def row(p: CandidatePair): ScoredPair = {
      val hits =
        if (p.sent_dist == 0 && g.t2 > g.t1e + 1) lexBefore(g.t2) - lexBefore(g.t1e + 1)
        else 0
      if (hits > 0) {
        val enc = WindowEncoder.encodeOne(tokens, owner, p, maxSeqLen)
        ScoredPair(p.doc_id, p.e1, p.e2, p.e1_norm, p.e2_norm,
          p.sent_dist, enc.tokens, enc.tokenBgns, enc.tokenEnds, 0.0, 1.0 + hits)
      } else {
        ScoredPair(p.doc_id, p.e1, p.e2, p.e1_norm, p.e2_norm,
          p.sent_dist, Nil, Nil, Nil, 1.0, 0.0)
      }
    }

    new Iterator[ScoredPair] {
      private val it = pairs.iterator
      private var pending = advance()
      private def advance(): ScoredPair = {
        while (it.hasNext) {
          val p = it.next()
          g.locate(p)
          if (g.fitted(maxSeqLen)) return row(p)
        }
        null
      }
      def hasNext: Boolean = pending != null
      def next(): ScoredPair = {
        if (pending == null) throw new NoSuchElementException("next on empty iterator")
        val r = pending
        pending = advance()
        r
      }
    }
  }
}

object LexiconScorer {
  /** Default scorer over the shared trigger lexicon. */
  def default: LexiconScorer = new LexiconScorer(CorpusGen.triggerLexicon)
}
