package graft

import graft.core._
import graft.nlp.{AhoCorasick, MentionDetector, SentenceSplitter, Tokenizer}
import graft.pairs.PairGenerator
import graft.score.{LexiconScorer, WindowEncoder}
import org.scalatest.funsuite.AnyFunSuite

/** The per-doc kernel (automaton scan, mention detection, ownership, pair
  * generation, pair geometry, lexicon scoring) gives the same output as the
  * direct forms in [[KernelReference]], row for row and in order. */
class KernelParitySpec extends AnyFunSuite {

  case class Seen(pairs: Int, crossSentence: Int, unfitted: Int, positives: Int) {
    def +(o: Seen): Seen = Seen(pairs + o.pairs, crossSentence + o.crossSentence,
      unfitted + o.unfitted, positives + o.positives)
  }
  val none: Seen = Seen(0, 0, 0, 0)

  private def automata(dict: Seq[(String, String, String)]) =
    (AhoCorasick.build(dict), KernelReference.AhoCorasick.build(dict))

  /** Runs every kernel function on one doc against its reference. */
  private def checkDoc(doc: Doc, dict: Seq[(String, String, String)], config: TaskConfig,
                       lexicon: Set[String] = CorpusGen.triggerLexicon): Seen = {
    val (ac, ref) = automata(dict)
    doc.spans.filter(_.kind == "text").foreach { s =>
      assert(ac.findAll(s.text, s.offset) == ref.findAll(s.text, s.offset),
        s"automaton differs on doc ${doc.doc_id} span at ${s.offset}")
    }
    val sents = SentenceSplitter.split(doc)
    val mentions = MentionDetector.detect(doc, ac, sents)
    assert(mentions == KernelReference.detect(doc, ref, sents), s"mentions of ${doc.doc_id}")
    val tokens = Tokenizer.tokenize(SentenceSplitter.docText(doc))
    assert(WindowEncoder.owners(tokens, mentions).toSeq ==
      KernelReference.owners(tokens, mentions).toSeq, s"owners of ${doc.doc_id}")
    val pairs = PairGenerator.forDoc(mentions, config)
    assert(pairs == KernelReference.forDoc(mentions, config), s"pairs of ${doc.doc_id}")
    val g = new WindowEncoder.PairSpans(tokens, mentions)
    var unfitted = 0
    pairs.foreach { p =>
      val ref = KernelReference.geometry(tokens, p, config.maxSeqLen)
      assert(WindowEncoder.geometry(tokens, p, config.maxSeqLen) == ref, s"geometry of $p")
      g.locate(p)
      assert((g.t1, g.t1e, g.t2, g.t2e, g.dist, g.fitted(config.maxSeqLen)) == ref,
        s"pair spans of $p")
      if (!ref._6) unfitted += 1
    }
    val scored = new LexiconScorer(lexicon)
      .scoreDoc(tokens, mentions, pairs, config.maxSeqLen).toList
    assert(scored == KernelReference.scoreDoc(lexicon, tokens, mentions, pairs,
      config.maxSeqLen).toList, s"scores of ${doc.doc_id}")
    Seen(pairs.length, pairs.count(_.cross_sentence), unfitted,
      scored.count(s => s.score_pos > s.score_neg))
  }

  private def textDoc(id: String, text: String) = Doc(id, Seq(Span("text", text, "", 0)))

  private val corpus = CorpusGen.Params(nDocs = 300)
  private val corpusDict = CorpusGen.dictionary(corpus).map(d => (d.surface, d.norm_id, d.tag))

  test("300 generated docs: equal output under the task and the trigger config") {
    Seq(TaskConfig.complexTome, TaskConfig.complexTomeTriggers).foreach { config =>
      val seen = (0 until 300).map { i =>
        checkDoc(CorpusGen.genDoc(corpus, i).doc, corpusDict, config)
      }.foldLeft(none)(_ + _)
      assert(seen.pairs > 1000 && seen.crossSentence > 0 && seen.unfitted > 0 &&
        seen.positives > 0, s"too little exercised under $config: $seen")
    }
  }

  test("overlapping dictionary surfaces: equal output") {
    val dict = Seq(("alpha p53", "nA", "Protein"), ("p53", "nB", "Protein"),
      ("ABC1", "nC", "Protein"))
    val seen = checkDoc(textDoc("d", "alpha p53 binds ABC1."), dict,
      TaskConfig.complexTome, Set("binds"))
    assert(seen.pairs == 3 && seen.positives > 0, s"$seen")
  }

  test("hub doc: 160 mentions, >10k pairs, cross-sentence and unfitted") {
    // four sentences of 40 mentions, ~4 tokens apart: within-sentence and
    // cross-sentence pairs both span more than max_seq_len tokens
    val sentences = (0 until 4).map { s =>
      (0 until 40).map { k =>
        val filler = if (k % 3 == 0) "binds" else "and"
        s"PROT${(s * 40 + k) % 90}Q $filler w, x"
      }.mkString(" ") + "."
    }
    val dict = corpusDict :+ (("PROT3Q binds", "nHub", "Protein"))
    val doc = textDoc("hub", sentences.mkString(" "))
    Seq(TaskConfig.complexTome, TaskConfig.complexTomeTriggers).foreach { config =>
      val seen = checkDoc(doc, dict, config)
      assert(seen.pairs >= 10000 && seen.crossSentence > 0 && seen.unfitted > 0 &&
        seen.positives > 0, s"hub doc under-exercised: $seen")
    }
    val (ac, _) = automata(dict)
    assert(MentionDetector.detect(doc, ac, SentenceSplitter.split(doc)).length >= 150)
  }

  test("non-ASCII text and word-boundary characters: equal output") {
    val dict = Seq(("α-syn", "nA", "Protein"), ("p53β", "nB", "Protein"),
      ("Ωmega1", "nC", "Protein"), ("naïve", "nD", "Protein"),
      ("PROT_1", "nE", "Protein"), ("𝛂X1", "nF", "Protein"),
      ("PROT2", "nG", "Protein"), ("β", "nH", "Protein"))
    val text = "α-syn binds p53β; Ωmega1·naïve PROT_1 x_PROT_1 𝛂X1 binds " +
      "ÄPROT2 PROT2é PROT2. β binds α-synβ, p53β-β!  PROT_1\tbinds PROT2 β"
    val seen = checkDoc(textDoc("u", text), dict, TaskConfig.complexTome)
    assert(seen.pairs > 10 && seen.positives > 0, s"$seen")
  }

  test("directed relation config and the trigger config: equal output") {
    val directed = TaskConfig(
      entities = Set("Protein", "Chemical"),
      relations = Seq(
        RelationSpec("Binds", directed = true, validPairs = Seq(("Chemical", "Protein"))),
        RelationSpec("Complex_formation", directed = false,
          validPairs = Seq(("Protein", "Protein")))),
      negativeSentenceDistanceCutoff = Some(2),
      maxSeqLen = 16)
    val dict = Seq(("ATP", "c1", "Chemical"), ("NADH", "c2", "Chemical"),
      ("KRAS", "p1", "Protein"), ("BRAF", "p2", "Protein"), ("TP53", "g1", "Gene"))
    val doc = textDoc("dir",
      "ATP binds KRAS. KRAS binds ATP and TP53. NADH with BRAF binds KRAS near ATP. " +
        "BRAF then NADH. TP53 binds BRAF, ATP binds NADH and KRAS binds BRAF there.")
    Seq(directed, directed.copy(negativeSentenceDistanceCutoff = Some(0)),
      directed.copy(maxSeqLen = 128), TaskConfig.complexTomeTriggers).foreach { config =>
      checkDoc(doc, dict, config)
    }
    val seen = checkDoc(doc, dict, directed)
    assert(seen.pairs > 0 && seen.crossSentence > 0 && seen.unfitted > 0, s"$seen")
  }

  test("geometry: every char range, including empty, mid-token and out-of-text ones") {
    val text = "AB binds, CD-1.  xy_z αβ γ"
    val tokens = Tokenizer.tokenize(text)
    val n = text.length
    for (bgn <- -2 to n + 2; end <- bgn - 2 to n + 3; maxSeqLen <- Seq(6, 128)) {
      val p = CandidatePair("d", "e1", "e2", "n1", "n2", bgn, end, 10, 12, 0, 0, 0,
        cross_sentence = false)
      val swapped = p.copy(e1_bgn = 10, e1_end = 12, e2_bgn = bgn, e2_end = end)
      Seq(p, swapped).foreach { q =>
        val ref = KernelReference.geometry(tokens, q, maxSeqLen)
        assert(WindowEncoder.geometry(tokens, q, maxSeqLen) == ref, s"geometry of $q")
        val g = new WindowEncoder.PairSpans(tokens, Nil)
        g.locate(q)
        assert((g.t1, g.t1e, g.t2, g.t2e, g.dist, g.fitted(maxSeqLen)) == ref, s"spans of $q")
      }
    }
  }

  test("pair generation: hand-built mentions with ties, unknown tags, no sentence") {
    def m(id: String, tag: String, bgn: Int, end: Int, sent: Int) =
      Mention("d", id, tag, bgn, end, "x", s"n$id", sent)
    val mentions = Seq(m("T3", "Protein", 5, 9, 0), m("T1", "Protein", 5, 9, 0),
      m("T2", "Chemical", 0, 4, 1), m("T4", "Gene", 2, 3, 0),
      m("T5", "Protein", 12, 14, -1), m("T6", "Protein", 5, 7, 3),
      m("T7", "Chemical", 20, 22, 9))
    val configs = Seq(TaskConfig.complexTome, TaskConfig.complexTomeTriggers,
      TaskConfig(Set("Protein", "Chemical"),
        Seq(RelationSpec("Binds", directed = true, Seq(("Protein", "Chemical")))),
        Some(3), 128))
    configs.foreach { config =>
      assert(PairGenerator.forDoc(mentions, config) ==
        KernelReference.forDoc(mentions, config), s"under $config")
    }
  }

  test("scoreDoc: pairs naming mention ids absent from `mentions` use their offsets") {
    val lexicon = CorpusGen.triggerLexicon
    // the last doc's mention surfaces are lexicon words: without `mentions`
    // nothing owns them, so the focus tokens themselves must not count
    val lexiconSurfaces = Seq(("complex", "nA", "Protein"), ("heterodimer", "nB", "Protein"),
      ("ABC1", "nC", "Protein"))
    val docs = (0 until 60).map(i => (CorpusGen.genDoc(corpus, i).doc, corpusDict)) :+
      ((textDoc("lx", "complex binds heterodimer, complex binds ABC1 dimerizes."),
        lexiconSurfaces))
    var renamed = 0
    docs.foreach { case (doc, dict) =>
      val (ac, _) = automata(dict)
      val mentions = MentionDetector.detect(doc, ac, SentenceSplitter.split(doc))
      val tokens = Tokenizer.tokenize(SentenceSplitter.docText(doc))
      val pairs = PairGenerator.forDoc(mentions, TaskConfig.complexTome)
      // unknown ids, and known ids whose offsets belong to another mention
      val unknown = pairs.map(p => p.copy(e1 = "X" + p.e1, e2 = "Y" + p.e2))
      val swapped = pairs.map(p => p.copy(e1 = p.e2, e2 = p.e1))
      Seq(unknown, swapped).foreach { ps =>
        Seq(mentions, Nil).foreach { ms =>
          val got = new LexiconScorer(lexicon).scoreDoc(tokens, ms, ps, 128).toList
          assert(got == KernelReference.scoreDoc(lexicon, tokens, ms, ps, 128).toList,
            s"doc ${doc.doc_id}")
        }
      }
      renamed += unknown.length
    }
    assert(renamed > 100, s"too few pairs exercised: $renamed")
  }
}
