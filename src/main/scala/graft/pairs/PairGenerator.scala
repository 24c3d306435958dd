package graft.pairs

import graft.core._
import graft.nlp.{MentionDetector, SentenceSplitter, AhoCorasick}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}

import scala.collection.immutable.ArraySeq

/** Candidate-pair generation (SURVEY.md §2.3 J3/J4, §2.2 F1-F4).
  *
  * Reference semantics (helpers/example_generation_cross_sentence_MD.py):
  *  - F1 valid-entity filter: tag ∈ configs.entities (:96);
  *  - F3 valid-pair-type predicate over the symmetrized closure (:159-172);
  *  - J3 all unordered mention pairs, `itertools.combinations` (:271-287),
  *    e1 = first-occurring mention by char offset (:311-317);
  *  - F4 sentence-distance prune: negatives skipped when
  *    |sent(e1)-sent(e2)| ≥ k (:275-279) — positives are never pruned;
  *    in prediction mode all candidates are prune-subject (the large-scale
  *    corpus carries no gold relations).
  *
  * Per-document combinations run inside the narrow per-doc pass — the doc
  * is the natural partition unit, so no self-join shuffle amplification
  * (SURVEY.md §2.3 discussion on J3). At 100 TB the candidate count is
  * bounded per doc (≤ a few hundred mentions ⇒ ≤ ~10⁴ pairs), never global.
  */
object PairGenerator extends Serializable {

  /** Unordered candidate pairs of one document. `mentions` must carry
    * sent_ids (from MentionDetector). Pure — usable in flatMap. The F3
    * tag-pair table and the F4 cutoff are resolved once per call, so the
    * pair loop only indexes arrays. */
  def forDoc(mentions: Seq[Mention], config: TaskConfig): Seq[CandidatePair] = {
    val valid = mentions
      .filter(m => config.entities.contains(m.tag) && m.sent_id >= 0) // F1
      .toArray
    java.util.Arrays.sort(valid, ByPosition)
    val n = valid.length
    if (n < 2) return Nil
    // F3 over the doc's distinct tags: validTag(ti * nTags + tj)
    val tags = valid.iterator.map(_.tag).distinct.toArray
    val nTags = tags.length
    val tagIdx = valid.map(m => tags.indexOf(m.tag))
    val validTag = Array.tabulate(nTags * nTags)(k =>
      config.isValidPair(tags(k / nTags), tags(k % nTags)))
    val prune = config.negativeSentenceDistanceCutoff.isDefined // F4
    val cutoff = config.negativeSentenceDistanceCutoff.getOrElse(0)
    val out = ArraySeq.newBuilder[CandidatePair]
    var i = 0
    while (i < n) {
      val a = valid(i)
      val row = tagIdx(i) * nTags
      var j = i + 1
      while (j < n) {
        val b = valid(j)
        val dist = math.abs(a.sent_id - b.sent_id)
        if (validTag(row + tagIdx(j)) && (!prune || dist < cutoff))
          out += CandidatePair(a.doc_id, a.mention_id, b.mention_id,
            a.norm_id, b.norm_id, a.bgn, a.end, b.bgn, b.end,
            a.sent_id, b.sent_id, dist, cross_sentence = dist > 0)
        j += 1
      }
      i += 1
    }
    out.result()
  }

  /** (bgn, end, mention_id) — the J3 first-occurrence order. */
  private object ByPosition extends java.util.Comparator[Mention] with Serializable {
    def compare(x: Mention, y: Mention): Int =
      if (x.bgn != y.bgn) Integer.compare(x.bgn, y.bgn)
      else if (x.end != y.end) Integer.compare(x.end, y.end)
      else x.mention_id.compareTo(y.mention_id)
  }

  /** J2 — per-document equiv transitive expansion (reference:
    * example_generation_cross_sentence_MD.py:85-92, :176-208): equiv sets
    * sharing members are unioned (in-group closure), and each positive
    * pair is replicated over e1_equivs × e2_equivs. Used in gold/training
    * mode where `*\tEquiv` lines exist; prediction mode has no positives
    * to expand. */
  def unionEquivSets(sets: Seq[Set[String]]): Seq[Set[String]] = {
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    sets.foreach { s =>
      s.toSeq.sortBy(identity).sliding(2).foreach {
        case Seq(a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        case _ =>
      }
    }
    sets.flatten.distinct.groupBy(find).values.map(_.toSet).toSeq
      .sortBy(_.min)
  }

  /** Replicate (e1, e2) positive pairs over their equiv closures; the
    * output keeps unordered-pair uniqueness. */
  def expandPositives(positives: Seq[(String, String)],
                      equivSets: Seq[Set[String]]): Seq[(String, String)] = {
    val closed = unionEquivSets(equivSets)
    val setOf = closed.flatMap(s => s.map(_ -> s)).toMap
    positives.flatMap { case (a, b) =>
      for {
        x <- setOf.getOrElse(a, Set(a)).toSeq
        y <- setOf.getOrElse(b, Set(b)).toSeq
        if x != y
      } yield if (x < y) (x, y) else (y, x)
    }.distinct
  }

  /** Dataset-level stage (used by tests and exploratory queries; the
    * pipeline hot path uses the fused per-doc pass in KgPipeline). */
  def generate(docs: Dataset[Doc], dict: Broadcast[AhoCorasick],
               config: TaskConfig)(implicit spark: SparkSession): Dataset[CandidatePair] = {
    import spark.implicits._
    docs.flatMap { doc =>
      val sents = SentenceSplitter.split(doc)
      forDoc(MentionDetector.detect(doc, dict.value, sents), config)
    }
  }
}
