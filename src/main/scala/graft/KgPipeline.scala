package graft

import graft.canon.ConnectedComponents
import graft.core._
import graft.ingest.DocValidator
import graft.nlp.{AhoCorasick, MentionDetector, SentenceSplitter, Tokenizer}
import graft.pairs.PairGenerator
import graft.score.{RelationScorer, WindowEncoder}
import graft.triggers.TriggerDetector
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end KG-construction pipeline (SURVEY.md §3.1 re-expressed
  * Spark-first).
  *
  * Physical shape at cluster scale (SURVEY.md §4 "physical execution"):
  * the entire extract→encode→score path is ONE narrow pass per document —
  * doc text is tokenized once and every stage is a function of the in-hand
  * doc (the reference's per-doc loop, tf.py:293-434, without its process
  * boundary). Triples leave that pass final: negatives are dropped inside
  * it, and each positive becomes a [[Triple]] whose arguments resolve
  * through the canonical map (the reference's per-row dict lookup,
  * evalsorel.py:100-108), so the triples path has no join and no shuffle.
  * The only shuffles are:
  *   1. canonicalization (iterative self-joins over the tiny entity-edge
  *      Dataset, not the corpus), and only when the edge set is too large
  *      for the driver-side union-find;
  *   2. the node-table aggregation.
  * The dictionary automaton and the canonical map each travel as one
  * broadcast value. Nothing ever collects mention- or pair-level data to
  * the driver.
  *
  * Triples are intentionally NOT deduplicated here: the reference writes
  * every positive prediction row (one per sentence context —
  * tf.py:400-407), and duplicates collapse only at evaluation time, where
  * Evalsorel keys on the canonical (doc, type, args) set. A doc with the
  * same pair positive in two sentences therefore emits two triple rows,
  * and metrics' positive_triples counts rows, not distinct triples.
  */
object KgPipeline {

  case class Output(triples: Dataset[Triple], triggers: Dataset[Trigger],
                    scoredAll: Dataset[ScoredPair], unfitted: DataFrame,
                    nodes: DataFrame, quarantine: Dataset[QuarantineRow])

  /** The fused narrow pass: docs → encoded candidate pairs.
    * Exposed separately so tests/queries can observe the intermediate.
    * `strategy` selects the representation (MASK_EVERYTHING default — the
    * shipped best model's; MARK for typed boundary markers), dispatched
    * per doc with no change to the plan shape. */
  def encodeCandidates(docs: Dataset[Doc], dict: Broadcast[AhoCorasick],
                       config: TaskConfig,
                       strategy: WindowEncoder.RepresentationStrategy =
                         WindowEncoder.MaskEverything)
                      (implicit spark: SparkSession): Dataset[EncodedPair] = {
    import spark.implicits._
    docs.flatMap { doc =>
      val sentences = SentenceSplitter.split(doc)
      val mentions = MentionDetector.detect(doc, dict.value, sentences)
      val pairs = PairGenerator.forDoc(mentions, config)
      if (pairs.isEmpty) Nil
      else {
        val tokens = Tokenizer.tokenize(SentenceSplitter.docText(doc))
        WindowEncoder.encodeDocWith(strategy)(tokens, pairs, mentions, config.maxSeqLen)
      }
    }
  }

  /** The fused extract→encode→score pass. Scoring runs inside the per-doc
    * flatMap (the scorer trait's batch contract still holds — it receives
    * the doc's pair iterator), and the encoded token window is DROPPED from
    * negative rows before they cross the Dataset row boundary: windows are
    * only consumed downstream by trigger detection, which is gated on
    * positives (F6). Without this, every candidate pair would serialize a
    * ~128-element string array into Tungsten rows — at 10⁶ pairs per
    * million docs that converts the narrow pass from CPU-bound extraction
    * into allocation/GC churn (measured 2-3× wall-clock on the bench box).
    */
  def scoreCandidates(docs: Dataset[Doc], dict: Broadcast[AhoCorasick],
                      scorer: RelationScorer, config: TaskConfig)
                     (implicit spark: SparkSession): Dataset[ScoredPair] = {
    import spark.implicits._
    docs.flatMap(doc => scoreDoc(doc, dict.value, scorer, config).map(lean))
  }

  /** The same pass keeping only argmax-positive pairs (F7), windows intact:
    * negatives are dropped inside the per-doc function and never become
    * rows. Feeds triples and triggers. */
  def scorePositives(docs: Dataset[Doc], dict: Broadcast[AhoCorasick],
                     scorer: RelationScorer, config: TaskConfig)
                    (implicit spark: SparkSession): Dataset[ScoredPair] = {
    import spark.implicits._
    docs.flatMap(doc => scoreDoc(doc, dict.value, scorer, config).filter(isPositive))
  }

  /** One document's scored candidate pairs: the per-doc kernel of both
    * scored passes. */
  private def scoreDoc(doc: Doc, dict: AhoCorasick, scorer: RelationScorer,
                       config: TaskConfig): Iterator[ScoredPair] = {
    val sentences = SentenceSplitter.split(doc)
    val mentions = MentionDetector.detect(doc, dict, sentences)
    val pairs = PairGenerator.forDoc(mentions, config)
    if (pairs.isEmpty) Iterator.empty
    else {
      val tokens = Tokenizer.tokenize(SentenceSplitter.docText(doc))
      scorer.scoreDoc(tokens, mentions, pairs, config.maxSeqLen)
    }
  }

  private def isPositive(sp: ScoredPair): Boolean = sp.score_pos > sp.score_neg

  /** Positive scored pairs → triples, one row each, in a typed map: no
    * join, no shuffle. The one definition of a triple. */
  def triplesOf(positives: Dataset[ScoredPair], canon: Broadcast[Map[String, String]])
               (implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    positives.map(sp => toTriple(canon.value, sp))
  }

  /** Both arguments resolve through the canonical map and are ordered so
    * subj ≤ obj — Spark's `least`/`greatest`: UTF-8 byte order, and a null
    * argument yields the other one (null only when both are). */
  private def toTriple(canon: Map[String, String], sp: ScoredPair): Triple = {
    val a = ConnectedComponents.resolve(canon, sp.e1_norm)
    val b = ConnectedComponents.resolve(canon, sp.e2_norm)
    val (subj, obj) =
      if (a == null) (b, b)
      else if (b == null) (a, a)
      else if (ConnectedComponents.compareUtf8(a, b) <= 0) (a, b)
      else (b, a)
    Triple(sp.doc_id, subj, "Complex_formation", obj, sp.e1, sp.e2, sp.score_neg, sp.score_pos)
  }

  /** A scored row as it leaves the per-doc pass: negatives drop their
    * window (copied only when the scorer did not already leave it empty). */
  private def lean(sp: ScoredPair): ScoredPair =
    if (isPositive(sp) ||
        (sp.tokens.isEmpty && sp.tokenBgns.isEmpty && sp.tokenEnds.isEmpty)) sp
    else sp.copy(tokens = Nil, tokenBgns = Nil, tokenEnds = Nil)

  /** The SINGLE fused extraction pass: one scan over the corpus emits a
    * tagged union of scored pairs (kind 0, windows only on positives),
    * unfitted-pair statistics (kind 1, geometry-only), and mention rows for
    * the node table (kind 2). Every downstream output derives from this
    * Dataset — without the fusion, scored/unfitted/node consumers would
    * each re-run sentence split + automaton scan + pair generation over
    * the whole corpus (3× the dominant stage's compute). */
  def extractAll(docs: Dataset[Doc], dict: Broadcast[AhoCorasick],
                 scorer: RelationScorer, config: TaskConfig)
                (implicit spark: SparkSession): Dataset[PassRow] = {
    import spark.implicits._
    docs.flatMap { doc =>
      val sentences = SentenceSplitter.split(doc)
      val mentions = MentionDetector.detect(doc, dict.value, sentences)
      val mentionRows = mentions.iterator.map(m =>
        PassRow(2, null, doc.doc_id, null, null, null, null, 0, 0, m.norm_id, m.text))
      val pairs = PairGenerator.forDoc(mentions, config)
      if (pairs.isEmpty) mentionRows
      else {
        val tokens = Tokenizer.tokenize(SentenceSplitter.docText(doc))
        val g = new WindowEncoder.PairSpans(tokens, mentions)
        val fitted = Seq.newBuilder[CandidatePair]
        val unfittedRows = Seq.newBuilder[PassRow]
        pairs.foreach { p =>
          g.locate(p)
          if (g.fitted(config.maxSeqLen)) fitted += p
          else unfittedRows += PassRow(1, null, p.doc_id, p.e1, p.e2, p.e1_norm,
            p.e2_norm, p.sent_dist, g.dist, null, null)
        }
        val scoredRows = scorer.scoreDoc(tokens, mentions, fitted.result(), config.maxSeqLen)
          .map(sp => PassRow(0, lean(sp), doc.doc_id, null, null, null, null, 0, 0, null, null))
        mentionRows ++ unfittedRows.result().iterator ++ scoredRows
      }
    }
  }

  /** Full prediction pipeline. `equivEdges` is the (small) global
    * cross-reference/alias edge set driving canonicalization.
    * @param persistPass cache the fused pass so its three consumer families
    *        (triples/triggers, unfitted stats, node table) share ONE corpus
    *        scan. Disable for triples-only consumers that never touch the
    *        other outputs (they'd pay for materializing rows they drop). */
  def run(docs: Dataset[Doc], dictEntries: Seq[DictEntry],
          equivEdges: Dataset[EquivEdge], scorer: RelationScorer,
          config: TaskConfig = TaskConfig.complexTome,
          persistPass: Boolean = false)
         (implicit spark: SparkSession): Output = {
    import spark.implicits._

    val (good, quarantine) = DocValidator.split(docs)
    val dict = MentionDetector.broadcastDict(spark, dictEntries)

    // canonical map from the global equivalence edges (J6); tiny vs corpus
    val canon = spark.sparkContext.broadcast(ConnectedComponents.canonicalMap(equivEdges))

    // Two physical strategies behind identical semantics:
    //  - persistPass=true: ONE fused scan, cached; all output families
    //    share it (the all-outputs job shape, e.g. RunJob).
    //  - persistPass=false: each output is its own lazy narrow pass —
    //    consumers that never touch unfitted/nodes never pay for them, and
    //    the triples path emits neither mention rows nor negatives (a
    //    typed flatMap blocks filter pushdown, so a shared UNcached pass
    //    would materialize every PassRow kind for every consumer).
    // Either way triples and nodes resolve canonical ids inside their pass.
    val (scored, positives, unfitted, mentionNodes) =
      if (persistPass) {
        val pass = extractAll(good, dict, scorer, config)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val scored = pass.filter((r: PassRow) => r.kind == 0).map(_.scored)
        (scored, scored.filter((sp: ScoredPair) => isPositive(sp)),
          pass.filter((r: PassRow) => r.kind == 1).toDF()
            .select($"doc_id", $"e1", $"e2", $"e1_norm", $"e2_norm",
              $"sent_dist", $"tokenDistance"),
          pass.filter((r: PassRow) => r.kind == 2)
            .map(r => (ConnectedComponents.resolve(canon.value, r.norm_id), r.surface))
            .toDF("node_id", "surface"))
      } else {
        val unf = good.flatMap { doc =>
          val mentions = MentionDetector.detect(doc, dict.value, SentenceSplitter.split(doc))
          val pairs = PairGenerator.forDoc(mentions, config)
          if (pairs.isEmpty) Nil
          else {
            val tokens = Tokenizer.tokenize(SentenceSplitter.docText(doc))
            val g = new WindowEncoder.PairSpans(tokens, mentions)
            pairs.flatMap { p =>
              g.locate(p)
              if (g.fitted(config.maxSeqLen)) None
              else Some((p.doc_id, p.e1, p.e2, p.e1_norm, p.e2_norm, p.sent_dist, g.dist))
            }
          }
        }.toDF("doc_id", "e1", "e2", "e1_norm", "e2_norm", "sent_dist", "tokenDistance")
        val norms = good.flatMap { doc =>
          MentionDetector.detect(doc, dict.value, SentenceSplitter.split(doc))
            .map(m => (ConnectedComponents.resolve(canon.value, m.norm_id), m.text))
        }.toDF("node_id", "surface")
        (scoreCandidates(good, dict, scorer, config),
          scorePositives(good, dict, scorer, config), unf, norms)
      }

    // F7: only argmax-positive rows materialize as triples; all scored rows
    // remain available (the reference writes every row to TSV, positives
    // additionally to .ann — tf.py:405-407)
    val triples = triplesOf(positives, canon)
    val triggers = positives.flatMap(TriggerDetector.triggersFor _)

    // node table: canonical id + surfaces + mention counts (A2-style stats)
    val nodes = mentionNodes
      .groupBy($"node_id")
      .agg(lit("Protein").as("tag"),
        sort_array(collect_set($"surface")).as("surfaces"),
        count(lit(1)).as("n_mentions"))

    Output(triples, triggers, scored, unfitted, nodes, quarantine)
  }

  /** Run-level metrics table (north-rule "lineage + metrics"): one row per
    * pipeline stage with its row count. Complements the per-bucket lineage
    * rows GraphMaterializer writes next to the data. Materializing this
    * frame triggers one job per stage — a diagnostic, not a hot path. */
  def metrics(out: Output)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("scored_pairs", out.scoredAll.count()),
      ("positive_triples", out.triples.count()),
      ("triggers", out.triggers.count()),
      ("unfitted_pairs", out.unfitted.count()),
      ("nodes", out.nodes.count()),
      ("quarantined_docs", out.quarantine.count())
    ).toDF("stage", "n_rows")
  }
}
