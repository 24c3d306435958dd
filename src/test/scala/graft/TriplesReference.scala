package graft

import graft.canon.ConnectedComponents
import graft.core._
import graft.ingest.DocValidator
import graft.nlp.{AhoCorasick, MentionDetector, SentenceSplitter}
import graft.score.RelationScorer
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Triples and nodes in their first, join-based form: positives filtered
  * after the scored pass, argument ids rewritten by two broadcast left joins
  * against the canonical map DataFrame, then a `least`/`greatest` select.
  * Spark's own null and string-order semantics; the specs assert that the
  * engine's per-row lookup gives equal rows. */
object TriplesReference {

  /** Rewrite a column of node ids to canonical ids: identity for nodes with
    * no equivalence edges. */
  def withCanonical(df: DataFrame, idCol: String, canonMap: DataFrame,
                    outCol: String): DataFrame =
    df.join(broadcast(canonMap.withColumnRenamed("node_id", idCol)
        .withColumnRenamed("canonical_id", outCol)),
        Seq(idCol), "left")
      .withColumn(outCol, coalesce(col(outCol), col(idCol)))

  def triples(scored: Dataset[ScoredPair], canonMap: DataFrame)
             (implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    val positives = scored.filter((s: ScoredPair) => s.score_pos > s.score_neg)
    withCanonical(withCanonical(positives.toDF(), "e1_norm", canonMap, "subj"),
        "e2_norm", canonMap, "obj")
      .select($"doc_id",
        least($"subj", $"obj").as("subj"),
        lit("Complex_formation").as("pred"),
        greatest($"subj", $"obj").as("obj"),
        $"e1", $"e2", $"score_neg", $"score_pos")
      .as[Triple]
  }

  def nodes(docs: Dataset[Doc], dict: Broadcast[AhoCorasick], canonMap: DataFrame)
           (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val norms = docs.flatMap { doc =>
      MentionDetector.detect(doc, dict.value, SentenceSplitter.split(doc))
        .map(m => (m.norm_id, m.text))
    }.toDF("norm_id", "surface")
    withCanonical(norms, "norm_id", canonMap, "node_id")
      .groupBy($"node_id")
      .agg(lit("Protein").as("tag"),
        sort_array(collect_set($"surface")).as("surfaces"),
        count(lit(1)).as("n_mentions"))
  }

  /** `KgPipeline.run`'s triples and nodes, derived the join-based way. */
  def run(docs: Dataset[Doc], dictEntries: Seq[DictEntry], equivEdges: Dataset[EquivEdge],
          scorer: RelationScorer, config: TaskConfig = TaskConfig.complexTome)
         (implicit spark: SparkSession): (Dataset[Triple], DataFrame) = {
    val (good, _) = DocValidator.split(docs)
    val dict = MentionDetector.broadcastDict(spark, dictEntries)
    val canonMap = ConnectedComponents.canonicalizeAuto(equivEdges)
    (triples(KgPipeline.scoreCandidates(good, dict, scorer, config), canonMap),
      nodes(good, dict, canonMap))
  }
}
