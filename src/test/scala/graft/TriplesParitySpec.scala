package graft

import graft.canon.ConnectedComponents
import graft.core._
import graft.score.LexiconScorer
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.scalatest.funsuite.AnyFunSuite

/** `KgPipeline.run` resolves triple and node ids per row from a broadcast
  * canonical map; [[TriplesReference]] does it with joins and
  * `least`/`greatest`. Both must give the same rows, as multisets. */
class TriplesParitySpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  private def multiset[T](xs: Seq[T]): Map[T, Int] =
    xs.groupBy(identity).map { case (k, v) => k -> v.size }

  private def nodeRows(nodes: DataFrame): Set[(String, String, Seq[String], Long)] =
    nodes.select("node_id", "tag", "surfaces", "n_mentions").collect().map((r: Row) =>
      (r.getString(0), r.getString(1), r.getSeq[String](2), r.getLong(3))).toSet

  /** Runs both forms at both `persistPass` values; returns the triples. */
  private def checkRun(docs: Dataset[Doc], dict: Seq[DictEntry],
                       edges: Seq[EquivEdge]): Seq[Triple] = {
    val (refTriples, refNodes) =
      TriplesReference.run(docs, dict, edges.toDS(), LexiconScorer.default)
    val expected = refTriples.collect().toSeq
    val expectedNodes = nodeRows(refNodes)
    for (persist <- Seq(false, true)) {
      val out = KgPipeline.run(docs, dict, edges.toDS(), LexiconScorer.default,
        persistPass = persist)
      assert(out.triples.schema.map(f => (f.name, f.dataType)) ==
        refTriples.schema.map(f => (f.name, f.dataType)), s"persistPass=$persist schema")
      assert(multiset(out.triples.collect().toSeq) == multiset(expected),
        s"persistPass=$persist triples")
      assert(nodeRows(out.nodes) == expectedNodes, s"persistPass=$persist nodes")
      spark.catalog.clearCache()
    }
    expected
  }

  private def textDoc(id: String, text: String) = Doc(id, Seq(Span("text", text, "", 0)))

  test("300 generated docs with equivalence chains: equal triples and nodes") {
    val p = CorpusGen.Params(nDocs = 300)
    val edges = CorpusGen.equivEdges(p)
    val docs = CorpusGen.docs(CorpusGen.generate(spark, p))
    val triples = checkRun(docs, CorpusGen.dictionary(p), edges)
    assert(triples.nonEmpty)
    // the map rewrites some arguments: chains are exercised, not bypassed
    val canon = ConnectedComponents.canonicalMap(edges.toDS())
    val dict = graft.nlp.MentionDetector.broadcastDict(spark, CorpusGen.dictionary(p))
    val rewritten = KgPipeline.scorePositives(docs, dict, LexiconScorer.default,
      TaskConfig.complexTome).collect()
      .count(sp => canon.contains(sp.e1_norm) || canon.contains(sp.e2_norm))
    assert(rewritten > 0, "no positive argument has a canonical id other than its own")
  }

  test("unmapped ids, a null norm id and ids whose UTF-16 and UTF-8 orders differ") {
    // U+FF41 'ａ' sorts before U+1F600 in UTF-8 (Spark) and after it in
    // UTF-16 (String.compareTo)
    val (wide, astral) = ("ａ", "😀")
    assert(wide.compareTo(astral) > 0)
    val dict = Seq(
      DictEntry("ALPHA", wide, "Protein"), DictEntry("BETA", astral, "Protein"),
      DictEntry("GAMMA", null, "Protein"), DictEntry("DELTA", "d2", "Protein"),
      DictEntry("EPS", "e9", "Protein"), DictEntry("ZETA", "d3", "Protein"))
    val edges = Seq(EquivEdge("d2", "d1"), EquivEdge("d3", "d2"))
    val docs = Seq(
      textDoc("a", "ALPHA binds BETA ."),
      textDoc("b", "BETA binds ALPHA ."),
      textDoc("c", "GAMMA binds DELTA ."),
      textDoc("d", "GAMMA binds GAMMA ."),
      textDoc("e", "EPS binds ALPHA and ZETA ."),
      textDoc("f", "ZETA interacts with DELTA .")).toDS()
    val got = checkRun(docs, dict, edges)
      .map(t => (t.doc_id, t.subj, t.obj)).toSet
    assert(got == Set(
      ("a", wide, astral), ("b", wide, astral),
      ("c", "d1", "d1"), ("d", null, null),
      ("e", "e9", wide), ("e", "d1", "e9"),
      ("f", "d1", "d1")), got)
  }

  test("distributed canonicalization yields the driver union-find's map") {
    val p = CorpusGen.Params(nDocs = 10)
    // UTF-8 order picks U+FF5A over the astral id as representative
    val edges = CorpusGen.equivEdges(p) ++ Seq(
      EquivEdge("😀", "ｚ"), EquivEdge("ｚ", "😁"),
      EquivEdge("k2", "k1"), EquivEdge("k3", "k2"))
    val local = ConnectedComponents.canonicalMap(edges.toDS())
    val distributed = ConnectedComponents.canonicalMap(edges.toDS(), driverLimit = 3)
    assert(local.nonEmpty && local == distributed)
    assert(local("😀") == "ｚ" && local("😁") == "ｚ")
    assert(!local.contains("ｚ"), "a representative maps to itself by absence")
    // the reference's join over the distributed DataFrame agrees with the
    // triples built from the collected map
    val docs = CorpusGen.docs(CorpusGen.generate(spark, CorpusGen.Params(nDocs = 60)))
    val dict = graft.nlp.MentionDetector.broadcastDict(spark, CorpusGen.dictionary(p))
    val scored = KgPipeline.scoreCandidates(docs, dict, LexiconScorer.default,
      TaskConfig.complexTome)
    val positives = KgPipeline.scorePositives(docs, dict, LexiconScorer.default,
      TaskConfig.complexTome)
    val ref = TriplesReference.triples(scored,
      ConnectedComponents.canonicalize(edges.toDS())).collect().toSeq
    val got = KgPipeline.triplesOf(positives, spark.sparkContext.broadcast(distributed))
      .collect().toSeq
    assert(ref.nonEmpty && multiset(got) == multiset(ref))
  }
}
