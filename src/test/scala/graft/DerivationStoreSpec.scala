package graft

import graft.graph.BgpMatcher.{C, TriplePattern, V}
import graft.sources.DerivationStore
import org.apache.spark.sql.functions.{col, length}
import org.scalatest.funsuite.AnyFunSuite

/** The stored-derivation maintenance contract: merged inference state
  * equals the full re-derivation, the init graph is PHYSICALLY
  * unreadable during the merge (deleted after init — the strongest
  * "never re-ground" proof), a re-merge of the committed batch is a
  * no-op, and merging under a different rule is rejected. */
class DerivationStoreSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private val body = Seq(
    TriplePattern(V("x"), C("filter"), V("m")),
    TriplePattern(V("m"), C("group"), V("y")))
  private val head = TriplePattern(V("x"), C("scan"), V("y"))

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2))).toSet

  private def tmpDir(name: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft_$name")
    p.toFile.deleteOnExit(); p.toString
  }

  test("init + merge equals the full re-derivation; init graph deleted " +
    "before the merge; re-merge is a no-op; rule mismatch rejected") {
    // the kg_rule_infer_delta slices: old = codes {0,1}, delta = code 2
    val train = Queries.kgTypedTriples(spark, dir)
      .select(col("subj"), col("pred"), col("obj")).distinct()
      .localCheckpoint()
    val dRank = Queries.kgDictWords.zipWithIndex.toMap
    val pRank = Queries.kgPredWords.zipWithIndex.toMap
    val codes = train.collect().map { r =>
      val (s, p, o) = (r.getString(0), r.getString(1), r.getString(2))
      ((s, p, o), dRank(s) * 25 + pRank(p) * 5 + dRank(o))
    }.toMap
    import spark.implicits._
    val oldSlice = codes.filter(_._2 % 4 <= 1).keys.toSeq
      .toDF("subj", "pred", "obj")
    val delta = codes.filter(_._2 % 4 == 2).keys.toSeq
      .toDF("subj", "pred", "obj")
    assert(oldSlice.count() > 0 && delta.count() > 0)

    // stage the OLD graph, init from the staged copy, DELETE the copy
    val staged = tmpDir("deriv_old")
    oldSlice.write.mode("overwrite").parquet(s"$staged/edges")
    val store = tmpDir("deriv_store")
    val m0 = DerivationStore.init(
      spark.read.parquet(s"$staged/edges"), body, head, store)
    assert(m0.version == 0 && m0.batches == 1 && m0.derivedRows > 0)
    import scala.reflect.io.Directory
    assert(new Directory(
      new java.io.File(s"$staged/edges")).deleteRecursively())

    val m1 = DerivationStore.merge(delta, body, head, store)
    assert(m1.version == 1 && m1.batches == 2)
    // the stored inferred view == construct over the combined graph ==
    // the catalog entry (which itself hash-matches the DuckDB oracle)
    val inferred = asSet(DerivationStore.readInferred(spark, store))
    val full = asSet(Queries.kgRuleInferDelta(spark, dir))
    assert(inferred == full && inferred.nonEmpty)
    // the committed version carries complete Spark writes
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(store, "v1", "edges", "_SUCCESS")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(store, "v1", "derived", "_SUCCESS")))
    assert(m1.edgeRows ==
      DerivationStore.readEdges(spark, store).count())

    // resume: the same delta again is recognized and skipped
    val m2 = DerivationStore.merge(delta, body, head, store)
    assert(m2 == m1)
    assert(asSet(DerivationStore.readInferred(spark, store)) == full)

    // a different rule than the committed one is rejected outright
    val otherHead = TriplePattern(V("x"), C("merge"), V("y"))
    val err = intercept[IllegalArgumentException] {
      DerivationStore.merge(delta, body, otherHead, store)
    }
    assert(err.getMessage.contains("built for rule"))
  }

  test("parseRule round-trips renderRule and rejects malformed rules") {
    val rule = "?x filter ?m . ?m group ?y => ?x scan ?y"
    val (b, h) = DerivationStore.parseRule(rule)
    assert(b == body && h == head)
    assert(DerivationStore.renderRule(b, h) == rule)
    // constants parse as constants
    val (b2, h2) = DerivationStore.parseRule("?x filter customer => ?x scan part")
    assert(b2 == Seq(TriplePattern(V("x"), C("filter"), C("customer"))) &&
      h2 == TriplePattern(V("x"), C("scan"), C("part")))
    intercept[IllegalArgumentException] {
      DerivationStore.parseRule("?x filter ?m") // no head
    }
    intercept[IllegalArgumentException] {
      DerivationStore.parseRule("?x filter => ?x scan ?y") // 2-term pattern
    }
  }

  test("parseRule: a separator glued to a term names the whitespace rule in the error") {
    for (bad <- Seq("?x p ?y=>?a q ?b", "?x p ?m. ?m q ?y => ?x r ?y")) {
      val err = intercept[IllegalArgumentException](DerivationStore.parseRule(bad))
      assert(err.getMessage.contains("must be whitespace-delimited") &&
        err.getMessage.contains("'?x p ?y => ?a q ?b'"), s"$bad: ${err.getMessage}")
    }
  }

  test("parseRule/renderRule: dotted and '=>'-bearing constants round-trip; " +
       "non-injective terms are rejected") {
    // dotted identifiers/IRIs are content, not separators: the parser
    // splits only on whitespace-delimited '.' / '=>' tokens
    val rule = "?x ex.org/filter ?m . ?m a=>b ?y => ?x ex.v1.scan ?y"
    val (b, h) = DerivationStore.parseRule(rule)
    assert(b == Seq(
      TriplePattern(V("x"), C("ex.org/filter"), V("m")),
      TriplePattern(V("m"), C("a=>b"), V("y"))))
    assert(h == TriplePattern(V("x"), C("ex.v1.scan"), V("y")))
    assert(DerivationStore.renderRule(b, h) == rule)
    // terms that cannot round-trip are rejected at render time — the
    // store's rule-identity guard (meta.rule == renderRule) relies on
    // the rendering being injective
    for (bad <- Seq(C("."), C("=>"), C("?notavar"), C("has space"), C(""),
                    V("bad name"), V(""))) {
      intercept[IllegalArgumentException] {
        DerivationStore.renderRule(
          Seq(TriplePattern(V("x"), bad, V("y"))), head)
      }
    }
  }

  test("DerivationJob: init -> merge -> infer end-to-end via the CLI args") {
    // stage doc slices as parquet, drive the job surface the way a
    // production orchestrator would, read the inferred view back
    val docs = Queries.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    // the init slice must NOT saturate the closed-vocabulary KG (even 20
    // word-soup docs already extract all 50 valid edges, making the merge
    // a correct fingerprint no-op) — the single SHORTEST doc cannot carry
    // the full lexicon, so its edge set is a proper subset
    val minDoc = docs.orderBy(length(col("text")), col("doc_id"))
      .limit(1).select(col("doc_id")).head().getLong(0)
    val staged = tmpDir("deriv_job_docs")
    docs.filter(col("doc_id") === minDoc).write.parquet(s"$staged/old")
    docs.filter(col("doc_id") =!= minDoc).write.parquet(s"$staged/new")
    val store = tmpDir("deriv_job_store")
    val out = tmpDir("deriv_job_out")
    val rule = "?x filter ?m . ?m group ?y => ?x scan ?y"
    import graft.sources.DerivationJob
    assert(DerivationJob.run(spark,
      Array("init", s"$staged/old", store, rule)).contains("version=0"))
    assert(DerivationJob.run(spark,
      Array("merge", s"$staged/new", store, rule)).contains("version=1"))
    DerivationJob.run(spark, Array("infer", store, s"$out/inferred"))
    // the job's inferred view == construct over the full corpus's edges
    val full = Queries.kgTypedTriples(spark, dir)
      .select(col("subj"), col("pred"), col("obj")).distinct()
    val expected = asSet(graft.graph.BgpMatcher.construct(
      full.localCheckpoint(), body, head))
    assert(asSet(spark.read.parquet(s"$out/inferred")) == expected)
  }

  test("derived heads survive observation: an edge asserted by a delta " +
    "leaves the inferred view but stays derivable") {
    import spark.implicits._
    val old = Seq(("a", "filter", "b"), ("b", "group", "c"))
      .toDF("subj", "pred", "obj")
    val store = tmpDir("deriv_store2")
    DerivationStore.init(old, body, head, store)
    assert(asSet(DerivationStore.readInferred(spark, store)) ==
      Set(("a", "scan", "c")))
    // the delta ASSERTS the inferred edge -> it leaves the view ...
    val assertScan = Seq(("a", "scan", "c")).toDF("subj", "pred", "obj")
    DerivationStore.merge(assertScan, body, head, store)
    assert(asSet(DerivationStore.readInferred(spark, store)).isEmpty)
    // ... but the derivation is still stored (meta counts it), exactly
    // the construct(newOnly = false) contract the store commits to
    val m = DerivationStore.readMeta(store)
    assert(m.derivedRows == 1)
    assert(asSet(spark.read.parquet(s"$store/v${m.version}/derived")) ==
      Set(("a", "scan", "c")))
  }
}
