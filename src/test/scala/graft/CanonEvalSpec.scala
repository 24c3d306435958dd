package graft

import graft.canon.ConnectedComponents
import graft.core.EquivEdge
import graft.eval.Evalsorel
import org.scalatest.funsuite.AnyFunSuite

class CanonEvalSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  test("connected components: chain, clique, isolated merge to min label") {
    val edges = Seq(
      EquivEdge("b", "a"), EquivEdge("c", "b"), EquivEdge("d", "c"), // chain a-b-c-d
      EquivEdge("x", "y"), EquivEdge("y", "z"), EquivEdge("x", "z"), // clique
      EquivEdge("m", "n"))
    val canon = ConnectedComponents.canonicalize(spark.createDataset(edges))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Seq("a", "b", "c", "d").forall(canon(_) == "a"))
    assert(Seq("x", "y", "z").forall(canon(_) == "x"))
    assert(canon("m") == "m" && canon("n") == "m")
  }

  test("distributed path converges on a 100-hop chain within the iteration cap") {
    // one-hop min propagation alone needs O(diameter) = 100 rounds and
    // would blow the maxIter=20 budget; pointer jumping makes it O(log n)
    val edges = (1 until 100).map(i => EquivEdge(f"n$i%03d", f"n${i - 1}%03d"))
    val canon = ConnectedComponents.canonicalize(spark.createDataset(edges))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(canon.size == 100)
    assert(canon.values.forall(_ == "n000"))
  }

  test("connected components: idempotent (canonical of canonical is itself)") {
    val edges = (0 until 30).map(i => EquivEdge(s"n$i", s"n${i / 3 * 3}"))
    val canon = ConnectedComponents.canonicalize(spark.createDataset(edges))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(canon.values.forall(c => canon(c) == c))
  }

  test("driver union-find fast path agrees with the distributed loop") {
    val edges = Seq(
      EquivEdge("b", "a"), EquivEdge("c", "b"), EquivEdge("d", "c"),
      EquivEdge("x", "y"), EquivEdge("y", "z"), EquivEdge("m", "n"))
    val ds = spark.createDataset(edges)
    val dist = ConnectedComponents.canonicalize(ds)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val fast = ConnectedComponents.canonicalizeAuto(ds)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // the fast path may omit root self-maps (identity by coalesce); every
    // mapping it does emit must agree, and all non-identity mappings exist
    assert(fast.forall { case (k, v) => dist(k) == v })
    assert(dist.filter { case (k, v) => k != v }.forall { case (k, v) => fast(k) == v })
  }

  test("driver union-find survives a deep alias chain inserted root-first") {
    // edges in DESCENDING order build a parent chain as deep as the edge
    // count; a recursive find() overflowed the stack here — find must be
    // iterative (walk to root, then compress)
    val n = 100000
    val edges = (n to 1 by -1).map(i => EquivEdge(f"n$i%07d", f"n${i - 1}%07d"))
    val canon = ConnectedComponents.canonicalizeAuto(spark.createDataset(edges))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(canon.size >= n)
    assert(canon.filter(_._1 != "n0000000").values.forall(_ == "n0000000"))
  }

  test("canonical id lookup: identity for unmapped ids, null stays null") {
    val canon = Map("b" -> "a")
    assert(ConnectedComponents.resolve(canon, "b") == "a")
    assert(ConnectedComponents.resolve(canon, "q") == "q")
    assert(ConnectedComponents.resolve(canon, null) == null)
    // the join-based form it replaces agrees
    val canonMap = canon.toSeq.toDF("node_id", "canonical_id")
    val df = Seq(("d1", "b"), ("d2", "q"), ("d3", null)).toDF("doc_id", "ent")
    val out = TriplesReference.withCanonical(df, "ent", canonMap, "canon")
      .select("doc_id", "canon").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(("d1", "a"), ("d2", "q"), ("d3", null)))
  }

  test("ER candidates: blocking, edit gate, hot-token cap, support counts") {
    import org.apache.spark.sql.functions.col
    // "red ring"×2, "red rng", "blu ring", plus an unblocked outlier;
    // one null name must be ignored
    val mentions = Seq("red ring", "red ring", "red rng", "blu ring",
      "zzz qqq", null).toDF("p_name")
    def run(maxEdit: Int, cap: Long) =
      graft.canon.ErCandidates.nameCandidates(mentions, "p_name", maxEdit, cap)
        .as[(String, String, Int, Long, Long, Long)].collect().toSet
    // maxEdit 1: only (red ring, red rng) — shares "red" (and not "ring"/
    // "rng"), support 2 vs 1
    assert(run(1, 10L) == Set(("red ring", "red rng", 1, 1L, 2L, 1L)))
    // maxEdit 3 admits the 3-substitution pair via the shared "ring"
    assert(run(3, 10L) == Set(
      ("red ring", "red rng", 1, 1L, 2L, 1L),
      ("blu ring", "red ring", 3, 1L, 1L, 2L)))
    // cap 1 drops every shared blocking token -> no candidates at all
    assert(run(3, 1L).isEmpty)
  }

  test("ER candidates: equal to token-sharing brute force on testdata") {
    import org.apache.spark.sql.functions._
    val part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    val got = graft.canon.ErCandidates
      .nameCandidates(part, "p_name", maxEdit = 2, maxBlockNames = 100L)
      .select("name_a", "name_b", "edit_dist")
      .as[(String, String, Int)].collect().toSet
    // brute force: ALL name pairs within edit 2 that share >= 1 token —
    // the operator's exact contract (blocking must lose nothing else)
    val names = part.select("p_name").distinct()
      .as[String].collect().filter(_ != null)
    val brute = (for {
      a <- names; b <- names if a < b
      if a.split(" ").toSet.intersect(b.split(" ").toSet).nonEmpty
    } yield (a, b)).filter { case (a, b) =>
      // classic Levenshtein, plain Scala
      val (m, n) = (a.length, b.length)
      val d = Array.tabulate(m + 1, n + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to m; j <- 1 to n)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(m)(n) <= 2
    }.toSet
    assert(got.map(t => (t._1, t._2)) == brute && got.nonEmpty)
    // on THIS catalog, token blocking is lossless even vs the
    // unrestricted all-pairs search (every close pair shares its noun)
    val unrestricted = (for (a <- names; b <- names if a < b) yield (a, b))
    assert(brute.size == unrestricted.count { case (a, b) =>
      val (m, n) = (a.length, b.length)
      val d = Array.tabulate(m + 1, n + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to m; j <- 1 to n)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(m)(n) <= 2
    })
  }

  test("ER candidates feed the merge closure: transitive variant cluster") {
    // dist-1 chain: "acme co" ~ "acmee co" ~ "acmee cco"; closing the
    // candidate pairs as equiv edges merges all three to the min label
    val mentions = Seq("acme co", "acmee co", "acmee cco", "other inc")
      .toDF("p_name")
    val cands = graft.canon.ErCandidates
      .nameCandidates(mentions, "p_name", maxEdit = 1, maxBlockNames = 10L)
    val edges = cands.select(org.apache.spark.sql.functions.col("name_a").as("src"),
      org.apache.spark.sql.functions.col("name_b").as("dst")).as[EquivEdge]
    val canon = ConnectedComponents.canonicalize(edges)
      .as[(String, String)].collect().toMap
    assert(canon("acme co") == "acme co" && canon("acmee co") == "acme co"
      && canon("acmee cco") == "acme co" && !canon.contains("other inc"))
  }

  test("evalsorel: symmetric matching, duplicate dropping, micro P/R") {
    val gold = Seq(
      ("d1", "Complex_formation", "A", "B"),
      ("d1", "Complex_formation", "B", "A"), // duplicate (unordered) — dropped
      ("d1", "Complex_formation", "C", "D"),
      ("d2", "Complex_formation", "A", "B"))
      .toDF("doc_id", "rel_type", "arg1_norm", "arg2_norm")
    val pred = Seq(
      ("d1", "Complex_formation", "B", "A", 0.0, 1.0), // TP (symmetric)
      ("d1", "Complex_formation", "A", "B", 0.0, 1.0), // duplicate pred — dropped
      ("d1", "Complex_formation", "A", "D", 0.0, 1.0), // FP
      ("d2", "Complex_formation", "A", "B", 0.0, 1.0)) // TP
      .toDF("doc_id", "pred", "subj", "obj", "score_neg", "score_pos")
    val r = Evalsorel.evaluate(gold, pred)
    assert(r.tp == 2 && r.fp == 1 && r.fn == 1)
    assert(math.abs(r.precision - 2.0 / 3) < 1e-9)
    assert(math.abs(r.recall - 2.0 / 3) < 1e-9)
  }

  test("evalsorel: per-doc isolation (same pair in another doc is no match)") {
    val gold = Seq(("d1", "Complex_formation", "A", "B"))
      .toDF("doc_id", "rel_type", "arg1_norm", "arg2_norm")
    val pred = Seq(("d2", "Complex_formation", "A", "B", 0.0, 1.0))
      .toDF("doc_id", "pred", "subj", "obj", "score_neg", "score_pos")
    val r = Evalsorel.evaluate(gold, pred)
    assert(r.tp == 0 && r.fp == 1 && r.fn == 1)
  }
}
