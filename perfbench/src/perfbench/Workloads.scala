package perfbench

import graft.{KgPipeline, SparkEntry}
import graft.canon.ConnectedComponents
import graft.core._
import graft.ingest.DocValidator
import graft.materialize.GraphMaterializer
import graft.nlp.{AhoCorasick, MentionDetector, SentenceSplitter, Tokenizer}
import graft.operators.Dedup
import graft.pairs.PairGenerator
import graft.score.{LexiconScorer, WindowEncoder}
import graft.triggers.TriggerDetector
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, sum}

import java.io.File

/** What the harness hands a workload: the session, a scratch directory
  * inside the checkout, and the tracer when the run is traced. */
final class Ctx(val spark: SparkSession, val work: String, val tracer: Option[Tracer]) {
  /** Times `body`; in a traced run it becomes a span of `layer`. Returns the
    * result, the seconds and the span id (0 when untraced). */
  def timed[T](layer: String, name: String)(body: => T): (T, Double, Long) = {
    val t0 = System.nanoTime()
    val (r, id) = tracer match {
      case Some(t) => t.span(layer, name)(body)
      case None => (body, 0L)
    }
    (r, (System.nanoTime() - t0) / 1e9, id)
  }
}

/** One timed iteration: its wall time and the wall time of each call in it. */
final case class Iter(seconds: Double, calls: Seq[(String, Double, Long)], failures: Int)

/** An output check the benchmark makes without the code under test. */
final case class Check(name: String, ok: Boolean, detail: String)

trait Workload {
  /** Generates and stages this run's inputs in a freshly started session. */
  def setup(ctx: Ctx, rep: Int): Unit
  /** One closed-loop iteration, started after the previous one returned. */
  def iterate(ctx: Ctx, i: Int): Iter
  /** Input items one iteration processes, for the per-second metric. */
  def items: Long
  def checks(ctx: Ctx): Seq[Check]
  /** Extra traced work, the per-layer numbers only it can give and the
    * checks it makes; `untracedPerS` is this run's warm items per second. */
  def traced(ctx: Ctx, t: Tracer, l: BenchListener,
             untracedPerS: Double): (Map[String, Double], Seq[Check])
  /** Directories written under the work directory for the python side. */
  def outputs: Map[String, String] = Map.empty
}

object Kg {
  /** 400 entities: the KG workloads' dictionary size, as in the job's
    * `synthetic:400` dictionary spec. */
  val Entities = 400
  val Buckets = 32

  def params(seed: Long, nDocs: Int): CorpusGen.Params =
    CorpusGen.Params(nDocs = nDocs, nEntities = Entities, seed = seed)

  /** Stages the generated corpus to parquet, keyed by (seed, nDocs, rep). */
  def stage(spark: SparkSession, work: String, seed: Long, nDocs: Int, rep: Int): String = {
    import spark.implicits._
    val path = s"$work/kg-corpus-s$seed-n$nDocs-r$rep"
    CorpusGen.generate(spark, params(seed, nDocs)).map(_.doc)
      .repartition(4 * spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(path)
    path
  }

  def docs(spark: SparkSession, path: String): Dataset[Doc] = {
    import spark.implicits._
    spark.read.parquet(path).as[Doc]
  }

  def run(spark: SparkSession, path: String, nDocs: Int, seed: Long,
          persistPass: Boolean): KgPipeline.Output = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val p = params(seed, nDocs)
    KgPipeline.run(docs(spark, path), CorpusGen.dictionary(p),
      CorpusGen.equivEdges(p).toDS(), LexiconScorer.default, persistPass = persistPass)
  }

  /** Micro precision and recall over distinct (doc_id, subj, obj) against
    * the generator's gold relations, computed here, not by the engine's
    * evaluator. */
  def precisionRecall(spark: SparkSession, triples: org.apache.spark.sql.DataFrame,
                      seed: Long, nDocs: Int): (Double, Double, String) = {
    import spark.implicits._
    val keys = Seq("doc_id", "subj", "obj")
    val pred = triples.select(keys.map(col): _*).distinct().withColumn("in_pred", lit(1L))
    val gold = CorpusGen.generate(spark, params(seed, nDocs))
      .flatMap(_.goldRelations.map(g => (g.doc_id, g.arg1_norm, g.arg2_norm)))
      .toDF(keys: _*).distinct().withColumn("in_gold", lit(1L))
    val row = pred.join(gold, keys, "full_outer")
      .agg(sum(coalesce(col("in_pred"), lit(0L))), sum(coalesce(col("in_gold"), lit(0L))),
        sum(coalesce(col("in_pred") * col("in_gold"), lit(0L))))
      .head()
    val (nPred, nGold, tp) = (row.getLong(0), row.getLong(1), row.getLong(2))
    val p = if (nPred == 0) 0.0 else tp.toDouble / nPred
    val r = if (nGold == 0) 0.0 else tp.toDouble / nGold
    (p, r, f"tp=$tp pred=$nPred gold=$nGold P=$p%.4f R=$r%.4f")
  }

  /** Names of the per-doc layer counters, in the order [[tracedPass]] fills them. */
  val PassKeys: IndexedSeq[String] = IndexedSeq(
    "ingest.validate_ns", "ingest.quarantined", "nlp.split_ns", "nlp.sentences",
    "nlp.detect_ns", "nlp.mentions", "pairs.generate_ns", "pairs.candidates",
    "nlp.tokenize_ns", "score.geometry_ns", "score.fitted", "score.score_ns",
    "score.scored", "score.positives", "triggers.detect_ns", "triggers.count")

  /** The per-doc pass rebuilt from the public layer functions, with each
    * call timed on the task side. Returns the summed counters. */
  def tracedPass(spark: SparkSession, docs: Dataset[Doc],
                 dict: Broadcast[AhoCorasick]): Map[String, Long] = {
    val config = TaskConfig.complexTome
    val keys = PassKeys
    val sums = docs.rdd.mapPartitions { it =>
      val c = new Array[Long](keys.length)
      def lap(slot: Int, t0: Long): Long = { val t = System.nanoTime(); c(slot) += t - t0; t }
      it.foreach { doc =>
        var t = System.nanoTime()
        val bad = DocValidator.validate(doc)
        t = lap(0, t)
        if (bad.nonEmpty) c(1) += 1
        else {
          val sentences = SentenceSplitter.split(doc)
          t = lap(2, t); c(3) += sentences.length
          val mentions = MentionDetector.detect(doc, dict.value, sentences)
          t = lap(4, t); c(5) += mentions.length
          val pairs = PairGenerator.forDoc(mentions, config)
          t = lap(6, t); c(7) += pairs.length
          if (pairs.nonEmpty) {
            val tokens = Tokenizer.tokenize(SentenceSplitter.docText(doc))
            t = lap(8, t)
            c(10) += pairs.count(p => WindowEncoder.geometry(tokens, p, config.maxSeqLen)._6)
            t = lap(9, t)
            val scored = LexiconScorer.default
              .scoreDoc(tokens, mentions, pairs, config.maxSeqLen).toArray
            t = lap(11, t); c(12) += scored.length
            val positives = scored.filter(sp => sp.score_pos > sp.score_neg)
            c(13) += positives.length
            c(15) += positives.iterator.map(sp => TriggerDetector.triggersFor(sp).length).sum
            lap(14, t)
          }
        }
      }
      Iterator.single(c)
    }.reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
    keys.zip(sums).toMap
  }

  /** Per-layer numbers of the traced per-doc pass and canonicalisation, and
    * the tracing overhead against the untraced warm docs per second. */
  def passMetrics(ctx: Ctx, t: Tracer, l: BenchListener, path: String, nDocs: Int,
                  seed: Long, untracedDocsPerS: Double): Map[String, Double] = {
    val spark = ctx.spark
    implicit val s: SparkSession = spark
    val p = params(seed, nDocs)
    val dict = MentionDetector.broadcastDict(spark, CorpusGen.dictionary(p))
    val (c, sec, passSpan) = ctx.timed("kgpipeline", "traced per-doc pass") {
      tracedPass(spark, docs(spark, path), dict)
    }
    import spark.implicits._
    val edges = CorpusGen.equivEdges(p).toDS()
    val (entities, canonSec, _) = ctx.timed("canon", "ConnectedComponents.canonicalizeAuto") {
      ConnectedComponents.canonicalizeAuto(edges).count()
    }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val passStats = l.statsFor(t.subtree(passSpan))
    val layerNs = Seq("ingest.validate_ns", "nlp.split_ns", "nlp.detect_ns", "pairs.generate_ns",
      "nlp.tokenize_ns", "score.geometry_ns", "score.score_ns", "triggers.detect_ns").map(c).sum
    def ratio(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b
    val traced = nDocs / sec
    Map(
      "ingest.validate_s" -> c("ingest.validate_ns") / 1e9,
      "ingest.quarantined" -> c("ingest.quarantined").toDouble,
      "nlp.split_s" -> c("nlp.split_ns") / 1e9,
      "nlp.sentences" -> c("nlp.sentences").toDouble,
      "nlp.detect_s" -> c("nlp.detect_ns") / 1e9,
      "nlp.mentions" -> c("nlp.mentions").toDouble,
      "nlp.tokenize_s" -> c("nlp.tokenize_ns") / 1e9,
      "pairs.generate_s" -> c("pairs.generate_ns") / 1e9,
      "pairs.candidates" -> c("pairs.candidates").toDouble,
      "score.geometry_s" -> c("score.geometry_ns") / 1e9,
      "score.fit_ratio" -> ratio(c("score.fitted"), c("pairs.candidates")),
      "score.score_s" -> c("score.score_ns") / 1e9,
      "score.positive_ratio" -> ratio(c("score.positives"), c("score.scored")),
      "triggers.detect_s" -> c("triggers.detect_ns") / 1e9,
      "triggers.count" -> c("triggers.count").toDouble,
      "canon.canonicalize_s" -> canonSec,
      "canon.entities" -> entities.toDouble,
      "trace.traced_docs_per_s" -> traced,
      "trace.overhead_docs_per_s" -> (untracedDocsPerS - traced),
      "trace.kg_pass_coverage" -> ratio(layerNs, passStats.runMs * 1000000L))
  }

  /** Corpus size of the traced job run. */
  val JobDocs = 5000

  /** One all-outputs job over its own staged corpus, rebuilt from the calls
    * RunJob makes (persisted pass, three bucketed resumable writes with
    * lineage, quarantine), each call in its own span. The output directory
    * is measured and deleted afterwards. */
  def jobMetrics(ctx: Ctx, seed: Long): (Map[String, Double], Check) = {
    val spark = ctx.spark
    val in = stage(spark, ctx.work, seed, JobDocs, 0)
    val out = s"${ctx.work}/kg-job-out"
    val (o, _, _) = ctx.timed("kgpipeline", "KgPipeline.run persistPass") {
      run(spark, in, JobDocs, seed, persistPass = true)
    }
    def write(name: String, df: => org.apache.spark.sql.DataFrame, key: String) =
      ctx.timed("materialize", s"GraphMaterializer.writeResumable $name") {
        GraphMaterializer.writeResumable(spark, df, s"$out/$name", Buckets, key = key)
      }
    val t0 = System.nanoTime()
    val (bt, wt, _) = write("triples", o.triples.toDF(), "doc_id")
    val (bn, wn, _) = write("nodes", o.nodes, "node_id")
    val (bg, wg, _) = write("triggers", o.triggers.toDF(), "doc_id")
    ctx.timed("materialize", "quarantine write") {
      o.quarantine.toDF().write.mode("overwrite").parquet(s"$out/quarantine")
    }
    val jobSec = (System.nanoTime() - t0) / 1e9
    val persisted = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    spark.catalog.clearCache()
    val inBytes = dirBytes(new File(in))
    val bytes = dirBytes(new File(out))
    val lineageTriples = GraphMaterializer.lineageRowCount(spark, s"$out/triples")
    val pathTriples = run(spark, in, JobDocs, seed, persistPass = false).triples.count()
    delete(new File(out))
    delete(new File(in))
    (Map(
      "materialize.job_s" -> jobSec,
      "materialize.write_s.triples" -> wt,
      "materialize.write_s.nodes" -> wn,
      "materialize.write_s.triggers" -> wg,
      "materialize.bytes" -> bytes.toDouble,
      "materialize.buckets" -> (bt + bn + bg).toDouble,
      "materialize.out_bytes_per_in_byte" -> bytes.toDouble / inBytes,
      "spark.persist_bytes" -> persisted.toDouble),
      Check("kg_job.triples_agree_with_kg_triples", lineageTriples == pathTriples,
        s"job lineage $lineageTriples, triples path $pathTriples at $JobDocs docs"))
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}

/** Triples only: the headline path, one narrow per-doc pass and a count. */
final class KgTriples(seed: Long, nDocs: Int) extends Workload {
  private var path: String = _
  private val counts = scala.collection.mutable.Buffer.empty[Long]

  def items: Long = nDocs

  def setup(ctx: Ctx, rep: Int): Unit = {
    if (path != null) Kg.delete(new File(path))
    path = Kg.stage(ctx.spark, ctx.work, seed, nDocs, rep)
  }

  def iterate(ctx: Ctx, i: Int): Iter = {
    val (n, sec, id) = ctx.timed("kgpipeline", "KgPipeline.run triples.count") {
      Kg.run(ctx.spark, path, nDocs, seed, persistPass = false).triples.count()
    }
    counts += n
    Iter(sec, Seq(("kg_triples", sec, id)), 0)
  }

  def checks(ctx: Ctx): Seq[Check] = {
    val spark = ctx.spark
    val triples = Kg.run(spark, path, nDocs, seed, persistPass = false).triples.toDF()
    val (p, r, detail) = Kg.precisionRecall(spark, triples, seed, nDocs)
    Seq(Check("kg_triples.precision_recall", p >= 0.95 && r >= 0.95, detail),
      Check("kg_triples.stable_count", counts.distinct.size == 1 && counts.head > 0,
        s"triple counts per iteration: ${counts.distinct.mkString(",")}"))
  }

  def traced(ctx: Ctx, t: Tracer, l: BenchListener,
             untracedPerS: Double): (Map[String, Double], Seq[Check]) = {
    val (job, check) = Kg.jobMetrics(ctx, seed)
    (Kg.passMetrics(ctx, t, l, path, nDocs, seed, untracedPerS) ++ job, Seq(check))
  }
}

/** Catalog bindings over generated `events` and `documents` tables. */
final class Catalog(seed: Long, shape: CatalogGen.Shape) extends Workload {
  private var dir: String = _
  private val rowCounts = scala.collection.mutable.HashMap.empty[String, Set[Long]]
  private var outs = Map.empty[String, String]

  def items: Long = shape.nDocs

  def setup(ctx: Ctx, rep: Int): Unit = {
    if (dir != null) Kg.delete(new File(dir))
    dir = s"${ctx.work}/catalog-s$seed-r$rep"
    CatalogGen.write(ctx.spark, shape, seed, dir)
    // the shingle vocabularies the two dedup-based bindings read, staged
    // like the catalog's own corpus-artifact staging does
    val docs = graft.Queries.table(ctx.spark, dir, "documents")
    Dedup.tokenVocabCached(Dedup.shingleRows(docs, 3), Some(s"$dir#documents#sh3")).count()
    Dedup.tokenVocabCached(Dedup.shingleRows(docs.filter(col("doc_id") % 5 =!= 0), 3),
      Some(s"$dir#documents_c#sh3")).count()
  }

  def iterate(ctx: Ctx, i: Int): Iter = {
    val t0 = System.nanoTime()
    var failures = 0
    val calls = Catalog.Names.map { name =>
      val (n, sec, id) = ctx.timed("queries", name) {
        try Some(SparkEntry.queries(name)(ctx.spark, dir).count())
        catch { case e: Exception => System.err.println(s"[perfbench] $name failed: $e"); None }
      }
      n match {
        case Some(v) => rowCounts(name) = rowCounts.getOrElse(name, Set.empty) + v
        case None => failures += 1
      }
      (name, sec, id)
    }
    Iter((System.nanoTime() - t0) / 1e9, calls, failures)
  }

  def checks(ctx: Ctx): Seq[Check] = {
    // results and oracle SQL for the independent DuckDB comparison,
    // written outside timing
    val results = s"${ctx.work}/results"
    Catalog.Names.foreach { name =>
      SparkEntry.queries(name)(ctx.spark, dir).write.mode("overwrite").parquet(s"$results/$name")
    }
    java.nio.file.Files.writeString(new File(s"$results/oracle_sql.json").toPath,
      Json.obj(Catalog.Names.map(n => n -> SparkEntry.oracleSql(n))))
    outs = Map("tables" -> dir, "results" -> results)
    Catalog.Names.map { n =>
      val c = rowCounts.getOrElse(n, Set.empty)
      Check(s"catalog.$n.stable_count", c.size == 1, s"row counts per pass: ${c.mkString(",")}")
    }
  }

  override def outputs: Map[String, String] = outs

  def traced(ctx: Ctx, t: Tracer, l: BenchListener,
             untracedPerS: Double): (Map[String, Double], Seq[Check]) = (Map.empty, Nil)
}

object Catalog {
  /** The bindings timed in each pass. */
  val Names: Seq[String] = Seq("curation_pipeline", "user_nf")
  /** The catalog entries the workload's tables were shaped for; the fixture
    * comparison reports each one's result row count. */
  val Shaped: Seq[String] = Seq("curation_pipeline", "user_ppr", "user_nf", "user_sssp",
    "user_temporal_reach", "user_truss", "dedup_keep_list")
}
