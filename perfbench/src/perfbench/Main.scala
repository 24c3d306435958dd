package perfbench

import graft.Bench
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory

/** Benchmark driver process: one workload, one seed, one JVM at
  * local[<cores>].
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <resultJson>
  *
  * Set-up (session start, input generation and staging) runs [[SetupReps]]
  * times; then one cold iteration and warm iterations until `seconds` have
  * passed, each started after the previous one returned. Output checks run
  * after the timed region. With trace 1 a listener and span tracer are
  * attached after set-up and the per-layer numbers are reported. Writes one
  * JSON object to `resultJson`; python formats the final result line. */
object Main {

  val SetupReps = 3
  val MinWarm = 3

  /** Workload sizes: chosen so that a run, set-up included, fits the
    * benchmark's per-run budget on a 4-core box (see perfbench/DESIGN.md). */
  val KgTriplesDocs = 30000
  val CatalogShape: CatalogGen.Shape = CatalogGen.Shape(nEvents = 10000, nUsers = 150, nDocs = 500)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 6,
      "usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <resultJson>")
    val Array(name, seedArg, secondsArg, traceArg, work, resultPath) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val w: Workload = name match {
      case "kg_triples" => new KgTriples(seed, KgTriplesDocs)
      case "catalog" => new Catalog(seed, CatalogShape)
      case other => sys.error(s"unknown workload '$other' (kg_triples, catalog)")
    }

    var spark: SparkSession = null
    val sessionSec = scala.collection.mutable.Buffer.empty[Double]
    val setupSec = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = Bench.buildSession(cores.toString)
      spark.sparkContext.setLogLevel("WARN")
      sessionSec += (if (rep == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3
        else (System.nanoTime() - t0) / 1e9)
      w.setup(new Ctx(spark, work, None), rep)
      if (rep == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3
      else (System.nanoTime() - t0) / 1e9
    }

    val tracer = if (trace) Some(new Tracer(s"$name-seed$seed", spark.sparkContext)) else None
    val listener = tracer.map { t =>
      val l = new BenchListener(t)
      spark.sparkContext.addSparkListener(l)
      l
    }
    val ctx = new Ctx(spark, work, tracer)
    def iteration(i: Int): (Iter, Long) = {
      val (it, _, id) = ctx.timed("bench", s"iteration $i")(w.iterate(ctx, i))
      (it, id)
    }

    def phase(what: String): Unit = System.err.println(
      f"[perfbench] $what at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1fs")
    phase(s"set-up done (${setupSec.map(s => f"$s%.2f").mkString(" ")}s, of which session " +
      s"start ${sessionSec.map(s => f"$s%.2f").mkString(" ")}s)")
    val t0 = System.nanoTime()
    val cold = iteration(0)
    val warm = scala.collection.mutable.Buffer.empty[(Iter, Long)]
    while ((System.nanoTime() - t0) / 1e9 < seconds || warm.length < MinWarm)
      warm += iteration(warm.length + 1)
    val iters = (cold +: warm.toSeq).map(_._1)
    val p50 = median(warm.map(_._1.seconds).toSeq)
    val perS = w.items / p50

    phase(s"measured ${warm.length} warm iterations")
    val checks0 = w.checks(ctx)
    phase("checks done")

    val e2e = Map("setup_s" -> median(setupSec), "cold_iter_s" -> cold._1.seconds,
      "iter_s_p50" -> p50, "docs_per_s" -> perS)
    val (layers, tracedChecks) = (tracer, listener) match {
      case (Some(t), Some(l)) =>
        val (extra, extraChecks) = w.traced(ctx, t, l, perS)
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        val perIter = warm.toSeq.map { case (it, id) => (it, l.statsFor(t.subtree(id))) }
        def med(f: (Iter, CallStats) => Double): Double = median(perIter.map(f.tupled))
        val perCall = warm.toSeq.flatMap(_._1.calls).groupBy(_._1).toSeq.flatMap {
          case (call, runs) if name == "catalog" =>
            val st = runs.map(r => l.statsFor(t.subtree(r._3)))
            Seq(s"q.${call}_s" -> median(runs.map(_._2)),
              s"q.$call.stages" -> median(st.map(_.stages.toDouble)),
              s"q.$call.max_task_share" -> median(st.map(_.maxTaskShare)),
              s"q.$call.shuffle_bytes" -> median(st.map(_.shuffleBytes.toDouble)))
          case _ => Nil
        }
        val self = t.selfSeconds.map { case (layer, s) => s"self_s.$layer" -> s }
        t.writeJson(resultPath.stripSuffix(".json") + ".spans.json")
        (Map(
          "spark.jobs" -> med((_, s) => s.jobs.toDouble),
          "spark.stages" -> med((_, s) => s.stages.toDouble),
          "spark.tasks" -> med((_, s) => s.tasks.toDouble),
          "spark.task_busy_s" -> med((_, s) => s.runMs / 1e3),
          "spark.core_util" -> med((i, s) => s.runMs / 1e3 / (i.seconds * cores)),
          "spark.max_task_share" -> med((_, s) => s.maxTaskShare),
          "spark.shuffle_bytes" -> med((_, s) => s.shuffleBytes.toDouble),
          "spark.shuffle_records" -> med((_, s) => s.shuffleRecords.toDouble),
          "spark.input_bytes" -> med((_, s) => s.inputBytes.toDouble),
          "spark.spill_bytes" -> med((_, s) => s.spillBytes.toDouble),
          "spark.gc_s" -> med((_, s) => s.gcMs / 1e3),
          "trace.spans" -> t.all.length.toDouble,
          "bench.warm_samples" -> warm.length.toDouble) ++ perCall ++ self ++ extra, extraChecks)
      case _ => (Map.empty[String, Double], Nil)
    }
    val checks = checks0 ++ tracedChecks
    checks.foreach(c => System.err.println(
      s"[perfbench] check ${c.name}: ${if (c.ok) "ok" else "FAILED"} (${c.detail})"))
    val attempted = iters.map(_.calls.length).sum + checks.length
    val failed = iters.map(_.failures).sum + checks.count(!_.ok)

    if (trace) phase("traced work done")
    val info: Map[String, Any] = Map(
      "cores" -> cores, "items" -> w.items, "warm_samples" -> warm.length,
      "setup_reps_s" -> setupSec, "warm_iter_s" -> warm.map(_._1.seconds).toSeq)
    val result = Json.obj(Seq(
      "workload" -> name, "seed" -> seed, "e2e" -> e2e, "layers" -> layers,
      "attempted" -> attempted, "failed" -> failed,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "outputs" -> w.outputs, "info" -> info))
    java.nio.file.Files.writeString(new java.io.File(resultPath).toPath, result)
    spark.stop()
  }
}
