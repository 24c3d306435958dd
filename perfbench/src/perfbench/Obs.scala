package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** One traced interval. `layer` names the module the span's time is charged
  * to; times are nanoseconds since the tracer started. */
final case class SpanRec(id: Long, layer: String, name: String, parent: Long,
                         startNs: Long, endNs: Long)

/** Spark work attributed to one span: counts and task-side sums. */
final class CallStats {
  var jobs, stages, tasks = 0L
  var runMs, gcMs = 0L
  var shuffleBytes, shuffleRecords, spillBytes, inputBytes = 0L
  // Σ over stages of the largest task's run time, and of all tasks' run time
  var stageMaxMs, stageSumMs = 0L

  def add(o: CallStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; gcMs += o.gcMs
    shuffleBytes += o.shuffleBytes; shuffleRecords += o.shuffleRecords
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
    stageMaxMs += o.stageMaxMs; stageSumMs += o.stageSumMs
  }

  /** Time-weighted share of the largest task in its stage: 1/cores for an
    * evenly spread stage, 1 for a single-task stage. */
  def maxTaskShare: Double =
    if (stageSumMs > 0) stageMaxMs.toDouble / stageSumMs else 1.0
}

/** In-memory span recorder. Spans opened on the driver thread nest; Spark
  * jobs and stages become children of the span that was open when the job
  * was submitted (carried to the listener as a local property). */
final class Tracer(val runId: String, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val ids = new AtomicLong(1)
  private var open: List[Long] = Nil
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()

  def newId(): Long = ids.getAndIncrement()
  def msToNs(epochMs: Long): Long = (epochMs - t0Ms) * 1000000L
  def add(s: SpanRec): Unit = synchronized { spans += s }
  def all: Vector[SpanRec] = synchronized(spans.toVector)

  /** Runs `body` inside a span; returns its result and the span id. */
  def span[T](layer: String, name: String)(body: => T): (T, Long) = {
    val id = newId()
    val parent = open.headOption.getOrElse(0L)
    open = id :: open
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val s = System.nanoTime()
    try (body, id)
    finally {
      val e = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.toString).orNull)
      add(SpanRec(id, layer, name, parent, s - t0Ns, e - t0Ns))
    }
  }

  /** The span and every span below it. */
  def subtree(root: Long): Set[Long] = {
    val kids = all.groupBy(_.parent)
    def go(id: Long): Set[Long] = Set(id) ++ kids.getOrElse(id, Nil).flatMap(s => go(s.id))
    go(root)
  }

  /** Self time per layer: each span's duration minus the part of it that its
    * children cover. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
          if (b <= end) (sum, end)
          else (sum + b - math.max(a, end), b)
        }._1
      s.layer -> (s.endNs - s.startNs - covered) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def writeJson(path: String): Unit = {
    val body = Json.obj(Seq("run_id" -> runId, "spans" -> all.map(s => Json.obj(Seq(
      "id" -> s.id, "layer" -> s.layer, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)))))
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, body)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Attributes jobs, stages and task metrics to the span that submitted them,
  * and records job and stage spans in the tracer. */
final class BenchListener(tracer: Tracer) extends SparkListener {
  private val stats = mutable.HashMap.empty[Long, CallStats]
  private val jobSpan = mutable.HashMap.empty[Int, (Long, Long, Long)] // job -> (span, parent, startMs)
  private val stageOwner = mutable.HashMap.empty[Int, (Long, Long)] // stage -> (call span, job span)
  private val stageTasks = mutable.HashMap.empty[Int, (Long, Long)] // stage -> (max ms, sum ms)

  private def statsOf(span: Long): CallStats = stats.getOrElseUpdate(span, new CallStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties).flatMap(pr => Option(pr.getProperty(Tracer.SpanKey)))
    p.foreach { s =>
      val call = s.toLong
      val id = tracer.newId()
      jobSpan(e.jobId) = (id, call, e.time)
      statsOf(call).jobs += 1
      e.stageIds.foreach(st => if (!stageOwner.contains(st)) stageOwner(st) = (call, id))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, parent, start) =>
      tracer.add(SpanRec(id, "spark_job", s"job ${e.jobId}", parent,
        tracer.msToNs(start), tracer.msToNs(e.time)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageOwner.get(e.stageInfo.stageId).foreach { case (call, _) => statsOf(call).stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for ((call, _) <- stageOwner.get(e.stageId); m <- Option(e.taskMetrics)) {
      val st = statsOf(call)
      st.tasks += 1
      st.runMs += m.executorRunTime
      st.gcMs += m.jvmGCTime
      st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      st.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      st.inputBytes += m.inputMetrics.bytesRead
      val (mx, sum) = stageTasks.getOrElse(e.stageId, (0L, 0L))
      stageTasks(e.stageId) = (math.max(mx, m.executorRunTime), sum + m.executorRunTime)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for ((call, job) <- stageOwner.get(info.stageId)) {
      stageTasks.remove(info.stageId).foreach { case (mx, sum) =>
        statsOf(call).stageMaxMs += mx
        statsOf(call).stageSumMs += sum
      }
      for (s <- info.submissionTime; c <- info.completionTime)
        tracer.add(SpanRec(tracer.newId(), "spark_stage",
          s"stage ${info.stageId} (${info.numTasks} tasks)", job,
          tracer.msToNs(s), tracer.msToNs(c)))
    }
  }

  /** Sum of the stats of the given spans; call after draining the bus. */
  def statsFor(spans: Set[Long]): CallStats = synchronized {
    val out = new CallStats
    spans.foreach(s => stats.get(s).foreach(out.add))
    out
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => require(!d.isNaN && !d.isInfinite, s"non-finite value $d"); d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
