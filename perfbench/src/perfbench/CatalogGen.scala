package perfbench

import org.apache.spark.sql.SparkSession

import java.time.LocalDateTime
import scala.util.Random

/** Seeded `events` and `documents` tables for the catalog workload.
  *
  * Schema and value distributions follow the sf-scaled fixture tables the
  * catalog was written against: events carry sorted uniform timestamps over
  * `days` days, uniform users and event types, exponential values and a
  * `{"k": n}` props string; documents are 10-100 words over a 30-word
  * vocabulary, 5% of them copies of another document with " dup"
  * appended, with weighted langs and `src<doc_id % 20>` sources. */
object CatalogGen {

  final case class Shape(nEvents: Int, nUsers: Int, nDocs: Int, days: Int = 30)

  /** The sf0.1 fixture's cardinalities. */
  val Sf01: Shape = Shape(nEvents = 100000, nUsers = 1500, nDocs = 5000)

  final case class Event(event_id: Long, ts: LocalDateTime, user_id: Long,
                         event_type: String, value: Double, props: String)
  final case class Document(doc_id: Long, text: String, lang: String,
                            source: String, n_chars: Long)

  val EventTypes: IndexedSeq[String] = IndexedSeq("click", "error", "purchase", "signup", "view")
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val Langs = IndexedSeq("en" -> 0.40, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15)
  private val Epoch = LocalDateTime.of(2024, 1, 1, 0, 0)

  def events(shape: Shape, seed: Long): Seq[Event] = {
    val rng = new Random(seed * 7919L + 1)
    val spanUs = shape.days * 86400L * 1000000L
    val offsets = Array.fill(shape.nEvents)((rng.nextDouble() * spanUs).toLong).sorted
    offsets.indices.map { i =>
      Event(i.toLong, Epoch.plusNanos(offsets(i) * 1000L), rng.nextInt(shape.nUsers).toLong,
        EventTypes(rng.nextInt(EventTypes.length)),
        math.round(-50.0 * math.log(1.0 - rng.nextDouble()) * 100) / 100.0,
        s"""{"k": ${rng.nextInt(100)}}""")
    }
  }

  def documents(shape: Shape, seed: Long): Seq[Document] = {
    val rng = new Random(seed * 7919L + 2)
    val base = IndexedSeq.fill(shape.nDocs) {
      Seq.fill(10 + rng.nextInt(91))(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
    }
    base.indices.map { i =>
      val text =
        if (shape.nDocs > 1 && rng.nextDouble() < 0.05) {
          val j = (i + 1 + rng.nextInt(shape.nDocs - 1)) % shape.nDocs
          base(j) + " dup"
        } else base(i)
      val u = rng.nextDouble()
      val lang = Langs.scanLeft(("", 0.0)) { case ((_, acc), (l, w)) => (l, acc + w) }
        .drop(1).find(_._2 > u).map(_._1).getOrElse(Langs.last._1)
      Document(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
  }

  /** Writes `<dir>/events.parquet` and `<dir>/documents.parquet`, one file
    * each, like the fixture. */
  def write(spark: SparkSession, shape: Shape, seed: Long, dir: String): Unit = {
    import spark.implicits._
    spark.createDataset(events(shape, seed)).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    spark.createDataset(documents(shape, seed)).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}

/** Writes the catalog tables for one seed and shape, and the shaped-for
  * bindings' oracle SQL, for run.py's fixture comparison:
  *
  *   perfbench.GenMain <seed> <sf0.1|bench> <dir> */
object GenMain {
  def main(args: Array[String]): Unit = {
    val Array(seed, shapeName, dir) = args
    val shape = shapeName match {
      case "sf0.1" => CatalogGen.Sf01
      case "bench" => Main.CatalogShape
      case other => sys.error(s"unknown shape '$other' (sf0.1, bench)")
    }
    val spark = graft.Bench.buildSession(Runtime.getRuntime.availableProcessors.toString)
    spark.sparkContext.setLogLevel("WARN")
    CatalogGen.write(spark, shape, seed.toLong, dir)
    java.nio.file.Files.writeString(new java.io.File(s"$dir/oracle_sql.json").toPath,
      Json.obj(Catalog.Shaped.map(n => n -> graft.SparkEntry.oracleSql(n))))
    spark.stop()
  }
}
