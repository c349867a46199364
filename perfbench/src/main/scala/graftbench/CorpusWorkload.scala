package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.SparkEntry

/** Four registered corpus queries (`SparkEntry.queries`) over seeded
  * `documents` / `embeddings` tables: n-gram index build plus bucketed
  * write and screen (x54), the near-duplicate removal chain — MinHash
  * LSH, connected components, anti-join (x5), IVF-PQ with exact re-rank
  * (v12) and label propagation (x42). These are the text, dedup, ann and
  * graph layers no raster workload touches.
  *
  * The corpus content is fixed and the seed permutes row order and file
  * split (see [[Inputs.corpus]]), so every query's canonical row digest
  * is the same for every seed. The digests are pinned in
  * `perfbench/corpus_digests.json`, produced by `run.py --pin-corpus` on
  * the engine as it was when the benchmark was defined; any change to a
  * query's rows fails the run. */
object CorpusWorkload {
  val Docs = 600
  val Vecs = 500
  def queries: Seq[String] = Layers.Corpus

  /** md5 over the sorted string forms of every row. */
  def digest(rows: Array[Row]): String = {
    val lines = rows.map(_.toSeq.map {
      case null => "null"
      case d: Double => java.lang.Double.toString(d)
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => v.toString
    }.mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def runQuery(spark: SparkSession, dir: String, q: String): DataFrame = SparkEntry.queries(q)(spark, dir)

  def generate(spark: SparkSession, work: Path, seed: Long): Path = {
    val dir = work.resolve(s"corpus-$seed")
    Inputs.corpus(spark, dir, seed, Docs, Vecs)
    dir
  }

  def loadPins(p: Path): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
    root.get("digests").fields().asScala.map(q => q.getKey -> q.getValue.asText).toMap
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val pins = loadPins(ctx.opts.pins)
    var dir: String = null
    def check(q: String, rows: Array[Row]): Unit = {
      val d = digest(rows)
      ctx.check(pins.get(q).contains(d), s"corpus: $q digest $d, pinned ${pins.get(q)}")
    }
    Batch.run(ctx, genReps = 2, minIters = 1)(() => dir = generate(spark, ctx.opts.work, ctx.opts.seed).toString) { () =>
      queries.foreach(q => check(q, runQuery(spark, dir, q).collect()))
    } { t =>
      queries.flatMap { q =>
        val ((df, rows), sp) = t.span(s"corpus.$q") {
          val df = runQuery(spark, dir, q); (df, df.collect())
        }
        t.phases(s"corpus.$q", df)
        check(q, rows)
        Seq(s"corpus.${q}_s" -> sp.seconds, s"spark.$q.jobs" -> sp.attrs("jobs"),
          s"spark.$q.driver_gap_s" -> sp.attrs("driver_gap_s"),
          s"spark.$q.shuffle_write_bytes" -> sp.attrs("shuffle_write_bytes"),
          s"spark.$q.spill_bytes" -> sp.attrs("spill_bytes"))
      }.toMap
    }
  }

  /** `--pin-corpus <work> <out.json>`: digest every query on the corpus
    * under two seeds, require them equal, and write the pin file. */
  def pin(args: Array[String]): Unit = {
    val work = Paths.get(args(0))
    Files.createDirectories(work)
    val spark = Main.session(work)
    val Seq(a, b) = Seq(0L, 1L).map { seed =>
      val dir = generate(spark, work, seed).toString
      queries.map(q => q -> digest(runQuery(spark, dir, q).collect()))
    }
    require(a == b, s"corpus digests depend on row order: $a vs $b")
    val js = "{\n  \"digests\": {" + a.map { case (q, d) => s"""\n    "$q": "$d"""" }.mkString(",") +
      "\n  }\n}\n"
    Files.write(Paths.get(args(1)), js.getBytes("UTF-8"))
    spark.stop()
  }
}
