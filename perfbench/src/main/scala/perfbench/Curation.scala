package perfbench

import java.io.File
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.api.CurationPipeline
import graft.functions.{MinhashBandKeys, NgramHashes}
import graft.pipeline.{Dedup, TextAnalysis}

/** Corpus curation: `CurationPipeline.curate` with its default config
  * over a seeded corpus. Word frequencies are Zipf, document lengths
  * log-normal; 20% of documents are exact duplicates, 15% near
  * duplicates (a few words edited), 2% contain a benchmark document and
  * 20% are not English. */
final class Curation extends Workload {
  import Curation._

  private var spark: SparkSession = _
  private var corpus: DataFrame = _
  private var bench: DataFrame = _
  private var planted: Planted = _

  def generate(s: SparkSession, dir: File, seed: Long): Seq[(String, Double)] = {
    val rng = new Rng(seed)
    val en = new Vocabulary(rng, "en", TextAnalysis.stopwordProfiles("en"))
    val other = IndexedSeq(
      new Vocabulary(rng, "de", TextAnalysis.stopwordProfiles("de")),
      new Vocabulary(rng, "fr", TextAnalysis.stopwordProfiles("fr")))
    def length(): Int = math.max(8, math.min(400, math.exp(4.0 + 0.6 * rng.gaussian()).toInt))
    val benchDocs = IndexedSeq.fill(BenchDocs)(en.text(rng, 40))
    val docs = mutable.ArrayBuffer.empty[String]
    val exact = mutable.ArrayBuffer.empty[Long]
    var near, contaminated, foreign = 0
    for (i <- 0 until Docs) {
      val x = rng.double()
      val text =
        if (x < ExactShare && docs.nonEmpty) { exact += i.toLong; docs(rng.int(docs.size)) }
        else if (x < ExactShare + NearShare && docs.nonEmpty) {
          near += 1
          val words = docs(rng.int(docs.size)).split(" ")
          (0 until math.max(1, words.length / 40)).foreach(_ => words(rng.int(words.length)) = en.word(rng))
          words.mkString(" ")
        } else if (x < ExactShare + NearShare + ContamShare) {
          contaminated += 1
          rng.pick(benchDocs)
        } else if (x < ExactShare + NearShare + ContamShare + ForeignShare) {
          foreign += 1
          rng.pick(other).text(rng, length())
        } else en.text(rng, length())
      docs += text
    }
    val schema = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))
    Gen.write(s, docs.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }.toSeq, schema,
      new File(dir, "corpus"))
    Gen.write(s, benchDocs.zipWithIndex.map { case (t, i) => Row(1000000L + i, t) }, schema,
      new File(dir, "benchmark"), 1)
    // a planted exact duplicate drops unless it is the first copy of its text
    val firstOf = mutable.HashMap.empty[String, Long]
    docs.zipWithIndex.foreach { case (t, i) => firstOf.getOrElseUpdate(t, i.toLong) }
    val exactDrops = docs.zipWithIndex.collect { case (t, i) if firstOf(t) != i => i.toLong }.toSet
    planted = Planted(exact.toSet.intersect(exactDrops), exactDrops.size)
    Seq(
      "docs" -> Docs.toDouble,
      "exact_duplicate_share" -> exact.size.toDouble / Docs,
      "near_duplicate_share" -> near.toDouble / Docs,
      "contaminated_share" -> contaminated.toDouble / Docs,
      "non_english_share" -> foreign.toDouble / Docs,
      "mean_words_per_doc" -> docs.map(_.count(_ == ' ') + 1).sum.toDouble / Docs)
  }

  def open(s: SparkSession, dir: File, work: File): Unit = {
    spark = s
    corpus = s.read.parquet(new File(dir, "corpus").getPath)
    bench = s.read.parquet(new File(dir, "benchmark").getPath)
    Warm.up(curate(_, new Tracer(false)))
  }

  private def curate(ph: Phase, tr: Tracer): Unit = {
    ph.timed("curate") {
      tr.span("api", "api.curate", ph.attempted) {
        val df = tr.span("api", "api.build")(CurationPipeline.curate(corpus, bench, "id", "text"))
        tr.span("spark", "spark.exec")(df.select("doc_id", "drop_reason").collect())
      }
    } { rows =>
      Check(rows.length == Docs, s"curate: ${rows.length} rows for $Docs documents")
      Check(rows.map(_.getLong(0)).distinct.length == Docs, "curate: duplicate doc_id rows")
      val exactDropped = rows.collect { case r if r.getString(1) == "exact_duplicate" => r.getLong(0) }.toSet
      Check(planted.exactDrops.subsetOf(exactDropped),
        s"curate: ${(planted.exactDrops diff exactDropped).size} planted exact duplicates kept")
      Check(exactDropped.size == planted.exactDropCount,
        s"curate: ${exactDropped.size} exact duplicates dropped, ${planted.exactDropCount} planted")
      Docs.toDouble
    }
    // curate caches its stage outputs; free them before the next call
    spark.catalog.clearCache()
  }

  def measure(seconds: Double, tr: Tracer, ls: Option[Listeners]): Phase = {
    val ph = new Phase
    val t0 = System.nanoTime()
    do curate(ph, tr) while (System.nanoTime() - t0 < seconds * 1e9)
    ph.elapsedS = (System.nanoTime() - t0) / 1e9
    ls.foreach(l => ph.layer ++= stages(tr, l) ++ kernels(tr))
    ph
  }

  /** The funnel's stages called one at a time through the same public
    * `Dedup` and `TextAnalysis` functions `curate` composes. */
  private def stages(tr: Tracer, l: Listeners): Seq[(String, Double)] = {
    val cfg = CurationPipeline.Config()
    val base = corpus.select(col("id").as("doc_id"), col("text"))
    val (exactDrop, exactMs) = tr.timed("pipeline", "pipeline.exact") {
      Dedup.exactDuplicates(base, "doc_id", "text").where(col("doc_id") =!= col("canonical_id"))
        .select("doc_id").localCheckpoint(true)
    }
    val kept = base.join(exactDrop, Seq("doc_id"), "left_anti").localCheckpoint(true)
    val nKept = kept.count()
    val (pairs, lshMs) = tr.timed("pipeline", "pipeline.lsh_pairs") {
      Dedup.minhashLshPairs(kept, "doc_id", "text", cfg.ngram, cfg.numHashes, cfg.bandRows, cfg.minSim)
    }
    l.drain()
    val (verified, candidates) = l.queries.all.flatMap(_.nodes).flatMap(Plans.verify).headOption
      .getOrElse((0L, 0L))
    val (_, resolveMs) = tr.timed("pipeline", "pipeline.resolve") {
      Dedup.resolveByComponents(kept, "doc_id", pairs.select("a_id", "b_id")).count()
    }
    val (_, contamMs) = tr.timed("pipeline", "pipeline.contam") {
      Dedup.contaminationFlags(kept, bench.select(col("id").as("doc_id"), col("text")), "doc_id", "text",
        cfg.decontamNgram, cfg.maxContamFrac).count()
    }
    val (_, signalsMs) = tr.timed("pipeline", "pipeline.signals") {
      kept.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_tokens"),
        TextAnalysis.qualityScore(col("text")).as("q")).agg(sum("n_tokens")).collect()
    }
    spark.catalog.clearCache()
    Seq(
      "pipeline.exact_ms" -> exactMs,
      "pipeline.lsh_pairs_ms" -> lshMs,
      "pipeline.resolve_ms" -> resolveMs,
      "pipeline.contam_ms" -> contamMs,
      "pipeline.signals_ms" -> signalsMs,
      "pipeline.lsh_candidates_per_doc" -> candidates.toDouble / math.max(1L, nKept),
      "pipeline.lsh_verify_ratio" -> verified.toDouble / math.max(1L, candidates))
  }

  /** The hashing kernels alone over the corpus' word arrays. */
  private def kernels(tr: Tracer): Seq[(String, Double)] = {
    val cfg = CurationPipeline.Config()
    val rows = corpus.select("text").collect().map(r =>
      new GenericArrayData(r.getString(0).split(" ").filter(_.nonEmpty).map(UTF8String.fromString)))
    def nsPerRow(name: String)(f: GenericArrayData => Any): Double = {
      (0 until KernelWarmRounds).foreach(_ => rows.foreach(f))
      val t0 = System.nanoTime()
      tr.span("functions", name)((0 until KernelRounds).foreach(_ => rows.foreach(f)))
      (System.nanoTime() - t0).toDouble / (KernelRounds.toLong * rows.length)
    }
    Seq(
      "functions.minhash_ns_per_row" -> nsPerRow("functions.minhash_band_keys")(
        MinhashBandKeys.kernel(_, cfg.ngram, cfg.numHashes, cfg.bandRows)),
      "functions.ngram_ns_per_row" -> nsPerRow("functions.ngram_hashes")(
        NgramHashes.kernel(_, cfg.ngram)))
  }
}

object Curation {
  val Docs = 2000
  val BenchDocs = 50
  val ExactShare = 0.20
  val NearShare = 0.15
  val ContamShare = 0.02
  val ForeignShare = 0.20
  val KernelWarmRounds = 2
  val KernelRounds = 3

  /** Exact duplicates that must drop as `exact_duplicate`, and how many
    * documents repeat an earlier text. */
  final case class Planted(exactDrops: Set[Long], exactDropCount: Int)

  /** A language's words: its stopwords plus Zipf-ranked content words. */
  final class Vocabulary(rng: Rng, lang: String, stop: Seq[String]) {
    private val content = IndexedSeq.fill(4000)(Gen.word(rng, 2 + rng.int(3)) + lang.take(1))
      .distinct
    private val zipf = new Zipf(content.size, 1.05)
    def word(r: Rng): String =
      if (r.chance(0.35)) stop(r.int(stop.size)) else content(zipf.draw(r))
    def text(r: Rng, words: Int): String = Seq.fill(words)(word(r)).mkString(" ")
  }
}
