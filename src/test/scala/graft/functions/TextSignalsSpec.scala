package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.TextAnalysis

/** The `text_signals` kernel against the builtin spelling it replaced
  * (kept here as the reference): language ID, BPE-ish token count and
  * quality score must be identical, bit for bit, on seeded random texts
  * that cover every rule the kernel implements, on the edge cases and on
  * null. */
class TextSignalsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("text-signals")
    .getOrCreate()

  /** The builtin spelling: split + lambda `filter` per word, a stopword
    * `filter` per profile, and `regexp_extract_all` for tokens and
    * punctuation. */
  private object Builtin {
    def langId(text: Column): Column = {
      val scored = TextAnalysis.stopwordProfiles.toSeq.sortBy(_._1).map { case (lang, prof) =>
        struct(round(TextAnalysis.profileRatio(text, prof), 6).as("ratio"), lit(lang).as("lang"))
      }
      val best = greatest(scored: _*)
      when(best.getField("ratio") >= 0.02, best.getField("lang")).otherwise(lit("und"))
    }

    def bpeishTokenCount(text: Column): Column =
      size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))

    def qualityScore(t: Column): Column = {
      val ws = TextAnalysis.words(t)
      val nWords = size(ws).cast("double")
      val nChars = length(t).cast("double")
      val avgWordLen = when(nWords > 0, (nChars - (nWords - 1)) / nWords).otherwise(0.0)
      val stopRatio = TextAnalysis.profileRatio(t, TextAnalysis.stopwordProfiles("en"))
      val punctRatio = when(nChars > 0,
        size(regexp_extract_all(t, lit("[^A-Za-z0-9 ]"), lit(0))).cast("double") / nChars)
        .otherwise(0.0)
      val lengthScore = least(nWords / 100.0, lit(1.0))
      round(greatest(lit(0.0), least(lit(1.0),
        lengthScore * 0.4 + least(stopRatio * 5.0, lit(1.0)) * 0.3 +
          least(avgWordLen / 8.0, lit(1.0)) * 0.3 - punctRatio)), 6)
    }
  }

  /** Seeded texts drawn from all three stopword profiles (also in other
    * cases), letter, digit and mixed words, punctuation, 2-, 3- and 4-byte
    * UTF-8, joined by spaces, runs of spaces, tabs, newlines or nothing. */
  private def randomTexts(n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val stop = TextAnalysis.stopwordProfiles.values.flatten.toIndexedSeq
    val symbols = IndexedSeq(".", ",", "!", "?", ";", ":", "'", "\"", "(", ")", "-", "$",
      "#", "@", "é", "日本", "😀", "ß", "€", "\u0001")
    val seps = IndexedSeq(" ", " ", " ", " ", "  ", "   ", "", "\t", "\n", " \t ")
    def letters(k: Int) =
      (1 to k).map(_ => (if (rnd.nextBoolean()) 'a' else 'A') + rnd.nextInt(26)).map(_.toChar).mkString
    def piece(): String = rnd.nextInt(10) match {
      case 0 | 1 | 2 => stop(rnd.nextInt(stop.size))
      case 3 => val w = stop(rnd.nextInt(stop.size))
        if (rnd.nextBoolean()) w.toUpperCase else w.capitalize
      case 4 | 5 => letters(1 + rnd.nextInt(8))
      case 6 => rnd.nextInt(100000).toString
      case 7 => letters(1 + rnd.nextInt(3)) + rnd.nextInt(100) + letters(rnd.nextInt(3))
      case 8 => symbols(rnd.nextInt(symbols.size))
      case _ => stop(rnd.nextInt(stop.size)) + symbols(rnd.nextInt(symbols.size))
    }
    Seq.fill(n) {
      val len = rnd.nextInt(5) match {
        case 0 => rnd.nextInt(3)
        case 1 => 100 + rnd.nextInt(60)
        case _ => rnd.nextInt(40)
      }
      val sb = new StringBuilder
      if (rnd.nextInt(8) == 0) sb ++= seps(rnd.nextInt(seps.size))
      (0 until len).foreach { i =>
        if (i > 0) sb ++= seps(rnd.nextInt(seps.size))
        sb ++= piece()
      }
      if (rnd.nextInt(8) == 0) sb ++= seps(rnd.nextInt(seps.size))
      sb.toString
    }
  }

  private val edgeCases = Seq("", " ", "   ", "\t", "\n", "the", " the ", "the  a\tof",
    "The THE the", "a1b2 33 x", "12abc", "é", "日本", "😀", "😀 😀", "the 😀 le",
    "the le", "le the", "der le", "the der le", "a\tthe", "der die", "la la the", "Über café",
    "!!!", "a", "zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz " +
      "zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz the")

  private def both(texts: Seq[String]): DataFrame = {
    val s = spark
    import s.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .union(Seq((-1L, null: String)).toDF("id", "text"))
      .select(col("id"), col("text"),
        struct(Builtin.langId(col("text")), Builtin.bpeishTokenCount(col("text")),
          Builtin.qualityScore(col("text"))).as("builtin"),
        struct(TextAnalysis.langId(col("text")), TextAnalysis.bpeishTokenCount(col("text")),
          TextAnalysis.qualityScore(col("text"))).as("native"))
  }

  /** Rows whose builtin and native triples differ; doubles by bits. */
  private def mismatches(df: DataFrame): Seq[Row] = df.collect().toSeq.filterNot { r =>
    val (b, n) = (r.getStruct(2), r.getStruct(3))
    b.get(0) == n.get(0) && b.get(1) == n.get(1) &&
      java.lang.Double.doubleToLongBits(b.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(n.getDouble(2))
  }

  test("text_signals equals the builtin spelling on 20 000 seeded random texts") {
    val texts = randomTexts(20000, seed = 8L)
    // the draw reaches every rule: ties, all languages, und, and multi-byte
    val df = both(texts).cache()
    try {
      val bad = mismatches(df)
      assert(bad.isEmpty, s"${bad.size} mismatches, e.g. ${bad.take(3).mkString("; ")}")
      val langs = df.select(col("native.lang")).distinct().collect().map(_.getString(0)).toSet
      assert(langs === Set("de", "en", "fr", "und"))
    } finally df.unpersist()
  }

  test("edge cases and null: builtin and native agree, with pinned results") {
    val bad = mismatches(both(edgeCases))
    assert(bad.isEmpty, bad.mkString("; "))
    val s = spark
    import s.implicits._
    val got = Seq[String](null, "", "the le", "le the", "der le", "the 😀 le", "a\tthe")
      .toDF("text").select(TextAnalysis.signals(col("text")).as("s"))
      .collect().map(_.getStruct(0)).map(r => (r.get(0), r.get(1), r.get(2))).toSeq
    assert(got === Seq(
      ("und", null, 0.4),    // null text: ratios 0, length score full
      ("und", 0, 0.0),       // no words at all
      ("fr", 2, 0.40175),    // en and fr tie at 0.5: the greater name wins
      ("fr", 2, 0.40175),
      ("fr", 2, 0.10175),    // de and fr tie; no English stopword
      ("fr", 3, 0.262),      // the emoji is a word, a token and punctuation
      ("und", 3, 0.0)))      // the tab joins one word "a\tthe": no stopword
  }

  test("codegen and interpreted evaluation agree, null included") {
    val texts = randomTexts(500, seed = 9L) ++ edgeCases
    def run(): Seq[Row] = both(texts).select("id", "native").orderBy("id").collect().toSeq
    val codegen = run()
    val conf = spark.conf
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() === codegen)
    finally {
      conf.unset("spark.sql.codegen.wholeStage")
      conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
