package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** A document's curation signals — language, BPE-ish token count and
  * composite quality score — as one native expression over one scan of
  * the text's UTF-8 bytes:
  * `struct<lang STRING, n_tokens INT, quality_score DOUBLE>`.
  *
  * The builtin spelling it replaces splits the text into words five
  * times, runs four stopword `filter` lambdas over them (interpreted per
  * word: `ArrayFilter` has no codegen) and two `regexp_extract_all`
  * scans. The kernel counts everything those compute in one pass:
  *
  *  - words: maximal runs of bytes other than 0x20 (tabs and newlines
  *    belong to words); a stopword hit is an exact, case-sensitive match
  *    against [[graft.pipeline.TextAnalysis.stopwordProfiles]];
  *  - characters: code points, as `UTF8String.numChars` counts them;
  *  - tokens: ASCII letter runs, ASCII digit runs, and every other
  *    non-space code point (`[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]`);
  *  - punctuation: every code point that is neither ASCII alphanumeric
  *    nor a space (`[^A-Za-z0-9 ]`).
  *
  * Ratios round as Spark's `round(x, 6)` does (HALF_UP on the double's
  * shortest decimal form), and the language is the profile with the
  * greatest rounded stopword ratio, a tie going to the greater name
  * (`greatest(struct(ratio, lang))`), or "und" below 0.02.
  *
  * A null text is not a null struct: it yields ("und", null, 0.4), the
  * builtin spelling's result, where every ratio falls back to 0 and the
  * length score's `least` skips the null word count.
  */
case class TextSignals(child: Expression) extends UnaryExpression {

  override def dataType: DataType = TextSignals.schema

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"text_signals expects a string, got ${child.dataType.sql}")

  override def eval(input: InternalRow): Any =
    TextSignals.kernel(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val text = child.genCode(ctx)
    ev.copy(code = code"""
      ${text.code}
      InternalRow ${ev.value} = graft.functions.TextSignals$$.MODULE$$.kernel(
        ${text.isNull} ? null : ${text.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextSignals {

  val schema: StructType =
    StructType.fromDDL("lang STRING, n_tokens INT, quality_score DOUBLE")

  private val MinLangRatio = 0.02

  // profiles in name order, so a later profile wins a tie on ratio
  private val profiles = graft.pipeline.TextAnalysis.stopwordProfiles.toSeq.sortBy(_._1)
  private val langNames = profiles.map(p => UTF8String.fromString(p._1)).toArray
  private val und = UTF8String.fromString("und")
  private val enIdx = profiles.map(_._1).indexOf("en") // quality's stopword profile
  // each distinct stopword once, with the profiles it belongs to
  private val (stopBytes, stopProfiles) = {
    val byWord = profiles.zipWithIndex
      .flatMap { case ((_, words), p) => words.distinct.map(_ -> p) }
      .groupBy(_._1).toSeq.sortBy(_._1)
    (byWord.map(_._1.getBytes("UTF-8")).toArray, byWord.map(_._2.map(_._2).toArray).toArray)
  }
  private val maxStopLen = stopBytes.map(_.length).max

  private def round6(d: Double): Double =
    java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private val Letter = 1
  private val Digit = 2

  /** Row-local kernel: text → (lang, n_tokens, quality_score). */
  def kernel(text: UTF8String): InternalRow = {
    val hits = new Array[Int](profiles.length)
    var nWords, nChars, nTokens, nPunct = 0
    if (text != null) {
      val base = text.getBaseObject
      val off = text.getBaseOffset
      val n = text.numBytes
      var wordStart = -1
      var run = 0 // class of the token run the previous code point continued
      var i = 0
      while (i < n) {
        val b = Platform.getByte(base, off + i)
        nChars += 1
        if (b == ' ') {
          if (wordStart >= 0) {
            nWords += 1
            countStopword(base, off + wordStart, i - wordStart, hits)
            wordStart = -1
          }
          run = 0
          i += 1
        } else {
          if (wordStart < 0) wordStart = i
          if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) {
            if (run != Letter) { nTokens += 1; run = Letter }
          } else if (b >= '0' && b <= '9') {
            if (run != Digit) { nTokens += 1; run = Digit }
          } else { nTokens += 1; nPunct += 1; run = 0 }
          // code points step as UTF8String.numChars does
          i += UTF8String.numBytesForFirstByte(b)
        }
      }
      if (wordStart >= 0) {
        nWords += 1
        countStopword(base, off + wordStart, math.min(i, n) - wordStart, hits)
      }
    }
    val ratios = hits.map(h => if (nWords > 0) h.toDouble / nWords else 0.0)
    val rounded = ratios.map(round6)
    var best = 0
    var p = 1
    while (p < rounded.length) {
      if (rounded(p) >= rounded(best)) best = p
      p += 1
    }
    val lang = if (rounded(best) >= MinLangRatio) langNames(best) else und
    val score =
      if (text == null) quality(Double.NaN, 0.0, 0.0, 0.0)
      else {
        val words = nWords.toDouble
        val chars = nChars.toDouble
        quality(words,
          if (words > 0) (chars - (words - 1)) / words else 0.0,
          ratios(enIdx),
          if (chars > 0) nPunct / chars else 0.0)
      }
    new GenericInternalRow(Array[Any](lang,
      if (text == null) null else nTokens, score))
  }

  /** The composite score in [0, 1]; a NaN word count is a null one, whose
    * length score `least` resolves to its other argument, 1.0. */
  private def quality(nWords: Double, avgWordLen: Double, stopRatio: Double,
                      punctRatio: Double): Double = {
    val lengthScore = if (nWords.isNaN) 1.0 else least1(nWords / 100.0)
    val v = lengthScore * 0.4 + least1(stopRatio * 5.0) * 0.3 +
      least1(avgWordLen / 8.0) * 0.3 - punctRatio
    round6(if (least1(v) > 0.0) least1(v) else 0.0)
  }

  private def least1(x: Double): Double = if (x < 1.0) x else 1.0

  private def countStopword(base: AnyRef, at: Long, len: Int, hits: Array[Int]): Unit =
    if (len <= maxStopLen) {
      var w = 0
      while (w < stopBytes.length) {
        val sw = stopBytes(w)
        if (sw.length == len) {
          var j = 0
          while (j < len && Platform.getByte(base, at + j) == sw(j)) j += 1
          if (j == len) {
            stopProfiles(w).foreach(p => hits(p) += 1)
            return
          }
        }
        w += 1
      }
    }
}
