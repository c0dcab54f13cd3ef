package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** Sorted distinct 64-bit hashes of the word n-grams of a words array, as
  * one native expression: each word is xxhash64'd once from its UTF8String
  * bytes, gram hashes combine the n word hashes with a golden-ratio mix
  * (no gram string is ever materialized), and the result is sorted and
  * deduplicated in one primitive-array pass.
  *
  * This replaces the builtin-composed pipeline
  * `array_sort(transform(ngramsOfWords(words, n), g => xxhash64(g)))` on
  * the set-similarity hot path (graft.pipeline.Dedup): that spelling runs
  * interpreted higher-order lambdas per element and builds every gram
  * string just to hash it. Jaccard similarities are unchanged w.h.p. —
  * they depend only on distinct-gram identities, and the combine is
  * injective-w.h.p. over word-hash sequences — so the DuckDB oracle
  * (which intersects gram STRINGS) still matches every reported value.
  */
case class NgramHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"ngram_hashes expects (array<string>, foldable int), got " +
          s"${left.dataType.sql}, ${right.dataType.sql}")
    }

  override def nullSafeEval(words: Any, n: Any): Any =
    NgramHashes.kernel(words.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (words, n) =>
      s"${ev.value} = graft.functions.NgramHashes$$.MODULE$$.kernel($words, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(newLeft, newRight)
}

object NgramHashes {

  private val Mix = 0x9E3779B185EBCA87L // xxhash prime_1 golden-ratio mix

  /** Row-local kernel: words -> sorted distinct n-gram hashes. */
  def kernel(words: ArrayData, n: Int): ArrayData = {
    val m = words.numElements()
    if (m < n) return new GenericArrayData(Array.emptyLongArray)
    // hash each word once
    val wh = new Array[Long](m)
    var i = 0
    while (i < m) {
      val w = words.getUTF8String(i)
      wh(i) = XXH64.hashUnsafeBytes(w.getBaseObject, w.getBaseOffset, w.numBytes, 42L)
      i += 1
    }
    // combine into gram hashes
    val g = new Array[Long](m - n + 1)
    i = 0
    while (i < g.length) {
      var h = 0L
      var j = 0
      while (j < n) {
        h = java.lang.Long.rotateLeft(h * Mix + wh(i + j), 27)
        j += 1
      }
      g(i) = h
      i += 1
    }
    // sort + in-place dedup
    java.util.Arrays.sort(g)
    var out = 0
    i = 0
    while (i < g.length) {
      if (out == 0 || g(out - 1) != g(i)) { g(out) = g(i); out += 1 }
      i += 1
    }
    new GenericArrayData(if (out == g.length) g else java.util.Arrays.copyOf(g, out))
  }
}
