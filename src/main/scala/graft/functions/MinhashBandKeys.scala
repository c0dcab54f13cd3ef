package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** `minhash_band_keys(words, n, numHashes, bandRows)` — the whole
  * MinHash+LSH signature stage of [[graft.pipeline.Dedup.minhashLshPairs]]
  * as ONE native expression: word n-gram rolling hashes (poly31 mod 1e9+7,
  * identical to hashing the space-joined gram string —
  * [[graft.pipeline.PortableHash.poly31]]), the numHashes affine-map
  * signature mins, and the banded fold keys, with no gram string ever
  * materialized and no interpreted UDF boundary.
  *
  * The previous spelling built the distinct gram-string array
  * (interpreted higher-order lambdas + one string allocation per gram)
  * purely to feed a ScalaUDF that hashed each gram and reduced the mins.
  * Here each WORD's characters are folded once — gram hashes compose via
  * H(a∘b) = (H(a)·31^|b| + H(b)) mod M — so the kernel is O(chars +
  * grams·numHashes) integer ops. Duplicate grams are NOT deduplicated:
  * min over a multiset equals min over its support, so every emitted band
  * key is bit-identical to the previous formulation and to the DuckDB
  * oracle's SQL rendering. Returns an empty array when the document has
  * fewer than n words (no grams → no bands → no candidate rows).
  */
case class MinhashBandKeys(first: Expression, second: Expression,
                           third: Expression, fourth: Expression)
    extends QuaternaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (ArrayType(StringType, _), IntegerType, IntegerType, IntegerType)
        if second.foldable && third.foldable && fourth.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "minhash_band_keys expects (array<string>, foldable int n, " +
          s"foldable int numHashes, foldable int bandRows), got " +
          s"${first.dataType.sql}, ${second.dataType.sql}, " +
          s"${third.dataType.sql}, ${fourth.dataType.sql}")
    }

  override def nullSafeEval(words: Any, n: Any, numHashes: Any, bandRows: Any): Any =
    MinhashBandKeys.kernel(words.asInstanceOf[ArrayData], n.asInstanceOf[Int],
      numHashes.asInstanceOf[Int], bandRows.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (words, n, nh, br) =>
      s"${ev.value} = graft.functions.MinhashBandKeys$$.MODULE$$" +
        s".kernel($words, $n, $nh, $br);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(newFirst, newSecond, newThird, newFourth)
}

object MinhashBandKeys {

  private val M = graft.pipeline.PortableHash.M

  /** Row-local kernel: words -> LSH band keys of the MinHash signature. */
  def kernel(words: ArrayData, n: Int, numHashes: Int, bandRows: Int): ArrayData = {
    val m = words.numElements()
    if (m < n || n <= 0) return new GenericArrayData(Array.emptyLongArray)
    val ws = new Array[String](m)
    var k = 0
    while (k < m) { ws(k) = words.getUTF8String(k).toString; k += 1 }
    val sig = sigOf(ws, n, numHashes)
    if (sig.isEmpty) new GenericArrayData(Array.emptyLongArray)
    else new GenericArrayData(bandsOf(sig, bandRows))
  }

  /** MinHash signature of a word sequence's n-grams — the batch kernel as
    * a plain-Scala function, shared with the streaming near-dup state
    * ([[graft.streaming.DedupStream]]) so stream and batch signatures are
    * bit-identical. Empty when fewer than n words. */
  def sigOf(words: Array[String], n: Int, numHashes: Int): Array[Long] = {
    val m = words.length
    if (m < n || n <= 0) return Array.emptyLongArray
    // per-word rolling hash + 31^len, each character folded exactly once
    val wh = new Array[Long](m)
    val wp = new Array[Long](m)
    var k = 0
    while (k < m) {
      val s = words(k)
      var h = 0L; var p = 1L
      var i = 0
      while (i < s.length) {
        h = (h * 31 + s.charAt(i)) % M
        p = (p * 31) % M
        i += 1
      }
      wh(k) = h; wp(k) = p
      k += 1
    }
    // gram hash = fold of (word, ' ', word, ...) — compose per-word hashes
    val g = new Array[Long](m - n + 1)
    var i = 0
    while (i < g.length) {
      var h = wh(i)
      var j = 1
      while (j < n) {
        h = (h * 31 + 32) % M               // the joining space
        h = (h * wp(i + j) + wh(i + j)) % M // absorb the next word
        j += 1
      }
      g(i) = h
      i += 1
    }
    // signature mins under the affine permutations
    val sig = new Array[Long](numHashes)
    var s = 0
    while (s < numHashes) {
      val a = graft.pipeline.PortableHash.minhashA(s)
      val b = graft.pipeline.PortableHash.minhashB(s)
      var mn = Long.MaxValue
      var t = 0
      while (t < g.length) {
        val v = (a * g(t) + b) % M
        if (v < mn) mn = v
        t += 1
      }
      sig(s) = mn
      s += 1
    }
    sig
  }

  /** Banded fold keys over a signature, seeded by band index — the LSH
    * bucket keys both the batch pair generator and the streaming state
    * group on. */
  def bandsOf(sig: Array[Long], bandRows: Int): Array[Long] = {
    val bands = sig.length / bandRows
    val out = new Array[Long](bands)
    var bi = 0
    while (bi < bands) {
      var h = (bi + 1).toLong
      var r = 0
      while (r < bandRows) {
        h = (h * 31 + sig(bi * bandRows + r)) % M
        r += 1
      }
      out(bi) = h
      bi += 1
    }
    out
  }
}
