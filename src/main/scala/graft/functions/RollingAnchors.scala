package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined anchor positions of a text, as one native expression:
  * the 0-based CODE-POINT positions `p` whose k-gram rolling hash
  * (the repo's portable poly31 family over code points mod 1e9+7,
  * [[graft.pipeline.PortableHash]]) satisfies `h(p) % stride == 0`.
  *
  * This replaces the builtin-composed spelling on the substring-dedup
  * hot path (`explode(transform(sequence(0, n−k), p → substr ...))` +
  * a per-position md5): that form materializes EVERY k-code-point gram
  * string — O(n·k) bytes of transient allocation per document — just to
  * hash it, where the rolling recurrence
  *
  *   h(p+1) = (h(p) − cp[p]·31^{k−1}) · 31 + cp[p+k]   (mod 1e9+7)
  *
  * is O(n) with zero string allocation. Downstream extracts gram strings
  * ONLY at the ~n/stride anchors. The hash family is the same poly31 the
  * p3/p4 oracles replay, so DuckDB reproduces the anchor set with the
  * established `list_reduce(list_prepend(0, …ascii…))` idiom.
  */
case class RollingAnchors(first: Expression, second: Expression,
                          third: Expression) extends TernaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, IntegerType)
          if second.foldable && third.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"rolling_anchors expects (string, foldable int, foldable int), " +
          s"got ${first.dataType.sql}, ${second.dataType.sql}, " +
          s"${third.dataType.sql}")
    }

  override def nullSafeEval(text: Any, k: Any, stride: Any): Any =
    RollingAnchors.kernel(text.asInstanceOf[UTF8String],
      k.asInstanceOf[Int], stride.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (text, k, stride) =>
      s"${ev.value} = graft.functions.RollingAnchors$$.MODULE$$" +
        s".kernel($text, $k, $stride);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(newFirst, newSecond, newThird)
}

object RollingAnchors {

  private val M = graft.pipeline.PortableHash.M

  /** Row-local kernel: text → anchor positions (code points, 0-based). */
  def kernel(text: UTF8String, k: Int, stride: Int): ArrayData = {
    require(k >= 1 && stride >= 1, s"k=$k stride=$stride")
    val cps = text.toString.codePoints().toArray
    val n = cps.length
    if (n < k) return new GenericArrayData(Array.emptyIntArray)
    // 31^(k-1) mod M, the leading-term weight the roll removes
    var pow = 1L
    var j = 1
    while (j < k) { pow = pow * 31 % M; j += 1 }
    val out = new Array[Int](n - k + 1)
    var nOut = 0
    var h = 0L
    var i = 0
    while (i < k) { h = (h * 31 + cps(i)) % M; i += 1 }
    if (h % stride == 0) { out(nOut) = 0; nOut += 1 }
    var pos = 0
    while (pos + k < n) {
      // cps(pos)*pow % M < M, so one +M keeps the difference nonnegative
      h = (h - cps(pos) * pow % M + M) % M
      h = (h * 31 + cps(pos + k)) % M
      pos += 1
      if (h % stride == 0) { out(nOut) = pos; nOut += 1 }
    }
    new GenericArrayData(
      if (nOut == out.length) out else java.util.Arrays.copyOf(out, nOut))
  }
}
