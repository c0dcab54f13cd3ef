package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native PassJoin blocking-key generators for the similar-word join
  * (graft.text.SimilarityJoin — PASS-JOIN, Li et al., VLDB 2012, public
  * algorithm). Two expressions over a word column:
  *
  *   - `passjoin_index_keys(w)`: the word's own pigeonhole segments,
  *     keyed positionally as `|w|:i:segment` (the word plays the SHORTER
  *     role of a candidate pair);
  *   - `passjoin_probe_keys(w)`: for every qualifying partner length,
  *     the substrings of `w` restricted to the paper's position-aware
  *     window (see SimilarityJoin's object doc for the derivation).
  *
  * These are the candidate-generation hot path of the vocabulary-scale
  * name-match relation; as ScalaUDFs they forced an interpreted
  * UTF8String->String->Seq[String] round-trip per row and broke the
  * surrounding whole-stage-codegen span. The expression kernels produce
  * the key arrays in one pass and stay codegen-compatible. Key semantics
  * are IDENTICAL to the former UDFs (same strings, same short-word `#`
  * sentinel) — pinned by SimilarityJoinSpec and the d5 oracle.
  */
object PassJoinKeys {

  /** Adaptive Levenshtein budget by word length — the reference's
    * getMaxLevenshteinDistance contract (MergeUtil.java:254-284). */
  def budget(len: Int): Int =
    if (len <= 4) 1 else if (len <= 6) 2 else if (len <= 8) 3 else 4

  /** Words below their own pigeonhole bound block on this sentinel; real
    * positional keys start with a digit, so the domains cannot collide. */
  val ShortKey = "#"

  /** Even partition of `w` into `n` segments (first `len % n` segments one
    * char longer — any fixed scheme works for the pigeonhole). */
  def segments(w: String, n: Int): Seq[String] = {
    val L = w.length
    if (L == 0 || n <= 0) Seq.empty
    else {
      val base = L / n; val extra = L % n
      val out = Seq.newBuilder[String]
      var pos = 0
      var i = 0
      while (i < n && pos < L) {
        val len = base + (if (i < extra) 1 else 0)
        if (len > 0) { out += w.substring(pos, pos + len); pos += len }
        i += 1
      }
      out.result()
    }
  }

  /** Index-side keys of `w` (its own segments, positional). */
  def indexKeys(w: String): Seq[String] = {
    val b = budget(w.length)
    if (w.length <= b) Seq(ShortKey)
    else segments(w, b + 1).zipWithIndex
      .map { case (seg, i) => s"${w.length}:$i:$seg" }
  }

  /** Probe-side keys of `w`: substrings that could be segment `i` of a
    * shorter-or-equal partner of length `lu`, restricted to the
    * position-aware window |q-p| + |(q-p)-Δ| ≤ τ. */
  def probeKeys(w: String): Seq[String] = {
    val L = w.length
    val out = scala.collection.mutable.Set[String]()
    var short = false
    var lu = math.max(1, L - 4)
    while (lu <= L) {
      val tau = budget(lu)
      val delta = L - lu
      if (delta <= tau) {
        if (lu <= tau) short = true
        else {
          val n = tau + 1
          val base = lu / n; val extra = lu % n
          var i = 0; var p = 0
          while (i < n) {
            val segLen = base + (if (i < extra) 1 else 0)
            // shift s = q - p must satisfy |s| + |s - delta| <= tau:
            // s in [ceil((delta-tau)/2), floor((delta+tau)/2)]
            val lo = math.max(0, p + math.ceil((delta - tau) / 2.0).toInt)
            val hi = math.min(L - segLen, p + (delta + tau) / 2)
            var q = lo
            while (q <= hi) {
              out += s"$lu:$i:${w.substring(q, q + segLen)}"
              q += 1
            }
            p += segLen
            i += 1
          }
        }
      }
      lu += 1
    }
    if (short) out += ShortKey
    out.toSeq
  }

  private def toArrayData(keys: Seq[String]): ArrayData = {
    val arr = new Array[Any](keys.length)
    var i = 0
    keys.foreach { k => arr(i) = UTF8String.fromString(k); i += 1 }
    new GenericArrayData(arr)
  }

  /** Row-local eval/codegen kernels (UTF8String in, string array out). */
  def indexKeysData(w: UTF8String): ArrayData = toArrayData(indexKeys(w.toString))
  def probeKeysData(w: UTF8String): ArrayData = toArrayData(probeKeys(w.toString))

}

sealed trait PassJoinKeyExpr extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string word, got ${other.sql}")
  }

  protected def kernelName: String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, w =>
      s"${ev.value} = graft.functions.PassJoinKeys$$.MODULE$$.$kernelName($w);")
}

/** `passjoin_index_keys(word)` — see [[PassJoinKeys]]. */
case class PassJoinIndexKeys(child: Expression) extends PassJoinKeyExpr {
  override protected def kernelName: String = "indexKeysData"
  override def nullSafeEval(w: Any): Any =
    PassJoinKeys.indexKeysData(w.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(newChild)
}

/** `passjoin_probe_keys(word)` — see [[PassJoinKeys]]. */
case class PassJoinProbeKeys(child: Expression) extends PassJoinKeyExpr {
  override protected def kernelName: String = "probeKeysData"
  override def nullSafeEval(w: Any): Any =
    PassJoinKeys.probeKeysData(w.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(newChild)
}
