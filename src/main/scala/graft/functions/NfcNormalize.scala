package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native codegen expression — Spark has
  * no builtin for it, and the text-cleaning pipeline (p42) runs it over
  * every document, where a Scala UDF would break whole-stage codegen.
  * `java.text.Normalizer` implements the same Unicode normalization
  * algorithm (UAX #15) as DuckDB's `nfc_normalize` (utf8proc), so
  * composed/decomposed input converges to identical bytes in both
  * engines.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize expects a string, got ${child.dataType.sql}")

  override def nullSafeEval(s: Any): Any =
    NfcNormalize.kernel(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.NfcNormalize$$.MODULE$$.kernel($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcNormalize {

  /** Row-local kernel; the isNormalized probe makes the (overwhelmingly
    * common) already-NFC case allocation-free beyond the UTF8String
    * decode. */
  def kernel(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}
