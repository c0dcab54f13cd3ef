package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The portable poly31 string hash as a native codegen expression — for
  * operators that hash a scalar item column on the corpus-hot path (the
  * Count-Min sketch build) where a Scala UDF would break whole-stage
  * codegen and an interpreted higher-order fold would re-evaluate per
  * character. The kernel folds Unicode CODE POINTS mod 1e9+7
  * ([[graft.pipeline.PortableHash.poly31Cp]]) — exactly what the DuckDB
  * oracles' `list_reduce(ascii(substr(...)))` computes on ALL text, not
  * just BMP, so x4's estimates match the oracle even on astral/emoji
  * items.
  */
case class Poly31Hash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"poly31_hash expects a string, got ${child.dataType.sql}")

  override def nullSafeEval(s: Any): Any =
    Poly31Hash.kernel(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.Poly31Hash$$.MODULE$$.kernel($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Poly31Hash {

  /** Row-local kernel: delegates to the shared scalar implementation so
    * the hash family has exactly one definition. */
  def kernel(s: UTF8String): Long = graft.pipeline.PortableHash.poly31Cp(s.toString)

}
