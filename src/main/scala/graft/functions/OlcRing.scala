package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The 3×3 neighbor ring of an OLC cell — the cell's own code plus its up
  * to 8 same-length neighbors (deduplicated; polar cells repeat codes and
  * drop the ring rows beyond the pole). Part of the SQL surface for
  * user-written tile adjacency queries (`olc_ring` via GraftExtensions).
  * The engine's own distance joins no longer key on it — they use the
  * latitude-adaptive [[GeoBandKeys]] cover set, which stays exact above
  * |lat| 85 where a fixed cell ring stops covering the radius.
  */
case class OlcRing(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"olc_ring expects a string code, got ${child.dataType.sql}")

  override def nullSafeEval(code: Any): Any =
    OlcRing.ring(code.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, code =>
      s"${ev.value} = graft.functions.OlcRing$$.MODULE$$.ring($code);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object OlcRing {
  /** Row-local kernel: code → deduplicated [code, neighbors...]. */
  def ring(code: UTF8String): ArrayData = {
    val c = code.toString
    val cells = (c +: graft.geo.Olc.neighbors(c)).distinct
    new GenericArrayData(cells.map(UTF8String.fromString).toArray[Any])
  }
}
