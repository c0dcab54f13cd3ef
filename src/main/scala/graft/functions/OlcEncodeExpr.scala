package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** OLC (plus-code) pair-section encode as a native codegen expression.
  *
  * The tile id is the engine's partition key (reference:
  * OsmLocationTool.java:26-33), so this runs on every place row in nearly
  * every query. The builtin-composed Column formulation expands to a
  * multi-kilobyte expression tree per call site: it blows up analysis and
  * Janino compile time, defeats whole-stage codegen method limits, and —
  * worst — gets DUPLICATED wholesale into scan-side filters by predicate
  * pushdown / constraint inference. One compact expression calling the
  * scalar codec avoids all three while computing the identical floor
  * arithmetic (same doubles in, same digits out).
  */
case class OlcEncodeExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = first.dataType == DoubleType && second.dataType == DoubleType &&
      third.dataType == IntegerType && third.foldable
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"olc_encode expects (double, double, int literal), got " +
        s"(${first.dataType.sql}, ${second.dataType.sql}, ${third.dataType.sql})")
  }

  override def nullSafeEval(latV: Any, lonV: Any, lenV: Any): Any =
    UTF8String.fromString(graft.geo.Olc.encodeWrapped(
      latV.asInstanceOf[Double], lonV.asInstanceOf[Double], lenV.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lat, lon, len) => {
      s"""
         |${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  graft.geo.Olc$$.MODULE$$.encodeWrapped($lat, $lon, $len));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
