package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native expressions over [[graft.geo.GeoBands]] — the latitude-adaptive
  * bucketing every radius join keys on. Build side: one packed long per row
  * (`geo_band_key`); probe side: the ≤9-key cover set (`geo_band_keys`),
  * exploded into the equi-join key. Native (codegen) rather than UDFs: they
  * sit on the hot path of every distance join, and
  * [[graft.plans.HaversineJoinRule]] must synthesize them inside logical
  * plans without a deserialization round-trip per row.
  */
case class GeoBandKey(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == DoubleType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"geo_band_key expects (lat double, lon double, radius_m double), got " +
        children.map(_.dataType.sql).mkString("(", ", ", ")"))

  override def nullSafeEval(lat: Any, lon: Any, r: Any): Any =
    graft.geo.GeoBands.buildKey(lat.asInstanceOf[Double],
      lon.asInstanceOf[Double], r.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lat, lon, r) =>
      s"${ev.value} = graft.geo.GeoBands$$.MODULE$$.buildKey($lat, $lon, $r);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(newFirst, newSecond, newThird)
}

case class GeoBandKeys(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == DoubleType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"geo_band_keys expects (lat double, lon double, radius_m double), got " +
        children.map(_.dataType.sql).mkString("(", ", ", ")"))

  override def nullSafeEval(lat: Any, lon: Any, r: Any): Any =
    GeoBandKeyExprs.probeKeysArray(lat.asInstanceOf[Double],
      lon.asInstanceOf[Double], r.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lat, lon, r) =>
      s"${ev.value} = graft.functions.GeoBandKeyExprs$$.MODULE$$" +
        s".probeKeysArray($lat, $lon, $r);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(newFirst, newSecond, newThird)
}

object GeoBandKeyExprs {

  /** Row-local kernel shared by eval and codegen. */
  def probeKeysArray(lat: Double, lon: Double, radiusM: Double): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      graft.geo.GeoBands.probeKeys(lat, lon, radiusM))

}
