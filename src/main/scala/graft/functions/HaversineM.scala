package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Great-circle distance in meters as a native codegen expression —
  * the reference's simplified haversine with R = 6372.8 km (reference:
  * openplacereviews-core/src/main/java/org/openplacereviews/osm/util/
  * OsmMapUtils.java:99-110), bit-identical to both the scalar kernel
  * [[graft.geo.GeoFunctions.haversineMScalar]] and the previous
  * builtin-composed Column (same doubles, same operation order).
  *
  * Two reasons to be a single expression rather than a composed tree:
  * the composed form repeats `radians`/`sin`/`cos` subtrees that pushdown
  * and constraint inference then duplicate into scan filters, and — the
  * load-bearing one — [[graft.plans.HaversineJoinRule]] needs a stable
  * node to pattern-match in join conditions (matching an 11-node builtin
  * subtree would be fragile against optimizer rewrites of its pieces).
  */
case class HaversineM(first: Expression, second: Expression,
                      third: Expression, fourth: Expression)
    extends QuaternaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == DoubleType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"haversine_m expects four doubles, got " +
        children.map(_.dataType.sql).mkString("(", ", ", ")"))

  override def nullSafeEval(lat1: Any, lon1: Any, lat2: Any, lon2: Any): Any =
    graft.geo.GeoFunctions.haversineMScalar(
      lat1.asInstanceOf[Double], lon1.asInstanceOf[Double],
      lat2.asInstanceOf[Double], lon2.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lat1, lon1, lat2, lon2) =>
      s"${ev.value} = graft.geo.GeoFunctions$$.MODULE$$" +
        s".haversineMScalar($lat1, $lon1, $lat2, $lon2);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(newFirst, newSecond, newThird, newFourth)
}
