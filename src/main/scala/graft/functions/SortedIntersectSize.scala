package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** Intersection size of two SORTED string arrays as a native Catalyst
  * expression: a merge walk over ArrayData/UTF8String with whole-stage
  * codegen — no per-row conversion to Scala collections, no per-pair hash
  * set. This is the hot inner loop of set-similarity joins (n-gram Jaccard
  * dedup); a Scala UDF doing the same work spends ~10x the time
  * materializing Seq[String] arguments.
  *
  * Inputs MUST be sorted with Spark's binary string ordering (array_sort).
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  private def elementType: DataType = left.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType | IntegerType | LongType, _) => true
      case _ => false
    }) && left.dataType.asInstanceOf[ArrayType].elementType ==
      right.dataType.asInstanceOf[ArrayType].elementType
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_size expects two arrays of string/int/long with equal " +
        s"element types, got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0; var j = 0; var cnt = 0
    elementType match {
      case StringType =>
        while (i < na && j < nb) {
          val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
          if (c == 0) { cnt += 1; i += 1; j += 1 } else if (c < 0) i += 1 else j += 1
        }
      case IntegerType =>
        while (i < na && j < nb) {
          val c = java.lang.Integer.compare(a.getInt(i), b.getInt(j))
          if (c == 0) { cnt += 1; i += 1; j += 1 } else if (c < 0) i += 1 else j += 1
        }
      case LongType =>
        while (i < na && j < nb) {
          val c = java.lang.Long.compare(a.getLong(i), b.getLong(j))
          if (c == 0) { cnt += 1; i += 1; j += 1 } else if (c < 0) i += 1 else j += 1
        }
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val cnt = ctx.freshName("cnt"); val c = ctx.freshName("c")
      val cmp = elementType match {
        case StringType => s"$a.getUTF8String($i).compareTo($b.getUTF8String($j))"
        case IntegerType => s"java.lang.Integer.compare($a.getInt($i), $b.getInt($j))"
        case LongType => s"java.lang.Long.compare($a.getLong($i), $b.getLong($j))"
      }
      s"""
         |int $i = 0, $j = 0, $cnt = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  int $c = $cmp;
         |  if ($c == 0) { $cnt++; $i++; $j++; }
         |  else if ($c < 0) $i++; else $j++;
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
