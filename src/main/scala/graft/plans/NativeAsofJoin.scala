package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** The backward as-of join as a FIRST-CLASS physical operator — the full
  * custom-operator ladder ([[graft.operators.AsofJoin]] is the
  * composition form; this is rung (c): `LogicalPlan` + `SparkStrategy` +
  * `SparkPlan`; the strategy is added per session by [[register]] or
  * cluster-wide by [[graft.GraftExtensions]]).
  *
  * Why a physical operator when the union+window composition already
  * scales: the composition pays ONE sort over |probe|+|build| rows
  * combined and materializes the tagged union's padded schema (every row
  * widened with the other side's null columns) through exchange and
  * sort. The native operator keeps the sides apart: each child sorts its
  * OWN rows with its OWN schema under the standard co-partitioned
  * exchange pair, and a streaming per-partition merge emits probe rows
  * joined to the running last build row ≤ ts — no padded union relation
  * ever exists, and the probe side's columns never pass through a window
  * operator. Semantics are identical to [[graft.operators.AsofJoin
  * .backward]] (inclusive ≤, largest tiebreak wins on equal (key, ts),
  * null keys never match — SQL equi-join convention).
  *
  * Scale shape: same as a shuffled join — both sides exchange on the
  * keys (AQE still re-plans partition counts), sort locally, then one
  * linear merge pass per partition holding O(1) state (the current
  * lookahead build row + the last match, both copied). Hot keys split
  * across time only via [[graft.operators.AsofJoin.backwardSliced]];
  * this operator, like sort-merge join, keeps a key's rows in one
  * partition.
  */
object NativeAsofJoin {

  /** Logical node. Children are ANALYZED plans; every expression below is
    * already resolved against them, so the analyzer passes it through.
    * `payload` must be attributes of `right` (emitted nullable after the
    * probe columns). Duplicate expr-ids BETWEEN the children are
    * tolerated — each side's expressions bind against its own child —
    * but payload ids must not collide with probe output ids. */
  final case class AsofJoinPlan(
      left: LogicalPlan, right: LogicalPlan,
      leftKeys: Seq[Expression], rightKeys: Seq[Expression],
      leftTs: Expression, rightTs: Expression,
      tiebreak: Seq[Expression],
      payload: Seq[Attribute]) extends BinaryNode {
    override def output: Seq[Attribute] =
      left.output ++ payload.map(_.withNullability(true))
    // column pruning may drop unreferenced right columns, never the
    // probe side (all its columns pass through) nor the join inputs
    override def references: AttributeSet =
      AttributeSet(left.output) ++
        AttributeSet(rightKeys :+ rightTs) ++
        AttributeSet(tiebreak) ++ AttributeSet(payload)
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
      copy(left = newLeft, right = newRight)
  }

  object AsofJoinStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case AsofJoinPlan(l, r, lk, rk, lt, rt, tb, pay) =>
        AsofJoinExec(lk, rk, lt, rt, tb, pay, planLater(l), planLater(r)) :: Nil
      case _ => Nil
    }
  }

  final case class AsofJoinExec(
      leftKeys: Seq[Expression], rightKeys: Seq[Expression],
      leftTs: Expression, rightTs: Expression,
      tiebreak: Seq[Expression], payload: Seq[Attribute],
      left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

    override def output: Seq[Attribute] =
      left.output ++ payload.map(_.withNullability(true))

    // the co-partitioned exchange pair of a shuffled join: EnsureRequirements
    // makes both children hash-compatible on the keys (or reuses an
    // existing layout), exactly as for SortMergeJoin
    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

    // each side sorts its OWN rows: (keys, ts) on the probe, (keys, ts,
    // tiebreak) on the build so equal-(key, ts) build rows resolve to the
    // largest tiebreak (it sorts last and overwrites the running match)
    override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
      (leftKeys :+ leftTs).map(SortOrder(_, Ascending)),
      ((rightKeys :+ rightTs) ++ tiebreak).map(SortOrder(_, Ascending)))

    override def outputPartitioning: Partitioning = left.outputPartitioning

    // probe rows stream through in their sorted order
    override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

    protected override def doExecute(): RDD[InternalRow] = {
      val keyTypes = leftKeys.map(_.dataType)
      val tsType = leftTs.dataType
      val leftOut = left.output
      val rightOut = right.output
      val pay = payload
      val (lks, rks, lts, rts) = (leftKeys, rightKeys, leftTs, rightTs)
      val out = output
      left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
        val lKeyProj = UnsafeProjection.create(lks, leftOut)
        val rKeyProj = UnsafeProjection.create(rks, rightOut)
        val lTsProj = UnsafeProjection.create(Seq(lts), leftOut)
        val rTsProj = UnsafeProjection.create(Seq(rts), rightOut)
        val payProj = UnsafeProjection.create(pay, rightOut)
        // payload slots must bind NULLABLE (the unmatched row is all-null
        // even when the source attrs are non-null)
        val resultProj = UnsafeProjection.create(out,
          leftOut ++ pay.map(_.withNullability(true)))
        val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
        val tsOrd = RowOrdering.createNaturalAscendingOrdering(Seq(tsType))
        val nullPayload = new GenericInternalRow(pay.length)
        val joined = new JoinedRow

        new Iterator[InternalRow] {
          // lookahead build row — copied, because sorter iterators may
          // reuse row memory across next() calls (the spill path does)
          private var rRow: InternalRow =
            if (rIter.hasNext) rIter.next().copy() else null
          private var matchPayload: UnsafeRow = null
          private var matchKey: UnsafeRow = null

          override def hasNext: Boolean = lIter.hasNext

          override def next(): InternalRow = {
            val l = lIter.next()
            val lk = lKeyProj(l)
            val lt = lTsProj(l)
            // consume build rows at-or-before (lk, lt) in merge order,
            // tracking the last same-key one as the running match
            var advancing = rRow != null
            while (advancing) {
              val rk = rKeyProj(rRow)
              val c = keyOrd.compare(rk, lk)
              if (c < 0 || (c == 0 && tsOrd.compare(rTsProj(rRow), lt) <= 0)) {
                if (c == 0 && !rk.anyNull && !rTsProj(rRow).isNullAt(0)) {
                  matchPayload = payProj(rRow).copy()
                  matchKey = rk.copy()
                }
                rRow = if (rIter.hasNext) rIter.next().copy() else null
                advancing = rRow != null
              } else advancing = false
            }
            // a match left over from an earlier key group is stale; null
            // keys never match (equi-join convention)
            val valid = matchKey != null && !lk.anyNull &&
              keyOrd.compare(matchKey, lk) == 0
            resultProj(joined(l, if (valid) matchPayload else nullPayload))
          }
        }
      }
    }

    override protected def withNewChildrenInternal(
        newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
      copy(left = newLeft, right = newRight)
  }

  /** Idempotently add the planner strategy to this session; unlike the
    * strategy, the native functions need no per-session step (see
    * [[graft.functions.Native]]). Cluster-wide deployments get the
    * strategy from [[graft.GraftExtensions]] instead. */
  def register(spark: SparkSession): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental
    if (!exp.extraStrategies.contains(AsofJoinStrategy))
      exp.extraStrategies = exp.extraStrategies :+ AsofJoinStrategy
  }

  /** Backward as-of join via the native operator; the mirror of
    * [[graft.operators.AsofJoin.backward]]'s signature and output shape
    * (probe columns, then `payload` columns, null when no build row ≤
    * ts). `tiebreak` right columns order equal-(key, ts) build rows —
    * the largest wins. */
  def backward(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String,
               payload: Seq[String], tiebreak: Seq[String]): DataFrame = {
    require(payload.nonEmpty, "as-of join with no payload columns")
    require(!payload.exists(left.columns.contains),
      s"payload ${payload.mkString(",")} collides with a left column")
    val spark = left.sparkSession
    register(spark)
    // Alias-wrap BOTH sides before resolving: when the inputs share
    // lineage (a self-as-of, or two filters of one frame), the analyzer's
    // DeduplicateRelations rewrites one subtree's expr-ids, and any plain
    // attribute this node captured from it would dangle. Alias outputs
    // keep their expr-ids through that rewrite, and the prefixed names
    // are never "redundant" aliases for the optimizer to strip. The
    // final select renames everything back.
    import org.apache.spark.sql.functions.col
    def wrap(df: DataFrame, prefix: String): DataFrame =
      df.select(df.columns.map(c => col(c).as(prefix + c)).toSeq: _*)
    val lw = wrap(left, "__l_")
    val rw = wrap(right, "__r_")
    val lp = lw.queryExecution.analyzed
    val rp = rw.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String, side: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"$side has no column ${n.drop(4)}"))
    val lk = keys.map(k => attr(lp, "__l_" + k, "left"))
    val rk = keys.map(k => attr(rp, "__r_" + k, "right"))
    val lt = attr(lp, "__l_" + leftTs, "left")
    val rt = attr(rp, "__r_" + rightTs, "right")
    lk.zip(rk).foreach { case (a, b) =>
      require(a.dataType == b.dataType && RowOrdering.isOrderable(a.dataType),
        s"key ${a.name.drop(4)}: unorderable or mismatched types ${a.dataType}/${b.dataType}")
    }
    require(lt.dataType == rt.dataType && RowOrdering.isOrderable(lt.dataType),
      s"timestamp types differ or unorderable: ${lt.dataType}/${rt.dataType}")
    val pay = payload.map(p => attr(rp, "__r_" + p, "right"))
    val joined = GraftSqlShims.ofRows(spark,
      AsofJoinPlan(lp, rp, lk, rk, lt, rt,
        tiebreak.map(t => attr(rp, "__r_" + t, "right")), pay))
    joined.select(
      left.columns.map(c => col("__l_" + c).as(c)).toSeq ++
        payload.map(p => col("__r_" + p).as(p)): _*)
  }
}
