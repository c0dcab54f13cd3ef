package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.Native
import graft.plans.HaversineJoinRule

/** Session-extension injector for the engine's native SQL functions, so a
  * cluster deployment gets them in EVERY session (including thrift/Connect
  * sessions that never touch Scala code):
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * Injects every row of the [[graft.functions.Native]] table — the same
  * arity-checked builders `Native.register(spark)` adds to a single
  * session — plus the distance-join rule and the as-of join strategy.
  * Library operators need none of this: they build their expressions
  * directly through `Native(name, args*)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Native.table.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.builder)))
    // naive `haversine_m(...) < r` join conditions → tile-bucketed equi-joins
    ext.injectOptimizerRule(_ => HaversineJoinRule)
    // the native as-of join physical operator (AsofJoinPlan → AsofJoinExec)
    ext.injectPlannerStrategy(_ => graft.plans.NativeAsofJoin.AsofJoinStrategy)
  }
}
