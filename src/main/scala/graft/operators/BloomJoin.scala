package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Bloom-filter semi-join pre-pruning — the runtime-filter pattern
  * Catalyst injects into selective equi-joins (SPARK-32268), exposed as a
  * composable operator: build a Bloom filter over the build side's key
  * hashes (ONE aggregate to a bounded binary blob), then map-side
  * prefilter the probe side with `might_contain` BEFORE the exact join.
  *
  * Why it matters at 100 TB: a semi-join against a selective dimension
  * normally shuffles the ENTIRE probe relation; with the filter applied
  * at the scan side, only rows that might match reach the exchange —
  * for a 1%-selective build side that is a ~99% shuffle-volume cut at
  * the price of one broadcast-sized blob. Correctness is unconditional:
  * Bloom filters have NO false negatives, so prefilter + exact join ≡
  * exact join (false positives are removed by the join itself) — which
  * is also why the DuckDB oracle is the plain semi-join.
  *
  * The blob is a driver artifact bounded by the filter's bit budget
  * (like the IVF centroids), reusable across queries via [[buildFilter]];
  * keys hash through `xxhash64` exactly as Spark's own injected runtime
  * filters do. Spark keeps the two Catalyst expressions behind SPARK-32268
  * internal-only, so they are built directly into columns (through
  * [[org.apache.spark.sql.GraftSqlShims]]) — no session function registry
  * is involved.
  */
object BloomJoin {

  private def keyHash(cols: Seq[Column]): Column = xxhash64(cols: _*)

  /** ONE aggregate over the build side → serialized Bloom filter over
    * xxhash64 of the key tuple, or None when the build side is empty
    * (the aggregate yields a null blob — which doubles as the emptiness
    * probe, so callers never pay a separate isEmpty scan). `expectedItems`
    * sizes the filter (~3% false-positive rate at Spark's default
    * bits-per-item). */
  def buildFilter(build: DataFrame, keys: Seq[String],
                  expectedItems: Long): Option[Array[Byte]] = {
    require(keys.nonEmpty, "need at least one key column")
    val agg = new BloomFilterAggregate(
      GraftSqlShims.expression(keyHash(keys.map(col))), Literal(expectedItems))
    Option(build.select(GraftSqlShims.column(agg.toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0))
  }

  /** The map-side prune: rows of `probe` whose key tuple MIGHT be in the
    * filter (superset of true matches — no false negatives). */
  def prefilter(probe: DataFrame, filter: Array[Byte],
                keys: Seq[String]): DataFrame = {
    probe.where(GraftSqlShims.column(BloomFilterMightContain(
      Literal(filter), GraftSqlShims.expression(keyHash(keys.map(col))))))
  }

  /** Exact semi-join with Bloom pre-pruning: rows of `probe` whose
    * `probeKeys` tuple appears in `build`'s `buildKeys`. Result is
    * identical to `probe.join(build, …, "left_semi")`; the Bloom pass
    * only reduces what reaches the join's exchange. An empty build side
    * (None filter) degenerates to an empty result with no further jobs. */
  def semiJoin(probe: DataFrame, build: DataFrame,
               probeKeys: Seq[String], buildKeys: Seq[String],
               expectedItems: Long = 1000000L): DataFrame = {
    require(probeKeys.length == buildKeys.length && probeKeys.nonEmpty,
      s"key arity mismatch: $probeKeys vs $buildKeys")
    buildFilter(build, buildKeys, expectedItems) match {
      case None => probe.limit(0)
      case Some(bf) =>
        val cond = probeKeys.zip(buildKeys)
          .map { case (p, b) => probe(p) === build(b) }
          .reduce(_ && _)
        prefilter(probe, bf, probeKeys).join(build, cond, "left_semi")
    }
  }
}
