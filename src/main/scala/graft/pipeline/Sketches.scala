package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Native

/** Count-Min sketch (Cormode & Muthukrishnan 2005, "An improved data
  * stream summary: the count-min sketch and its applications") — the
  * approximate-counting member of the sketch family (x1 HLL distinct,
  * x2 quantile, x3 exact heavy hitters): `depth` hash rows × `width`
  * counters, point estimate = min over rows, guaranteed to never
  * UNDER-estimate (collisions only add).
  *
  * Distributed shape (100 TB):
  *  - the build is ONE map-side-combinable hash aggregate: each item
  *    explodes to `depth` (row, bucket) cells, but partial aggregation
  *    collapses every partition to ≤ depth·width rows before the
  *    shuffle — the corpus itself never reshuffles and the sketch is a
  *    bounded artifact (depth·width longs) regardless of input size;
  *  - estimation broadcasts the sketch against any probe relation
  *    (map-only per probe);
  *  - two sketches built with the same (depth, width) merge by cell-wise
  *    addition — a `unionByName.groupBy.sum`, the property that makes
  *    the sketch composable across corpus shards or streaming batches.
  *
  * Determinism: row j's hash is the affine map (poly31cp(item)·A_j + B_j)
  * mod 1e9+7 mod width, with the [[PortableHash.minhashA]]/`minhashB`
  * multipliers over the CODE-POINT fold ([[PortableHash.poly31Cp]], the
  * convention whose SQL form is DuckDB's character slicing on all text,
  * astral included) — pure integer math the oracle reproduces
  * bit-for-bit, so estimates (not just error bounds) are exact-checkable.
  * The fold runs as the native codegen `poly31_hash` (no UDF on the
  * build path).
  */
object Sketches {

  private val M = PortableHash.M

  /** Bucket of `itemHash` in sketch row j. */
  def cmsBucket(itemHash: Column, j: Int, width: Int): Column =
    pmod((itemHash * lit(PortableHash.minhashA(j)) + lit(PortableHash.minhashB(j))) % lit(M),
      lit(width.toLong))

  private def hashed(df: DataFrame, itemCol: String): DataFrame = {
    df.where(col(itemCol).isNotNull)
      .select(Native("poly31_hash", col(itemCol).cast("string")).as("ih"))
  }

  /** Build the sketch over `df(itemCol)` (one occurrence per row):
    * (j, bucket, cnt), depth·width rows at most. */
  def countMin(df: DataFrame, itemCol: String, depth: Int, width: Int): DataFrame = {
    require(depth > 0 && width > 0, s"bad sketch shape: $depth x $width")
    val cells = (0 until depth).map(j =>
      struct(lit(j).as("j"), cmsBucket(col("ih"), j, width).as("bucket")))
    hashed(df, itemCol)
      .select(explode(array(cells: _*)).as("c"))
      .groupBy(col("c.j").as("j"), col("c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates for `probes(itemCol)` (distinct items): (item,
    * cms_cnt). The sketch is broadcast — estimation is map-side. An item
    * whose cells were never touched estimates 0 (min over absent cells),
    * exactly the sketch's zero-initialized counters. */
  def estimate(sketch: DataFrame, probes: DataFrame, itemCol: String,
               depth: Int, width: Int): DataFrame = {
    val cells = (0 until depth).map(j =>
      struct(lit(j).as("j"), cmsBucket(col("ih"), j, width).as("bucket")))
    val probeCells = probes.select(col(itemCol).as("item")).distinct()
      .select(col("item"),
        Native("poly31_hash", col("item").cast("string")).as("ih"))
      .select(col("item"), explode(array(cells: _*)).as("c"))
      .select(col("item"), col("c.j").as("j"), col("c.bucket").as("bucket"))
    probeCells
      .join(broadcast(sketch), Seq("j", "bucket"), "left")
      .groupBy("item")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_cnt"))
  }

  /** KMV (k-minimum-values) distinct sketch per group — Bar-Yossef et
    * al. 2002 / Beyer et al. 2007 ("On synopses for distinct-value
    * estimation under multiset operations"): a group's sketch is the k
    * smallest DISTINCT portable item hashes, a bounded artifact that —
    * unlike HLL — supports INTERSECTION estimation (see
    * [[kmvIntersect]]), because the sketch of a union is computable from
    * two sketches and common hashes identify common items.
    *
    * Scale shape: (key, hash) pairs shuffle for the distinct — never
    * items — then the `row_number ≤ k` cut runs with SPARK-37099's
    * Partial WindowGroupLimit below the exchange, so a group forwards
    * ≤ k rows per input partition regardless of its cardinality.
    *
    * Determinism: the hash is the portable poly31 code-point fold
    * ([[PortableHash]]) pushed through the j=0 affine mix — the raw
    * poly31 of a short string is SMALL (< 31^len·maxCp), nowhere near
    * uniform on [0, M), and KMV's estimator reads cardinality off the
    * k-th order statistic of a uniform sample; the affine step is what
    * makes θ mean anything. Pure integer math the oracle reproduces
    * bit-for-bit, so sketches AND estimates are exact-checkable.
    *
    * Returns (key, ih, rn), ≤ k rows per key, `rn` the 1-based rank. */
  def kmv(df: DataFrame, keyCol: String, itemCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k=$k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy("ih")
    df.where(col(itemCol).isNotNull)
      .select(col(keyCol).as("key"),
        pmod(Native("poly31_hash", col(itemCol).cast("string"))
          * lit(1103515245L) + lit(12345L), lit(M)).as("ih"))
      .distinct()
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
  }

  /** Distinct union/intersection estimates for key pairs from a [[kmv]]
    * sketch relation. For each (key_a, key_b) in `pairs`: merge the two
    * sketches, keep the k smallest distinct hashes (= the KMV sketch of
    * A∪B), read θ = the k-th value and ρ = how many of those hashes
    * occur in BOTH input sketches. Then
    * `|A∪B| ≈ (k−1)·M/θ` (hashes are uniform on [0, M)) and
    * `|A∩B| ≈ (ρ/k)·|A∪B|` (the merged sketch is a uniform sample of
    * the union, so ρ/k estimates the Jaccard index). If the merged
    * sketch holds fewer than k hashes the union was small enough to
    * sketch exactly, and both estimates are exact counts (modulo hash
    * collisions, ~1e-9/pair). Estimates use integer division throughout
    * — float-free, so an external oracle matches bit-for-bit. Relative
    * error ~1/√(k−2) in the estimate regime.
    *
    * A key absent from the sketch relation behaves as the empty set.
    * Scale: each pair handles ≤ 2k sketch rows; the pair relation is
    * the only fan-out. Emits (key_a, key_b, union_est, inter_est, rho,
    * msz). */
  def kmvIntersect(sketch: DataFrame, pairs: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"k=$k")
    val km = (k - 1).toLong * M // pre-folded so the SQL literal is a BIGINT
    val sa = pairs.join(sketch.select(col("key").as("key_a"), col("ih")), "key_a")
      .select(col("key_a"), col("key_b"), col("ih"),
        lit(1).as("in_a"), lit(0).as("in_b"))
    val sb = pairs.join(sketch.select(col("key").as("key_b"), col("ih")), "key_b")
      .select(col("key_a"), col("key_b"), col("ih"),
        lit(0).as("in_a"), lit(1).as("in_b"))
    val merged = sa.unionByName(sb)
      .groupBy("key_a", "key_b", "ih")
      .agg(max("in_a").as("in_a"), max("in_b").as("in_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key_a", "key_b").orderBy("ih")
    merged.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .groupBy("key_a", "key_b")
      .agg(count(lit(1)).as("msz"), max("ih").as("theta"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
          .as("rho"))
      .select(col("key_a"), col("key_b"),
        when(col("msz") < k, col("msz"))
          .otherwise(expr(s"$km div theta")).as("union_est"),
        when(col("msz") < k, col("rho"))
          .otherwise(expr(s"rho * ($km div theta) div $k"))
          .as("inter_est"),
        col("rho"), col("msz"))
  }
}
