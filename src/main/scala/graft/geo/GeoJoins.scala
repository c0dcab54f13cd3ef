package graft.geo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Native

/** Distance self-join: all point pairs within `radiusM` meters, as a
  * bucketed equi-join (never a cross join).
  *
  * Bucketing is the latitude-adaptive (lat band, lon band) key of
  * [[GeoBands]]: each side keys on a packed long; the probe side explodes
  * to its ≤9-key cover set, the build side keeps its single key. Exact at
  * every latitude (the lon band count degrades to 1 at the poles rather
  * than dropping pairs) and bounded in extent everywhere else — a key's
  * longitude span is O(radius/cos φ), never a fixed 20° strip, so
  * co-latitude dense data (a metro line, gridded rasters) no longer piles
  * into quadratic buckets. Coverage proof: [[GeoBands]] scaladoc.
  *
  * Reference semantics: the 150 m / 100 m proximity groupings of
  * OprHistoryChangesProvider.java:185-209 and MergePlaceBot.java:169-182,
  * generalized to any radius and SF.
  */
object GeoJoins {

  /** Heuristic ceiling used by [[graft.plans.HaversineJoinRule]] and the
    * density-adaptive radius in pl3 — NOT an exactness bound of
    * [[pairsWithin]], which is exact at any radius ≥ [[GeoBands.MinRadiusM]].
    * Joins wider than ~190 km are closer to cross joins; auto-rewriting
    * them buys little selectivity for the 9× probe amplification. */
  val MaxRadiusM = 190000.0

  /** (a_key, b_key, dist_m) for all pairs with dist < radiusM, a_key < b_key.
    * `points` must have (keyCol, latCol, lonCol); keys must be unique. */
  def pairsWithin(points: DataFrame, keyCol: String, latCol: String,
                  lonCol: String, radiusM: Double): DataFrame = {
    require(radiusM >= GeoBands.MinRadiusM,
      s"radius $radiusM below packing bound ${GeoBands.MinRadiusM}")
    val bandDeg = GeoBands.bandDeg(radiusM)
    // repartition BEFORE the per-row key encode so it runs at full
    // parallelism (a single-file parquet scan is 1-2 tasks), and cache the
    // repartitioned (k, lat, lon) so the probe and build legs don't each
    // recompute the input and its shuffle (each leg encodes its own keys)
    val par = points.sparkSession.sparkContext.defaultParallelism
    val pts = points.select(col(keyCol).as("k"), col(latCol).as("lat"),
        col(lonCol).as("lon"))
      .repartition(par)
      .cache()
    val probe = pts.select(col("k").as("a_key"), col("lat").as("a_lat"),
      col("lon").as("a_lon"),
      explode(Native("geo_band_keys",
        col("lat"), col("lon"), lit(radiusM))).as("gk"))
    val build = pts.select(col("k").as("b_key"), col("lat").as("b_lat"),
      col("lon").as("b_lon"),
      Native("geo_band_key",
        col("lat"), col("lon"), lit(radiusM)).as("gk"))
    // probe keys are distinct and the build row has one key, so a pair can
    // match at most once — no post-join dedup needed
    probe.join(build, Seq("gk"))
      .where(col("a_key") < col("b_key") &&
        abs(col("a_lat") - col("b_lat")) <= lit(bandDeg))
      .withColumn("dist_m", GeoFunctions.haversineM(col("a_lat"), col("a_lon"),
        col("b_lat"), col("b_lon")))
      .where(col("dist_m") < radiusM)
      .select("a_key", "b_key", "dist_m")
  }
}
