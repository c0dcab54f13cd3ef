package graft.geo

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.Native

/** Geo primitives used across the engine.
  *
  * Scalar math (haversine, bbox, normalization, mercator tiles) is expressed
  * as `Column` compositions of built-in functions so it stays inside
  * whole-stage codegen; array-local geometry (centroid, point-in-polygon,
  * Douglas-Peucker, area) lives in [[Geometry]] as pure Scala registered as
  * UDFs over `array<struct<lat,lon>>` — those operate on one row's geometry,
  * so a UDF costs nothing in shuffle terms.
  */
object GeoFunctions {

  /** Earth radius used by the reference's simplified haversine, km
    * (reference: OsmMapUtils.java:99-110 — R = 6372.8). */
  val EarthRadiusKm = 6372.8

  /** Great-circle distance in meters, identical formula to the reference
    * (OsmMapUtils.java:99-110). Native codegen expression
    * (graft.functions.HaversineM) — same doubles as the previous
    * builtin-composed Column, but a single compact node that
    * graft.plans.HaversineJoinRule can pattern-match in join conditions.
    * Built directly through [[graft.functions.Native]], like [[olcEncode]]:
    * no session needs the function registered. */
  def haversineM(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    Native("haversine_m", lat1, lon1, lat2, lon2)

  /** Scalar form of [[haversineM]] for row-local kernels (same formula and
    * constant — OsmMapUtils.java:99-110). */
  def haversineMScalar(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.pow(math.sin(dLon / 2), 2) *
        math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2))
    2 * EarthRadiusKm * 1000.0 * math.asin(math.sqrt(a))
  }

  /** 6-char (default) OLC tile id — the engine's partition key
    * (reference: OsmLocationTool.java:26-33). Native codegen expression
    * (graft.functions.OlcEncodeExpr) computing the same floor arithmetic
    * as the DuckDB oracle's SQL formulation — the earlier builtin-composed
    * Column expanded to a multi-KB tree per call site, and predicate
    * pushdown duplicated it into single-task scan filters. */
  def olcEncode(lat: Column, lon: Column, codeLength: Int = 6): Column =
    Native("olc_encode", lat, lon, lit(codeLength))

  /** Cell-center latitude/longitude of a pair-section OLC code (UDF — string
    * decode is row-local). */
  val olcCenterLat = udf((code: String) => Olc.decodeCenter(code)._1)
  val olcCenterLon = udf((code: String) => Olc.decodeCenter(code)._2)

  /** Mercator tile number (reference: OsmMapUtils.java:41-59). */
  def tileX(zoom: Column, lon: Column): Column =
    floor((lon + 180.0) / 360.0 * pow(lit(2.0), zoom))

  def tileY(zoom: Column, lat: Column): Column = {
    val latRad = radians(lat)
    floor((lit(1.0) - log(tan(latRad) + lit(1.0) / cos(latRad)) / math.Pi) / 2.0 * pow(lit(2.0), zoom))
  }

  /** Z-order (Morton) interleave of two non-negative tile coordinates —
    * the write-time clustering key for multi-dimensional scan locality
    * (Morton 1966; the layout step behind Delta/Iceberg OPTIMIZE
    * ZORDER). Files sorted by this key keep spatially-near tiles in the
    * same or adjacent files, so a bbox scan touches O(files in box)
    * instead of O(all files). Pure integer shift/mask expressions —
    * whole-stage codegen, bit-reproducible by an external engine.
    * `bits` must cover the coordinate range (= the zoom level for
    * mercator tiles); higher bits are dropped. */
  def zorderKey(x: Column, y: Column, bits: Int): Column = {
    require(bits > 0 && bits <= 31, "bits must be in [1, 31]")
    (0 until bits).map { b =>
      shiftleft(shiftright(x, b).bitwiseAND(lit(1L)), 2 * b + 1)
        .bitwiseOR(shiftleft(shiftright(y, b).bitwiseAND(lit(1L)), 2 * b))
    }.reduce(_ bitwiseOR _)
  }

  /** Hilbert-curve index of two non-negative tile coordinates — the
    * stronger-locality alternative to [[zorderKey]] (Hilbert 1891; the
    * curve behind Uber H3-adjacent layouts and Delta's OPTIMIZE
    * alternatives): consecutive keys are always EDGE-ADJACENT cells,
    * so a bbox scan over Hilbert-sorted files touches fewer runs than
    * Morton's diagonal jumps. Standard xy→d bit fold (the public
    * rotate-and-accumulate recurrence), expressed as an `aggregate`
    * over the bit sequence with (x, y, d) struct state — row-local
    * integer math, no UDF, bit-reproducible in the DuckDB oracle's
    * unrolled form. `bits` must cover the coordinate range. */
  def hilbertKey(x: Column, y: Column, bits: Int): Column = {
    require(bits > 0 && bits <= 31, "bits must be in [1, 31]")
    val init = struct(x.cast("long").as("x"), y.cast("long").as("y"),
      lit(0L).as("d"))
    aggregate(
      sequence(lit(bits - 1), lit(0), lit(-1)),
      init,
      (acc, k) => {
        val ax = acc.getField("x")
        val ay = acc.getField("y")
        val rx = call_function("shiftright", ax, k).bitwiseAND(lit(1L))
        val ry = call_function("shiftright", ay, k).bitwiseAND(lit(1L))
        val s = call_function("shiftleft", lit(1L), k)
        val dInc = call_function("shiftleft", lit(1L), k * 2) *
          (lit(3L) * rx).bitwiseXOR(ry)
        val flip = rx === 1
        val x1 = when(flip, s - 1 - ax).otherwise(ax)
        val y1 = when(flip, s - 1 - ay).otherwise(ay)
        struct(
          when(ry === 0, y1).otherwise(ax).as("x"),
          when(ry === 0, x1).otherwise(ay).as("y"),
          (acc.getField("d") + dInc).as("d"))
      }).getField("d")
  }

  /** Longitude wrap to (-180, 180] and web-mercator latitude clamp
    * (reference: OsmMapUtils.java:62-93). */
  def checkLon(lon: Column): Column =
    ((lon + 180.0) % 360.0 + 360.0) % 360.0 - 180.0

  def checkLat(lat: Column): Column =
    least(greatest(lat, lit(-85.0511)), lit(85.0511))

  /** bbox containment (reference: QuadRect.java:23-69). */
  def bboxContains(minLat: Column, minLon: Column, maxLat: Column, maxLon: Column,
                   lat: Column, lon: Column): Column =
    lat >= minLat && lat <= maxLat && lon >= minLon && lon <= maxLon
}
