package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark
import graft.geo.GeoFunctions

/** The distance-join optimizer rule: a naive `haversine_m(...) < r` join
  * must plan as a bucketed equi-join (no nested loop / cartesian) and
  * return exactly the brute-force pair set — including across OLC cell
  * borders, the antimeridian, near-polar latitudes, and null coordinates.
  */
class HaversineJoinRuleSpec extends AnyFunSuite with SharedSpark {

  // end-to-end through the cluster deployment path: the rule and the
  // native functions arrive via SparkSessionExtensions injection
  override protected def sparkConf = Seq("spark.sql.extensions" -> "graft.GraftExtensions")

  /** Deterministic scatter crossing 20° OLC-cell borders (lat/lon 0),
    * plus antimeridian straddlers, near-polar points, and nulls. */
  private def points: Seq[(Long, Option[Double], Option[Double])] = {
    val scatter = (0L until 240L).map { i =>
      (i, Some(-6.0 + (i * 37 % 240) / 8.0),    // lat in [-6, 24)
          Some(-16.0 + (i * 53 % 320) / 8.0))   // lon in [-16, 24)
    }
    val anti = Seq(
      (500L, Some(10.0), Some(179.95)), (501L, Some(10.1), Some(-179.95)),
      (502L, Some(-3.0), Some(179.5)), (503L, Some(-3.2), Some(-179.7)))
    val polar = Seq(
      (600L, Some(84.6), Some(10.0)), (601L, Some(84.7), Some(11.0)),
      (602L, Some(-84.9), Some(-170.0)),
      // beyond the old OLC-ring coverage bound (|lat| > 85): pairs here
      // sit many 20° cells apart in longitude yet well within the radius
      (603L, Some(86.0), Some(-40.0)), (604L, Some(86.1), Some(-12.0)),
      (605L, Some(89.5), Some(-120.0)), (606L, Some(89.5), Some(-70.0)),
      (607L, Some(89.9), Some(100.0)), (608L, Some(-89.8), Some(0.0)),
      (609L, Some(-89.85), Some(179.0)), (610L, Some(90.0), Some(55.0)))
    val nulls = Seq((700L, None: Option[Double], Some(5.0)),
      (701L, Some(5.0), None: Option[Double]))
    scatter ++ anti ++ polar ++ nulls
  }

  private def bruteForce(radiusM: Double): Set[(Long, Long)] = {
    val defined = points.collect { case (k, Some(la), Some(lo)) => (k, la, lo) }
    (for {
      (ka, la, loa) <- defined; (kb, lb, lob) <- defined
      if ka < kb && GeoFunctions.haversineMScalar(la, loa, lb, lob) < radiusM
    } yield (ka, kb)).toSet
  }

  test("naive radius self-join is rewritten to an equi-join and matches brute force") {
    import spark.implicits._
    val pts = points.toDF("k", "lat", "lon")
    val joined = pts.as("a").join(pts.as("b"),
        GeoFunctions.haversineM($"a.lat", $"a.lon", $"b.lat", $"b.lon") < lit(150000.0) &&
          $"a.k" < $"b.k")
      .select($"a.k".as("a_key"), $"b.k".as("b_key"))

    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"rule did not fire; plan:\n$plan")
    assert(plan.contains("Generate explode"), s"no ring explode in plan:\n$plan")

    val got = joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === bruteForce(150000.0))
  }

  test("two-table join and flipped comparison both rewrite; distances survive") {
    import spark.implicits._
    val a = points.collect { case (k, Some(la), Some(lo)) => (k, la, lo) }
      .toDF("ak", "alat", "alon")
    val b = points.collect { case (k, Some(la), Some(lo)) => (k + 10000, la + 0.3, lo - 0.2) }
      .toDF("bk", "blat", "blon")
    val joined = a.join(b,
        lit(120000.0) > GeoFunctions.haversineM($"blat", $"blon", $"alat", $"alon"))
      .select($"ak", $"bk",
        round(GeoFunctions.haversineM($"alat", $"alon", $"blat", $"blon"), 1).as("d"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"rule did not fire; plan:\n$plan")

    val defined = points.collect { case (k, Some(la), Some(lo)) => (k, la, lo) }
    val expect = (for {
      (ka, la, loa) <- defined; (kb, lb, lob) <- defined
      d = GeoFunctions.haversineMScalar(la, loa, lb + 0.3, lob - 0.2)
      if d < 120000.0
    } yield (ka, kb + 10000,
        BigDecimal(d).setScale(1, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    val got = joined.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expect)
  }

  test("the smaller side gets the 27x explode, whichever side it is") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    val big = (0L until 5000L).map(i => (i, (i % 60).toDouble / 4.0, (i % 90).toDouble / 4.0))
      .toDF("bk", "blat", "blon")
    val small = (0L until 20L).map(i => (i, i.toDouble, i.toDouble / 2.0))
      .toDF("sk", "slat", "slon")
    def explodedSideCols(df: org.apache.spark.sql.DataFrame): Set[String] = {
      val gens = df.queryExecution.optimizedPlan.collect { case g: Generate => g }
      assert(gens.nonEmpty, s"rule did not fire:\n${df.queryExecution.optimizedPlan}")
      gens.flatMap(_.child.output.map(_.name)).toSet
    }
    // small on the right → right side explodes
    val j1 = big.join(small,
      GeoFunctions.haversineM($"blat", $"blon", $"slat", $"slon") < lit(50000.0))
    assert(explodedSideCols(j1).contains("sk"))
    assert(!explodedSideCols(j1).contains("bk"))
    // small on the left → still the small side explodes
    val j2 = small.join(big,
      GeoFunctions.haversineM($"blat", $"blon", $"slat", $"slon") < lit(50000.0))
    assert(explodedSideCols(j2).contains("sk"))
    assert(!explodedSideCols(j2).contains("bk"))
    // and both orientations return the same exact pair set
    val got1 = j1.select($"bk", $"sk").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got2 = j2.select($"bk", $"sk").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (for {
      (bk, blat, blon) <- (0L until 5000L).map(i => (i, (i % 60).toDouble / 4.0, (i % 90).toDouble / 4.0))
      (sk, slat, slon) <- (0L until 20L).map(i => (i, i.toDouble, i.toDouble / 2.0))
      if GeoFunctions.haversineMScalar(blat, blon, slat, slon) < 50000.0
    } yield (bk, sk)).toSet
    assert(got1 === expect && got2 === expect)
  }

  test("radius beyond the policy bound is left alone") {
    import spark.implicits._
    val pts = points.toDF("k", "lat", "lon")
    val joined = pts.as("a").join(pts.as("b"),
        GeoFunctions.haversineM($"a.lat", $"a.lon", $"b.lat", $"b.lon") < lit(500000.0) &&
          $"a.k" < $"b.k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoop"),
      s"rule fired past its exactness bound; plan:\n$plan")
  }

  test("a join that already has an equi key is left alone") {
    import spark.implicits._
    val pts = points.collect { case (k, Some(la), Some(lo)) => (k, k % 3, la, lo) }
      .toDF("k", "grp", "lat", "lon")
    val joined = pts.as("a").join(pts.as("b"),
        $"a.grp" === $"b.grp" &&
          GeoFunctions.haversineM($"a.lat", $"a.lon", $"b.lat", $"b.lon") < lit(150000.0) &&
          $"a.k" < $"b.k")
      .select($"a.k".as("a_key"), $"b.k".as("b_key"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate explode"),
      s"rule re-exploded an already hash-joinable plan:\n$plan")
    // and of course the grouped result is still exact
    val defined = points.collect { case (k, Some(la), Some(lo)) => (k, la, lo) }
    val expect = (for {
      (ka, la, loa) <- defined; (kb, lb, lob) <- defined
      if ka < kb && ka % 3 == kb % 3 &&
        GeoFunctions.haversineMScalar(la, loa, lb, lob) < 150000.0
    } yield (ka, kb)).toSet
    assert(joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === expect)
  }

  test("SQL surface: haversine_m in a join condition is rewritten too") {
    import spark.implicits._
    points.toDF("k", "lat", "lon").createOrReplaceTempView("hjr_pts")
    val joined = spark.sql(
      """SELECT a.k AS a_key, b.k AS b_key FROM hjr_pts a JOIN hjr_pts b
        |  ON haversine_m(a.lat, a.lon, b.lat, b.lon) <= 150000.0 AND a.k < b.k
        |""".stripMargin)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"rule did not fire via SQL; plan:\n$plan")
    val got = joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // <= vs <: no synthesized pair sits exactly on the boundary
    assert(got === bruteForce(150000.0))
  }
}
