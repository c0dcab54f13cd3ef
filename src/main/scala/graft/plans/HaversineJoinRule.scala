package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

import graft.functions.{GeoBandKey, GeoBandKeys, HaversineM}

/** Rewrites naive distance joins into band-bucketed equi-joins.
  *
  * A join whose condition contains the conjunct
  * `haversine_m(aLat, aLon, bLat, bLon) < r` (or `<=`, or the flipped
  * `r > ...`), with one point per side and a positive literal radius,
  * plans as a nested-loop: every left row against every right row. That
  * is the plan shape that works at test SF and is quadratic at 100 TB —
  * exactly the blow-up the reference fought with its hand-rolled quadtree
  * work splitting (OsmSyncBot.java:503-535).
  *
  * This rule turns that join into the shape [[graft.geo.GeoJoins]] builds
  * by hand: the side the stats estimate as smaller is exploded to its
  * ≤9-key [[graft.geo.GeoBands]] cover set (the amplification belongs on
  * the cheaper side), the other side keys on its single packed band key,
  * and the join becomes a hash/sort-merge equi-join on that key with the
  * original haversine predicate kept as the exact post-filter. Coverage —
  * at EVERY latitude including the poles, and across the antimeridian —
  * is proved in the [[graft.geo.GeoBands]] scaladoc: for any pair with
  * d < r the build key is among the probe keys. The probe keys are
  * pairwise distinct and each build row carries exactly one key, so no
  * duplicate output rows appear. Null coordinates produce a null key and
  * drop out of the equi-join — identical to the original condition, where
  * a null haversine comparison is not true.
  *
  * Scope: Inner/Cross joins with deterministic point expressions whose
  * condition has NO equi-join conjunct — the joins that would otherwise
  * plan as nested loops. A join that already has an equality key (a
  * hand-bucketed GeoJoins plan, or `a.country = b.country AND
  * haversine < r`) already hash-partitions; re-exploding it would only
  * add work. The radius must be foldable, ≥
  * [[graft.geo.GeoBands.MinRadiusM]] (key packing bound) and ≤
  * [[graft.geo.GeoJoins.MaxRadiusM]] — the latter a POLICY bound, not an
  * exactness one: a 190 km+ radius join is closer to a cross join, where
  * the 9× explode buys little selectivity. Fires once per join — the
  * synthesized `__graft_geo_*` key in the rewritten condition is itself
  * an equi-conjunct, so the guard also holds across fixed-point optimizer
  * iterations.
  */
object HaversineJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  private val Prefix = "__graft_geo_"

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(_, _, Inner | Cross, Some(cond), _)
        if j.resolved && !splitConjunctivePredicates(cond).exists(isEquiKey(j, _)) =>
      splitConjunctivePredicates(cond).iterator
        .map(matchRadiusConjunct(j, _)).collectFirst { case Some(m) => m }
        .fold(j: LogicalPlan)(rewrite(j, _))
  }

  /** True when `c` is an equality the planner can hash-join on (one side
    * per input). Such a join never nested-loops, so the rewrite would only
    * add explode work — and a rewritten join's own cell/band equalities
    * match here, making the rule a no-op on its own output. */
  private def isEquiKey(j: Join, c: Expression): Boolean = {
    def splits(l: Expression, r: Expression) =
      l.references.nonEmpty && r.references.nonEmpty &&
        ((l.references.subsetOf(j.left.outputSet) && r.references.subsetOf(j.right.outputSet)) ||
         (l.references.subsetOf(j.right.outputSet) && r.references.subsetOf(j.left.outputSet)))
    c match {
      case EqualTo(l, r)       => splits(l, r)
      case EqualNullSafe(l, r) => splits(l, r)
      case _                   => false
    }
  }

  /** (left lat/lon, right lat/lon, radius m) if `e` is a qualifying
    * distance conjunct of join `j`. */
  private case class RadiusMatch(latL: Expression, lonL: Expression,
                                 latR: Expression, lonR: Expression,
                                 radiusM: Double)

  private def matchRadiusConjunct(j: Join, e: Expression): Option[RadiusMatch] = {
    def radius(r: Expression): Option[Double] =
      if (r.foldable && r.dataType == DoubleType)
        Option(r.eval()).map(_.asInstanceOf[Double])
          .filter(d => d >= graft.geo.GeoBands.MinRadiusM &&
            d <= graft.geo.GeoJoins.MaxRadiusM)
      else None
    val hit = e match {
      case LessThan(h: HaversineM, r)           => radius(r).map((h, _))
      case LessThanOrEqual(h: HaversineM, r)    => radius(r).map((h, _))
      case GreaterThan(r, h: HaversineM)        => radius(r).map((h, _))
      case GreaterThanOrEqual(r, h: HaversineM) => radius(r).map((h, _))
      case _                                    => None
    }
    hit.flatMap { case (h, r) =>
      def from(side: LogicalPlan)(x: Expression) =
        x.deterministic && x.references.nonEmpty &&
          x.references.subsetOf(side.outputSet)
      val (fromL, fromR) = (from(j.left) _, from(j.right) _)
      if (fromL(h.first) && fromL(h.second) && fromR(h.third) && fromR(h.fourth))
        Some(RadiusMatch(h.first, h.second, h.third, h.fourth, r))
      else if (fromR(h.first) && fromR(h.second) && fromL(h.third) && fromL(h.fourth))
        Some(RadiusMatch(h.third, h.fourth, h.first, h.second, r))
      else None
    }
  }

  private def rewrite(j: Join, m: RadiusMatch): LogicalPlan = {
    val r = Literal(m.radiusM)
    // Explode the side the stats estimate as SMALLER: the cover-set
    // explode is a ≤9× row amplification, and 9×|small| beats 9×|big| —
    // at cluster scale exploding a 100 TB probe against a 1 GB build would
    // be the wrong plan by five orders of magnitude. Coverage is symmetric
    // (the GeoBands probe set of either row of a qualifying pair contains
    // the other row's build key), so correctness doesn't depend on the
    // choice. Ties (or missing stats, which surface as equal defaults)
    // explode the left, matching the hand-built GeoJoins shape.
    val explodeLeft = j.left.stats.sizeInBytes <= j.right.stats.sizeInBytes
    val (probe, probeLat, probeLon) =
      if (explodeLeft) (j.left, m.latL, m.lonL) else (j.right, m.latR, m.lonR)
    val (build, buildLat, buildLon) =
      if (explodeLeft) (j.right, m.latR, m.lonR) else (j.left, m.latL, m.lonL)

    // probe: project the cover-set array, explode it into the join key
    val keys0 = Alias(GeoBandKeys(Cast(probeLat, DoubleType),
      Cast(probeLon, DoubleType), r), Prefix + "keys")()
    val projP = Project(probe.output :+ keys0, probe)
    val keyGen = Explode(keys0.toAttribute)
    val keyA = attrFor(keyGen, Prefix + "key")
    // keys0 is consumed by the generator; don't carry it further
    val genKeys = Generate(keyGen,
      Seq(projP.output.indexWhere(_.exprId == keys0.exprId)),
      outer = false, None, Seq(keyA), projP)

    // build: single home key per row
    val keyB = Alias(GeoBandKey(Cast(buildLat, DoubleType),
      Cast(buildLon, DoubleType), r), Prefix + "keyR")()
    val projB = Project(build.output :+ keyB, build)

    // equi key in front (ExtractEquiJoinKeys finds it), original
    // condition — including the haversine conjunct — kept verbatim
    val newCond = And(EqualTo(keyA, keyB.toAttribute), j.condition.get)
    val (newL, newR) = if (explodeLeft) (genKeys, projB) else (projB, genKeys)
    Project(j.output, Join(newL, newR, Inner, Some(newCond), j.hint))
  }

  /** Generator-output attribute with the generator's element type and
    * nullability (Generate requires an exact match). */
  private def attrFor(g: Explode, name: String): AttributeReference = {
    val f = g.elementSchema.head
    AttributeReference(name, f.dataType, f.nullable)()
  }

  /** Idempotently add the rule to a session that wasn't built with
    * `spark.sql.extensions=graft.GraftExtensions`. Only the rule needs
    * adding: the `haversine_m`, `geo_band_key` and `geo_band_keys` nodes it
    * matches and builds come from [[graft.functions.Native]], not from the
    * session's function registry. */
  def register(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(HaversineJoinRule)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ HaversineJoinRule
    }
  }
}
