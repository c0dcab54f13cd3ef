package perfbench

import java.io.File
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.PlacesEngine
import graft.geo.{ConnectedComponents, GeoJoins}
import graft.places.MergeReportJob
import graft.places.MergeReportJob.ReportFeature
import graft.text.TextFunctions

/** The dedup/merge bot over one day of history: `clusterHistory(from,
  * to, 150)`, then `MergeReportJob.run` on the day's report features.
  * Every site plants a closed place and its new twin within 100 m, in one
  * match tier each (identical name, case variant, spacing variant, typo,
  * shared wikidata, nameless closed place); half the sites add a decoy
  * with the closed place's name 260-400 m away. A few malls pack 60
  * places within 150 m. */
final class MergeBot extends Workload {
  import MergeBot._

  private var spark: SparkSession = _
  private var engine: PlacesEngine = _
  private var places: DataFrame = _
  private var features: Dataset[ReportFeature] = _
  private var plan: Planted = _

  def generate(s: SparkSession, dir: File, seed: Long): Seq[(String, Double)] = {
    val rng = new Rng(seed)
    // cities on a coarse grid, so no two cities' sites come near each other
    val cities = IndexedSeq.tabulate(Cities)(k =>
      (-40 + (k / 6) * 15 + 5 * rng.double(), -160 + (k % 6) * 55 + 20 * rng.double()))
    val placeRows = mutable.ArrayBuffer.empty[Row]
    val ops = mutable.ArrayBuffer.empty[(Long, Char, Seq[String])]
    val report = mutable.ArrayBuffer.empty[ReportFeature]
    val pairs = mutable.ArrayBuffer.empty[(String, String)]
    val decoys = mutable.ArrayBuffer.empty[(String, String)]
    val mallMembers = mutable.Set.empty[String]
    var n = 0L
    val windowStart = Gen.Epoch + WindowDay * Gen.DayMs

    def place(lat: Double, lon: Double, tags: Map[String, String], closed: Boolean,
              at: Long): String = {
      val tile = Gen.olc(lat, lon, 6)
      val id = Seq(tile, s"m$n")
      val ptype = Gen.PlaceTypes(n.toInt % Gen.PlaceTypes.size)
      placeRows += Row(id, tile, ptype, Seq(Gen.source(n, lat, lon, ptype, tags)), null,
        if (closed) Gen.isoDate(at) + "T00:00:00Z" else null)
      ops += ((at, if (closed) 'd' else 'c', id))
      val oprId = id.mkString(",")
      if (at >= windowStart && at < windowStart + Gen.DayMs)
        report += ReportFeature(report.size.toLong, oprId,
          if (closed) Some(Gen.isoDate(at)) else None, lat, lon, tags)
      n += 1
      oprId
    }
    def inWindow(): Long = windowStart + rng.int(86400) * 1000L

    for (i <- 0 until Sites) {
      val (clat, clon) = cities(i % Cities)
      val j = i / Cities
      val lat = clat + (j / 40) * SiteSpacingDeg
      val lon = clon + (j % 40) * SiteSpacingDeg / math.cos(math.toRadians(lat))
      val w1 = word(rng, short = true)
      val w2 = word(rng, short = true)
      val name = s"$w1 $w2"
      val tier = Tiers(rng.int(Tiers.size))
      val (closedTags, twinTags) = tier match {
        case "same" => (Map("name" -> name), Map("name" -> name))
        case "case" => (Map("name" -> name), Map("name" -> name.toUpperCase))
        case "space" => (Map("name" -> name), Map("name" -> (w1 + w2)))
        case "typo" => (Map("name" -> name), Map("name" -> s"${w1.dropRight(1)}x $w2"))
        case "wikidata" =>
          val q = s"Q${1000 + i}"
          (Map("name" -> name, "wikidata" -> q),
            Map("name" -> s"${word(rng, short = false)} ${word(rng, short = false)}", "wikidata" -> q))
        case "nameless" => (Map.empty[String, String], Map("name" -> name))
      }
      val c = place(lat, lon, closedTags, closed = true, inWindow())
      val (tlat, tlon) = Gen.offset(lat, lon, 20 + 70 * rng.double(), 2 * math.Pi * rng.double())
      val t = place(tlat, tlon, twinTags, closed = false, inWindow())
      pairs += ((c, t))
      if (rng.chance(0.5)) {
        val (dlat, dlon) = Gen.offset(lat, lon, 260 + 140 * rng.double(), 2 * math.Pi * rng.double())
        decoys += ((c, place(dlat, dlon, closedTags, closed = false, inWindow())))
      }
    }
    // malls: many places within 150 m, a tenth of them closed
    for (m <- 0 until Malls) {
      val (clat, clon) = cities(m % Cities)
      val lat = clat - 0.05
      mallMembers ++= (0 until MallSize).map { k =>
        val (plat, plon) = Gen.offset(lat, clon, 70 * math.sqrt(rng.double()), 2 * math.Pi * rng.double())
        (k % 10 == 0, plat, plon)
      }.sortBy(!_._1).map { case (closed, plat, plon) =>
        place(plat, plon, Map("name" -> s"${word(rng, short = false)} ${word(rng, short = true)}"),
          closed, inWindow())
      }
    }
    // places whose ops fall outside the day
    for (_ <- 0 until Background) {
      val (clat, clon) = cities(rng.int(Cities))
      place(clat + 0.3 * rng.gaussian(), clon + 0.3 * rng.gaussian(),
        Map("name" -> word(rng, short = false)), rng.chance(0.1),
        Gen.Epoch + rng.int(WindowDay) * Gen.DayMs + rng.int(86400) * 1000L)
    }

    Gen.write(s, placeRows.toSeq, Gen.placesSchema, new File(dir, "places"))
    val opRows = ops.sortBy(_._1).zipWithIndex.map { case ((at, kind, id), k) =>
      Gen.opRow(k / 16, k % 16, at, kind, id)
    }
    Gen.write(s, opRows.toSeq, Gen.opsSchema, new File(dir, "operations"))
    import s.implicits._
    report.toSeq.toDF().write.parquet(new File(dir, "report").getPath)
    plan = Planted(pairs.toSeq, decoys.toSeq, mallMembers.toSet, report.size)
    Seq(
      "places" -> placeRows.size.toDouble,
      "report_features" -> report.size.toDouble,
      "sites" -> Sites.toDouble,
      "decoys" -> decoys.size.toDouble,
      "malls" -> Malls.toDouble,
      "places_per_150m_cluster_mean" -> report.size.toDouble / (Sites + decoys.size + Malls),
      "places_per_150m_cluster_max" -> MallSize.toDouble)
  }

  /** A word of three syllables, short (two letters each) or long (three
    * letters each): a short and a long word never match as names. */
  private def word(rng: Rng, short: Boolean): String =
    Seq.fill(3)(rng.pick(if (short) ShortSyllables else LongSyllables)).mkString.capitalize

  def open(s: SparkSession, dir: File, work: File): Unit = {
    spark = s
    import s.implicits._
    places = s.read.parquet(new File(dir, "places").getPath)
    engine = new PlacesEngine(places, s.read.parquet(new File(dir, "operations").getPath))
    features = s.read.parquet(new File(dir, "report").getPath).as[ReportFeature]
    Warm.up(run(_, new Tracer(false)))
  }

  private def from = Gen.isoDate(Gen.Epoch + WindowDay * Gen.DayMs)
  private def to = Gen.isoDate(Gen.Epoch + (WindowDay + 1) * Gen.DayMs)

  /** One bot run: cluster the day's history, then merge its report. */
  private def run(ph: Phase, tr: Tracer): Unit =
    ph.timed("merge bot run") {
      val clusters = tr.span("api", "api.clusterHistory", ph.attempted) {
        val df = tr.span("api", "api.build")(engine.clusterHistory(from, to, RadiusM))
        tr.span("spark", "spark.exec")(df.collect())
      }
      val groups = tr.span("places", "places.merge") {
        val ds = MergeReportJob.run(features)
        tr.span("spark", "spark.exec")(ds.collect())
      }
      (clusters, groups)
    } { case (clusters, groups) =>
      val cluster = clusters.map(r => r.getString(0) -> r.getString(1)).toMap
      Check(cluster.size == plan.reportSize, s"clusterHistory: ${cluster.size} features, planted ${plan.reportSize}")
      plan.pairs.foreach { case (c, t) =>
        Check(cluster(c) == cluster(t), s"planted pair $c / $t split across clusters")
      }
      plan.decoys.foreach { case (c, d) =>
        Check(cluster(c) != cluster(d), s"decoy $d clustered with $c")
      }
      val merged = groups.flatMap(_.mergedPairs).toSet
      val outsideMalls = merged.filterNot { case (c, _) => plan.mallMembers(c) }
      Check(outsideMalls == plan.pairs.toSet,
        s"merged ${outsideMalls.size} pairs outside malls, planted ${plan.pairs.size}; " +
          s"missing ${(plan.pairs.toSet diff outsideMalls).take(3)} extra ${(outsideMalls diff plan.pairs.toSet).take(3)}")
      val decoyIds = plan.decoys.map(_._2).toSet
      Check(!merged.exists { case (a, b) => decoyIds(a) || decoyIds(b) }, "a decoy was merged")
      plan.reportSize.toDouble
    }

  def measure(seconds: Double, tr: Tracer, ls: Option[Listeners]): Phase = {
    val ph = new Phase
    val t0 = System.nanoTime()
    do run(ph, tr) while (System.nanoTime() - t0 < seconds * 1e9)
    ph.elapsedS = (System.nanoTime() - t0) / 1e9
    ls.foreach(l => ph.layer ++= layerBreakdown(tr, l))
    ph
  }

  /** The bot's steps called one at a time through their public
    * functions, each timed and counted. */
  private def layerBreakdown(tr: Tracer, l: Listeners): Seq[(String, Double)] = {
    val (_, historyMs) = tr.timed("api", "api.history")(engine.history(from, to).count())
    val points = engine.history(from, to)
      .join(places.select(col("id"), col("source_osm")(0)("lat").as("lat"),
        col("source_osm")(0)("lon").as("lon")), "id")
      .select(xxhash64(concat_ws(",", col("id"))).as("node"), col("lat"), col("lon"))
      .cache()
    val nPoints = points.count()
    val pairs = GeoJoins.pairsWithin(points, "node", "lat", "lon", RadiusM)
      .select(col("a_key").as("a"), col("b_key").as("b"))
    val (nPairs, pairsMs) = tr.timed("geo", "geo.pairs")(pairs.count())
    l.drain()
    val probeRows = l.queries.all.last.sum("Generate", "numOutputRows")
    val (_, ccMs) = tr.timed("geo", "geo.cc")(ConnectedComponents.label(spark, pairs).count())
    points.unpersist()
    val (groups, mergeMs) = tr.timed("places", "places.merge")(MergeReportJob.run(features).collect())
    val maxGroup = MergeReportJob.withGroupIds(features).groupBy("group_id").count()
      .agg(max("count")).head().getLong(0)
    val tagPairs = {
      val byId = features.collect().map(f => f.oprId -> f.tags).toMap
      plan.pairs.map { case (c, t) => (byId(c), byId(t)) }
    }
    tagPairs.foreach { case (a, b) => TextFunctions.matchTier(a, b) }
    val (_, matchMs) = tr.timed("text", "text.matchTier") {
      var k = 0
      while (k < MatchRounds) { tagPairs.foreach { case (a, b) => TextFunctions.matchTier(a, b) }; k += 1 }
    }
    val closed = groups.map(_.closedPlaces).sum
    Seq(
      "api.history_ms" -> historyMs,
      "geo.pairs_ms" -> pairsMs,
      "geo.pairs_per_point" -> nPairs.toDouble / nPoints,
      "geo.probe_rows_per_point" -> probeRows.toDouble / nPoints,
      "geo.cc_ms" -> ccMs,
      "places.merge_ms" -> mergeMs,
      "places.merge_ratio" -> groups.map(_.merged).sum.toDouble / math.max(1, closed),
      "places.max_group_size" -> maxGroup.toDouble,
      "text.match_ns_per_pair" -> matchMs * 1e6 / (MatchRounds.toDouble * tagPairs.size))
  }
}

object MergeBot {
  val Cities = 30
  val Sites = 3000
  val Malls = 4
  val MallSize = 60
  val Background = 5000
  val WindowDay = 10
  val RadiusM = 150.0
  val SiteSpacingDeg = 0.012
  val MatchRounds = 20
  val Tiers: IndexedSeq[String] = IndexedSeq("same", "case", "space", "typo", "wikidata", "nameless")
  val ShortSyllables: IndexedSeq[String] = IndexedSeq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo")
  val LongSyllables: IndexedSeq[String] = IndexedSeq("ber", "dan", "gol", "hin", "mar", "pel", "quo", "zen")

  /** What the generator planted: (closed, twin) pairs that must merge,
    * (closed, decoy) pairs that must not, the malls' members, whose
    * merges depend on report order, and the report's size. */
  final case class Planted(pairs: Seq[(String, String)], decoys: Seq[(String, String)],
                           mallMembers: Set[String], reportSize: Int)
}
