package graft.places

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

import graft.places.MergeReportJob.{GroupResult, ReportFeature}

/** `MergeReportJob.run` against a driver-side replay of the reference's
  * report loop (MergePlaceBot.java:144-209) on a small planted report that
  * needs no reference checkout: twins in every match tier, far decoys, one
  * mall, ambiguous and empty groups, and a deleted feature at the very last
  * position. The report is 48 features in 10 groups whose starts fall on
  * the edges of its 3- and 8-way input partitions. */
class MergeReportJobSpec extends AnyFunSuite {

  /** One planted place: its report id, whether it is closed, its offset in
    * meters north and east of its group's base point, and its tags. */
  private case class P(name: String, closed: Boolean, northM: Double, eastM: Double,
                       tags: Map[String, String])

  private def closed(name: String, n: Double, e: Double, tags: (String, String)*) =
    P(name, closed = true, n, e, tags.toMap)
  private def active(name: String, n: Double, e: Double, tags: (String, String)*) =
    P(name, closed = false, n, e, tags.toMap)

  // each group lists its closed places first, as the reference's
  // preprocessed report does
  private val groups: Seq[Seq[P]] = Seq(
    // NAME_MATCH by case and by spacing, two closed places; a same-name
    // decoy 300 m away
    Seq(closed("roma", 0, 0, "name" -> "Cafe Roma"),
      closed("door", 0, 500, "name" -> "Blue Door"),
      active("roma-twin", 30, 0, "name" -> "CAFE ROMA"),
      active("door-twin", 50, 500, "name" -> "BlueDoor"),
      active("roma-decoy", 0, -300, "name" -> "Cafe Roma"),
      active("kiosk", -60, 0, "name" -> "Kiosk")),
    // OTHER_TAGS_MATCH: shared wikidata under a new name; decoy with the
    // same wikidata 250 m away
    Seq(closed("pharmacy", 0, 0, "name" -> "Alpha Pharmacy", "wikidata" -> "Q1"),
      active("pharmacy-twin", 40, 0, "name" -> "Zeta Drugs", "wikidata" -> "Q1"),
      active("pharmacy-decoy", -250, 0, "name" -> "Alpha Pharmacy", "wikidata" -> "Q1"),
      active("bakery", 0, 50, "name" -> "Bakery Lux"),
      active("shoes", 0, -70, "name" -> "Shoe Shop"),
      active("bank", -30, 0, "name" -> "Bank Nord")),
    // OTHER_NAME_MATCH: the twin keeps the old name as old_name
    Seq(closed("mill", 0, 0, "name" -> "Old Mill"),
      active("mill-twin", 50, 0, "name" -> "Riverside Bistro", "old_name" -> "Old Mill"),
      active("deli", -40, 0, "name" -> "Corner Deli"),
      active("market", 0, -60, "name" -> "Fresh Market")),
    // EMPTY_NAME_MATCH: one nameless closed place, one candidate
    Seq(closed("nameless", 0, 0), active("nameless-twin", 20, 0, "name" -> "Green Leaf")),
    // a mall: two closed places among four actives within 70 m; both
    // actives named like the first closed place match, the last one wins;
    // with two closed places the EMPTY_NAME tier is off
    Seq(closed("palace", 0, 0, "name" -> "Shoe Palace"),
      closed("mall-nameless", 0, 20),
      active("palace-upper", 30, 0, "name" -> "SHOE PALACE"),
      active("palace-lower", -40, 0, "name" -> "shoe palace"),
      active("tea", 0, 50, "name" -> "Tea Corner"),
      active("gadgets", 0, -60, "name" -> "Gadget Hub")),
    // EMPTY_NAME_MATCH with two near candidates: that tier allows no
    // second match, so nothing merges; far decoys beyond 100 m
    Seq(closed("ambiguous", 0, 0),
      active("cafe-one", 30, 0, "name" -> "Cafe One"),
      active("cafe-two", -60, 0, "name" -> "Cafe Two"),
      active("cafe-three", 300, 0, "name" -> "Cafe Three"),
      active("bar-four", 0, 150, "name" -> "Bar Four"),
      active("bar-five", 0, -200, "name" -> "Bar Five")),
    // no active place within 100 m
    Seq(closed("inn", 0, 0, "name" -> "Lonely Inn"),
      active("inn-decoy", 400, 0, "name" -> "Lonely Inn")),
    // NAME_MATCH by a typo within the Levenshtein budget
    Seq(closed("kalomi", 0, 0, "name" -> "Kalomi Neru"),
      active("kalomi-twin", 60, 0, "name" -> "Kalox Neru"),
      active("grill", -30, 0, "name" -> "Sunset Grill"),
      active("bikes", 0, 80, "name" -> "Bike Repair")),
    // two closed places with one twin between them: the first takes it
    Seq(closed("pizza-a", 0, 0, "name" -> "Pizza Uno"),
      closed("pizza-b", 0, 30, "name" -> "Pizza Uno"),
      active("pizza-twin", 20, 0, "name" -> "Pizza Uno"),
      active("pasta", -50, 0, "name" -> "Pasta Due"),
      active("far-one", 400, 0, "name" -> "Far One"),
      active("far-two", 0, 500, "name" -> "Far Two")),
    // the last feature is deleted after an active one: at the last
    // position that starts no group, so "moon" joins this group
    Seq(closed("star", 0, 0, "name" -> "Star Bar"),
      active("star-twin", 10, 0, "name" -> "STAR BAR"),
      active("moon-twin", 40, 1000, "name" -> "Moon Bar"),
      active("lives", -50, 0, "name" -> "Nine Lives"),
      active("ocean", 0, -60, "name" -> "Ocean View"),
      closed("moon", 0, 1000, "name" -> "Moon Bar")))

  private val planted = Set(
    "roma" -> "roma-twin", "door" -> "door-twin", "pharmacy" -> "pharmacy-twin",
    "mill" -> "mill-twin", "nameless" -> "nameless-twin", "palace" -> "palace-lower",
    "kalomi" -> "kalomi-twin", "pizza-a" -> "pizza-twin", "star" -> "star-twin",
    "moon" -> "moon-twin")

  private val features: Seq[ReportFeature] = groups.zipWithIndex.flatMap { case (g, k) =>
    val (lat0, lon0) = (48.0, 11.0 + 0.1 * k)
    g.map { p =>
      val lat = lat0 + p.northM / 111320.0
      val lon = lon0 + p.eastM / (111320.0 * math.cos(math.toRadians(lat0)))
      (p.name, if (p.closed) Some("2021-06-10") else None, lat, lon, p.tags)
    }
  }.zipWithIndex.map { case ((id, del, lat, lon, tags), i) =>
    ReportFeature(i.toLong, id, del, lat, lon, tags)
  }

  /** Starts of the planted groups, by report position. */
  private val groupStarts: Set[Long] =
    groups.map(_.size).scanLeft(0)(_ + _).init.map(_.toLong).toSet

  /** The reference loop on the driver: a group starts where a deleted
    * feature follows a non-deleted one, except at the last position; each
    * group's closed and active places, in report order, go to the kernel. */
  private def replay(fs: Seq[ReportFeature]): Seq[GroupResult] = {
    val sorted = fs.sortBy(_.ord)
    val last = sorted.last.ord
    var gid = 0L
    var prevDel = false
    val withIds = sorted.map { f =>
      val del = f.deleted.isDefined
      if (del && !prevDel && f.ord != last) gid += 1
      prevDel = del
      gid -> f
    }
    withIds.groupBy(_._1).toSeq.sortBy(_._1).map { case (g, members) =>
      val (c, a) = members.map(_._2).partition(_.deleted.isDefined)
      val (similar, merged, pairs) = MergeReportJob.processGroup(c, a)
      GroupResult(g, c.size, similar, merged, pairs)
    }
  }

  test("planted report: run on 1, 3 and 8 partitions equals the driver-side replay") {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "3")
      .config("spark.ui.enabled", "false")
      .appName("merge-report-job-spec")
      .getOrCreate()
    import spark.implicits._
    try {
      assert(features.size == 48 && groupStarts.size == groups.size)
      val expected = replay(features)
      assert(expected.size == groups.size)
      assert(expected.map(_.closedPlaces).sum == features.count(_.deleted.isDefined))
      assert(expected.flatMap(_.mergedPairs).toSet == planted)
      assert(expected.map(_.similarPlaces) == Seq(2, 1, 1, 1, 2, 1, 0, 1, 2, 2))
      Seq(1, 3, 8).foreach { n =>
        val rdd = spark.sparkContext.parallelize(features, n)
        // every partition edge is a group start
        val firsts = rdd.mapPartitions(it => it.take(1).map(_.ord)).collect().toSet
        assert(firsts.size == n && firsts.subsetOf(groupStarts), s"$n partitions: $firsts")
        val got = MergeReportJob.run(spark.createDataset(rdd)).collect().sortBy(_.groupId).toSeq
        assert(got == expected, s"$n partitions")
      }
    } finally spark.stop()
  }
}
