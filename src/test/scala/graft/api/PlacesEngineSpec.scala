package graft.api

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's query surface (§3.1 geo tile, E1 summary, §3.2 history
  * + review) exercised end-to-end over hand-built places/operations
  * frames. */
class PlacesEngineSpec extends AnyFunSuite {

  private def withSpark[T](f: SparkSession => T): T = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("places-engine-spec")
      .getOrCreate()
    try f(spark) finally spark.stop()
  }

  private val srcType = ArrayType(StructType(Seq(
    StructField("id", LongType), StructField("type", StringType),
    StructField("lat", DoubleType), StructField("lon", DoubleType),
    StructField("osm_tag", StringType), StructField("osm_value", StringType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("deleted", StringType))))

  private val placesSchema = StructType(Seq(
    StructField("id", ArrayType(StringType)),
    StructField("tileid", StringType),
    StructField("placetype", StringType),
    StructField("source_osm", srcType),
    StructField("images", MapType(StringType,
      ArrayType(StructType(Seq(StructField("cid", StringType)))))),
    StructField("deleted", StringType)))

  private def src(id: Long, lat: Double, lon: Double, name: String,
                  deleted: String = null) =
    Row(id, "node", lat, lon, "amenity", "cafe",
      if (name == null) Map.empty[String, String] else Map("name" -> name), deleted)

  private def placeRows = Seq(
    // live place, first source tombstoned -> main = second source (B2)
    Row(Seq("9G225000", "aaa111"), "9G2250", "cafe",
      Seq(src(1, 50.0, 8.0, "Old Cafe", "2021-01-01T00:00:00Z"),
        src(2, 50.001, 8.0, "Neues Cafe")),
      Map("review" -> Seq(Row("c1")), "outdoor" -> Seq(Row("c2"), Row("c3"))), null),
    // live place, nameless -> title falls back to prettified placetype
    Row(Seq("9G2250", "bbb222"), "9G2250", "fast_food",
      Seq(src(3, 50.002, 8.001, null)), null, null),
    // tombstoned place in same tile -> excluded from geoTile/summary (B1)
    Row(Seq("9G2250", "ccc333"), "9G2250", "cafe",
      Seq(src(4, 50.003, 8.002, "Gone")), null, "2021-06-01T00:00:00Z"),
    // other tile; main source deleted but place alive -> review candidate (B6)
    Row(Seq("8FWV54", "ddd444"), "8FWV54", "bar",
      Seq(src(5, 48.2, 16.37, "Closed Bar", "2021-06-10T00:00:00Z")), null, null))

  private val opsSchema = StructType(Seq(
    StructField("block_id", LongType), StructField("op_ord", IntegerType),
    StructField("block_date", TimestampType), StructField("op_type", StringType),
    StructField("created", ArrayType(StructType(Seq(
      StructField("id", ArrayType(StringType)), StructField("tileid", StringType))))),
    StructField("edited", ArrayType(StructType(Seq(
      StructField("id", ArrayType(StringType)),
      StructField("change", MapType(StringType, StringType)))))),
    StructField("deleted", ArrayType(ArrayType(StringType)))))

  private def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))

  private def opRows = Seq(
    Row(1L, 0, ts("2021-06-05T00:00:00Z"), "opr.place",
      Seq(Row(Seq("9G2250", "bbb222"), "9G2250")), Seq.empty, Seq.empty),
    Row(2L, 0, ts("2021-06-10T00:00:00Z"), "opr.place",
      Seq.empty,
      Seq(Row(Seq("8FWV54", "ddd444"),
        Map("source.osm[0].deleted" -> "2021-06-10T00:00:00Z")),
        Row(Seq("9G225000", "aaa111"), Map("images" -> "append"))),
      Seq(Seq("9G2250", "ccc333"))),
    // outside the window — must be pruned
    Row(3L, 0, ts("2021-07-01T00:00:00Z"), "opr.place",
      Seq(Row(Seq("XXXX", "zzz"), "XXXX")), Seq.empty, Seq.empty),
    // non-place op type — must be filtered (B3)
    Row(4L, 0, ts("2021-06-06T00:00:00Z"), "sys.bot",
      Seq(Row(Seq("bot"), "bot")), Seq.empty, Seq.empty))

  test("geoTile: tombstone filter, main-source selection, title fallback, image counts") {
    withSpark { spark =>
      val engine = new PlacesEngine(
        spark.createDataFrame(spark.sparkContext.parallelize(placeRows), placesSchema),
        spark.createDataFrame(spark.sparkContext.parallelize(opRows), opsSchema))
      val rows = engine.geoTile("9G2250xx") // trimmed to 6 chars
        .orderBy("opr_id").collect()
      assert(rows.length == 2) // tombstoned place excluded
      val first = rows.find(_.getString(0) == "9G225000,aaa111").get
      assert(first.getString(2) == "Neues Cafe")  // B2 skipped deleted source
      assert(first.getDouble(3) == 50.001)
      assert(first.getInt(5) == 1 && first.getInt(6) == 3) // deleted srcs, images
      val second = rows.find(_.getString(0) == "9G2250,bbb222").get
      assert(second.getString(2) == "Fast Food") // B11 fallback
      val json = engine.geoTileJson("9G2250").head.getString(0)
      assert(json.startsWith("""{"type":"FeatureCollection"""") &&
        json.contains(""""title":"Neues Cafe""""))
    }
  }

  test("summary: live places per 4-char prefix with cell centers") {
    withSpark { spark =>
      val engine = new PlacesEngine(
        spark.createDataFrame(spark.sparkContext.parallelize(placeRows), placesSchema),
        spark.createDataFrame(spark.sparkContext.parallelize(opRows), opsSchema))
      val s = engine.summary().orderBy("tile4").collect()
      assert(s.map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("8FWV", 1L), ("9G22", 2L)))
      val (clat, clon) = graft.geo.Olc.decodeCenter("9G22")
      val row9 = s.find(_.getString(0) == "9G22").get
      assert(math.abs(row9.getDouble(2) - clat) < 1e-9 &&
        math.abs(row9.getDouble(3) - clon) < 1e-9)
    }
  }

  // in-window ops that exercise the history reshape: one op holding all
  // three kinds, one whose `created` is null (not empty) while `edited` is
  // set, one whose `edited` and `deleted` are null
  private def historyOpRows = opRows ++ Seq(
    Row(5L, 1, ts("2021-06-15T00:00:00Z"), "opr.place",
      Seq(Row(Seq("9G2260", "eee555"), "9G2260")),
      Seq(Row(Seq("9G2260", "fff666"), Map("name" -> "Mill", "addr" -> "Main St 1"))),
      Seq(Seq("9G2260", "ggg777"))),
    Row(6L, 0, ts("2021-06-16T00:00:00Z"), "opr.place",
      null,
      Seq(Row(Seq("9G2260", "eee555"), Map("source.osm[1].deleted" -> "2021-06-16"))),
      Seq.empty),
    Row(6L, 1, ts("2021-06-16T00:00:00Z"), "opr.place",
      Seq(Row(Seq("9G2270", "hhh888"), "9G2270")), null, null))

  test("history: window pruning, op-type filter, created/edited/removed classification") {
    withSpark { spark =>
      val engine = new PlacesEngine(
        spark.createDataFrame(spark.sparkContext.parallelize(placeRows), placesSchema),
        spark.createDataFrame(spark.sparkContext.parallelize(historyOpRows), opsSchema))
      val hist = engine.history("2021-06-01", "2021-07-01")
      assert(hist.columns.toSeq == Seq("block_date", "block_id", "op_ord", "id", "tileid",
        "status", "change_keys"))
      val h = hist.select("block_id", "op_ord", "id", "tileid", "status", "change_keys")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[String](2).mkString(","),
          r.getString(3), r.getString(4), Option(r.getString(5))))
      assert(h.sortBy(_.toString).toSeq == Seq(
        (1L, 0, "9G2250,bbb222", "9G2250", "CREATED", None),
        (2L, 0, "8FWV54,ddd444", "8FWV54", "REMOVED", Some("source.osm[0].deleted")),
        (2L, 0, "9G225000,aaa111", "9G225000", "EDITED", Some("images")),
        (2L, 0, "9G2250,ccc333", "9G2250", "DELETED", None),
        (5L, 1, "9G2260,eee555", "9G2260", "CREATED", None),
        (5L, 1, "9G2260,fff666", "9G2260", "EDITED", Some("addr,name")),
        (5L, 1, "9G2260,ggg777", "9G2260", "DELETED", None),
        (6L, 0, "9G2260,eee555", "9G2260", "REMOVED", Some("source.osm[1].deleted")),
        (6L, 1, "9G2270,hhh888", "9G2270", "CREATED", None)).sortBy(_.toString))
      // review surface: REMOVED place whose current main source is deleted,
      // minus already-reviewed ids
      val none = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("id", ArrayType(StringType)))))
      val review = engine.reviewClosedPlaces("2021-06-01", "2021-07-01", none)
      assert(review.select("tileid").collect().map(_.getString(0)).toSeq == Seq("8FWV54"))
      val reviewed = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(Seq("8FWV54", "ddd444")))),
        StructType(Seq(StructField("id", ArrayType(StringType)))))
      assert(engine.reviewClosedPlaces("2021-06-01", "2021-07-01", reviewed).count() == 0)
    }
  }

  test("history: one scan of operations, one generator, no union") {
    withSpark { spark =>
      val engine = new PlacesEngine(
        spark.createDataFrame(spark.sparkContext.parallelize(placeRows), placesSchema),
        spark.createDataFrame(spark.sparkContext.parallelize(historyOpRows), opsSchema))
      val plan = engine.history("2021-06-01", "2021-07-01").queryExecution.optimizedPlan
      val nodes = plan.collect { case n => n.nodeName }
      assert(nodes.count(_ == "Generate") == 1, plan.treeString)
      assert(!nodes.contains("Union"), plan.treeString)
      assert(plan.collectLeaves().size == 1, plan.treeString)
    }
  }

  test("snapshotAt: op-log replay reconstructs per-entity state at a timestamp") {
    withSpark { spark =>
      val engine = new PlacesEngine(
        spark.createDataFrame(spark.sparkContext.parallelize(placeRows), placesSchema),
        spark.createDataFrame(spark.sparkContext.parallelize(opRows), opsSchema))
      // mid-June: only block 1 (bbb222 created) has happened
      val early = engine.snapshotAt("2021-06-07")
        .collect().map(r => (r.getSeq[String](0).mkString(","), r.getString(2))).toMap
      assert(early == Map("9G2250,bbb222" -> "ACTIVE"))
      // after block 2: ccc333 deleted, ddd444 source-tombstoned (REMOVED),
      // aaa111 edited (ACTIVE), bbb222 untouched since creation
      val late = engine.snapshotAt("2021-06-30")
        .collect().map(r => (r.getSeq[String](0).mkString(","),
          (r.getString(2), r.getLong(5)))).toMap
      assert(late == Map(
        "9G2250,bbb222" -> ("ACTIVE", 1L),
        "9G225000,aaa111" -> ("ACTIVE", 1L),
        "9G2250,ccc333" -> ("DELETED", 1L),
        "8FWV54,ddd444" -> ("REMOVED", 1L)))
    }
  }

  test("snapshotAt: tileid is the latest op's, whatever the row order") {
    withSpark { spark =>
      // the CREATED row carries created.tileid (9G2250), the later edit the
      // id's first element (9G225000)
      val ops = Seq(
        Row(1L, 0, ts("2021-06-05T00:00:00Z"), "opr.place",
          Seq(Row(Seq("9G225000", "aaa111"), "9G2250")), Seq.empty, Seq.empty),
        Row(2L, 0, ts("2021-06-10T00:00:00Z"), "opr.place",
          Seq.empty, Seq(Row(Seq("9G225000", "aaa111"), Map("images" -> "append"))),
          Seq.empty))
      Seq(ops, ops.reverse).foreach { rows =>
        val engine = new PlacesEngine(
          spark.createDataFrame(spark.sparkContext.parallelize(placeRows), placesSchema),
          spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), opsSchema))
        def tileAt(asOf: String) = engine.snapshotAt(asOf)
          .select("tileid", "status", "n_ops").collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
        assert(tileAt("2021-06-07") == Seq(("9G2250", "ACTIVE", 1L)))
        assert(tileAt("2021-06-30") == Seq(("9G225000", "ACTIVE", 2L)))
      }
    }
  }

  test("clusterHistory: 150 m chain collapses to one cluster, far place stays singleton") {
    withSpark { spark =>
      val engine = new PlacesEngine(
        spark.createDataFrame(spark.sparkContext.parallelize(placeRows), placesSchema),
        spark.createDataFrame(spark.sparkContext.parallelize(opRows), opsSchema))
      val out = engine.clusterHistory("2021-06-01", "2021-07-01", radiusM = 150.0)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      // aaa111(50.001,8.0) ~132m~ bbb222(50.002,8.001) ~132m~
      // ccc333(50.003,8.002): chained into ONE cluster even though the
      // endpoints are ~260m apart; ddd444 (Vienna) is alone
      val chain = Seq("9G225000,aaa111", "9G2250,bbb222", "9G2250,ccc333")
      assert(out.keySet == (chain :+ "8FWV54,ddd444").toSet)
      assert(chain.map(out).distinct.size == 1, s"chain split: $out")
      assert(chain.contains(out(chain.head)))
      assert(out("8FWV54,ddd444") == "8FWV54,ddd444")
    }
  }
}
