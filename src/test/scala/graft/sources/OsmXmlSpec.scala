package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.OsmXml.{OsmDiff, OsmEntity, OsmMember}
import graft.SharedSpark

/** A1/A2: OSM XML entity + augmented-diff parsing, render roundtrip, and
  * the file-based Dataset source (one task per chunk file). */
class OsmXmlSpec extends AnyFunSuite with SharedSpark {

  override protected def cpus = 2

  private val nodeXml =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<osm version="0.6" generator="Overpass API">
      |<node id="101" lat="48.2" lon="16.37" version="3"
      |      timestamp="2021-06-01T00:00:00Z" changeset="99">
      |  <tag k="amenity" v="cafe"/>
      |  <tag k="name" v="Kaffee &amp; Kuchen"/>
      |  <tag k="" v="must-be-scrubbed"/>
      |</node>
      |<way id="202" version="1">
      |  <nd ref="101"/><nd ref="103"/>
      |  <tag k="highway" v="footway"/>
      |</way>
      |<relation id="303">
      |  <member type="way" ref="202" role="outer"/>
      |  <member type="node" ref="101" role=""/>
      |  <tag k="type" v="multipolygon"/>
      |</relation>
      |</osm>""".stripMargin

  test("A1: node/way/relation parse with tags, nd refs, members") {
    val es = OsmXml.parseEntities(nodeXml)
    assert(es.map(_.etype) == Seq("node", "way", "relation"))
    val node = es.head
    assert(node.id == 101L && node.lat.contains(48.2) && node.lon.contains(16.37))
    assert(node.tags == Map("amenity" -> "cafe", "name" -> "Kaffee & Kuchen"))
    assert(node.version.contains("3") && node.changeset.contains("99"))
    val way = es(1)
    assert(way.ndRefs == Seq(101L, 103L) && way.tags("highway") == "footway")
    val rel = es(2)
    assert(rel.members == Seq(OsmMember("way", 202L, "outer"),
      OsmMember("node", 101L, "")))
  }

  test("A2: augmented diff parse — modify with old/new, delete, create") {
    val diffXml =
      """<osm>
        |<action type="modify">
        |  <old><node id="7" lat="1.0" lon="2.0"><tag k="name" v="A"/></node></old>
        |  <new><node id="7" lat="1.0" lon="2.5"><tag k="name" v="B"/></node></new>
        |</action>
        |<action type="delete">
        |  <old><node id="8" lat="3.0" lon="4.0"/></old>
        |</action>
        |<action type="create">
        |  <new><node id="9" lat="5.0" lon="6.0"/></new>
        |</action>
        |</osm>""".stripMargin
    val ds = OsmXml.parseDiffs(diffXml)
    assert(ds.map(_.action) == Seq("modify", "delete", "create"))
    val m = ds.head
    assert(m.before.get.tags("name") == "A" && m.after.get.tags("name") == "B")
    assert(m.after.get.lon.contains(2.5))
    assert(ds(1).before.get.id == 8L && ds(1).after.isEmpty)
    assert(ds(2).after.get.id == 9L && ds(2).before.isEmpty)
  }

  test("render → parse roundtrip preserves every field incl. XML escapes") {
    val e = OsmEntity("node", 42L, Some(-12.345), Some(67.89),
      Map("name" -> """Bar "<&>" Baz""", "amenity" -> "pub"),
      Nil, Nil, Some("5"), Some("2020-01-01T00:00:00Z"), Some("123"))
    val back = OsmXml.parseEntities("<osm>" + OsmXml.renderEntity(e) + "</osm>")
    assert(back == Seq(e))
    val w = OsmEntity("way", 7L, None, None, Map("x" -> "y"),
      Seq(1L, 2L, 3L), Nil, None, None, None)
    assert(OsmXml.parseEntities("<osm>" + OsmXml.renderEntity(w) + "</osm>") == Seq(w))
  }

  test("property: render → parse roundtrip over generated entities") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val tagStr = Gen.nonEmptyListOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('&', '<', '>', '"', '\'', ' ', 'ß', '東')))
      .map(_.mkString.take(20))
    val entGen: Gen[OsmEntity] = for {
      etype <- Gen.oneOf("node", "way", "relation")
      id <- Gen.choose(1L, Long.MaxValue / 2)
      lat <- Gen.option(Gen.choose(-90.0, 90.0))
      lon <- Gen.option(Gen.choose(-180.0, 180.0))
      tags <- Gen.mapOf(Gen.zip(tagStr, tagStr))
      nds <- Gen.listOf(Gen.choose(1L, 1000000L))
      members <- Gen.listOf(for {
        t <- Gen.oneOf("node", "way", "relation")
        r <- Gen.choose(1L, 1000000L)
        role <- Gen.oneOf("", "outer", "inner", "stop")
      } yield OsmMember(t, r, role))
      ver <- Gen.option(Gen.choose(1, 99).map(_.toString))
    } yield OsmEntity(etype, id, lat, lon, tags, nds, members, ver, None, None)
    (0 until 300).foreach { i =>
      val e = entGen.pureApply(Gen.Parameters.default, Seed(13L + i))
      val back = OsmXml.parseEntities("<osm>" + OsmXml.renderEntity(e) + "</osm>")
      assert(back == Seq(e), s"roundtrip broke for seed $i: $e")
    }
  }

  test("file source: chunk files → Dataset, plus D8 way→node link resolution") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("osmxml").toFile
    // two chunk files, like the reference's overpass_cache directory (A4)
    java.nio.file.Files.writeString(new java.io.File(dir, "c1.osm").toPath,
      """<osm><node id="1" lat="10.0" lon="20.0"/>
        |<node id="2" lat="10.001" lon="20.0"/></osm>""".stripMargin)
    java.nio.file.Files.writeString(new java.io.File(dir, "c2.osm").toPath,
      """<osm><way id="9"><nd ref="1"/><nd ref="2"/></way></osm>""".stripMargin)
    // a gzipped chunk, the reference's overpass_cache file shape (A4) —
    // Spark's text source decompresses by extension, so .osm.gz needs no
    // separate code path
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(new java.io.File(dir, "c3.osm.gz")))
    gz.write("""<osm><node id="3" lat="11.0" lon="21.0"/></osm>""".getBytes("UTF-8"))
    gz.close()
    val ents = OsmXml.entities(spark, dir.getAbsolutePath).cache()
    assert(ents.count() == 4)
    assert(ents.filter($"id" === 3L && $"etype" === "node").count() == 1)
    // D8: resolve way nd refs to node coords with an explode + equi-join
    val nodes = ents.where($"etype" === "node")
      .select($"id".as("ref"), $"lat", $"lon")
    val resolved = ents.where($"etype" === "way")
      .select($"id".as("way_id"), org.apache.spark.sql.functions.explode($"ndRefs").as("ref"))
      .join(nodes, "ref")
    assert(resolved.count() == 2)
    val avgLat = resolved.agg(org.apache.spark.sql.functions.avg($"lat")).head.getDouble(0)
    assert(math.abs(avgLat - 10.0005) < 1e-9)
    ents.unpersist()
  }
}
