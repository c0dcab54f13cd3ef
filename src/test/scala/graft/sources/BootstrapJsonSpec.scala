package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** A11: bootstrap JSON op arrays (reference:
  * OpenPlaceReviewsDbBoot.java:86-93, bootstrap/opr-osm.json) read as a
  * multiLine JSON source into the operations frame shape. */
class BootstrapJsonSpec extends AnyFunSuite with SharedSpark {

  override protected def cpus = 2

  test("multiLine json array of ops → typed operations frame") {
    val f = java.nio.file.Files.createTempFile("bootstrap", ".json")
    java.nio.file.Files.writeString(f,
      """[
        |  {"type": "sys.bot", "create": [{"id": ["osm-sync"],
        |    "config": {"threads": 3, "places_per_operation": 250}}]},
        |  {"type": "opr.place", "create": [
        |    {"id": ["9G2250", "abc123"], "placetype": "cafe",
        |     "source": {"osm": [{"id": 101, "type": "node",
        |       "tags": {"amenity": "cafe"}}]}},
        |    {"id": ["9G2251", "def456"], "placetype": "bar",
        |     "source": {"osm": [{"id": 102, "type": "node",
        |       "tags": {"amenity": "bar"}}]}}]}
        |]""".stripMargin)
    val ops = spark.read.option("multiLine", "true").json(f.toString)
    assert(ops.count() == 2)
    val place = ops.where(col("type") === "opr.place")
      .select(explode(col("create")).as("c"))
    assert(place.count() == 2)
    val ids = place.select(col("c.id")(1)).collect().map(_.getString(0)).sorted
    assert(ids.sameElements(Array("abc123", "def456")))
    val osmId = place.where(col("c.placetype") === "cafe")
      .select(col("c.source.osm")(0)("id")).head.getLong(0)
    assert(osmId == 101L)
  }
}
