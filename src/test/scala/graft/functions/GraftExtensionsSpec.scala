package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** The extension injector must make every native function available to a
  * session that never calls a Scala register helper — the deployment path
  * (`--conf spark.sql.extensions=graft.GraftExtensions`). */
class GraftExtensionsSpec extends AnyFunSuite with SharedSpark {

  override protected def cpus = 2
  override protected def sparkConf = Seq("spark.sql.extensions" -> "graft.GraftExtensions")

  test("spark.sql.extensions=graft.GraftExtensions exposes all native functions") {
    val row = spark.sql(
      """SELECT olc_encode(52.52, 13.405, 6) AS tile,
        |       cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS cs,
        |       sorted_intersect_size(array(1L, 2L, 5L), array(2L, 5L, 9L)) AS isz,
        |       haversine_m(52.52, 13.405, 52.52, 13.405) AS hv,
        |       ngram_hashes(array('a', 'b', 'c'), 2) AS nh,
        |       geo_band_key(52.52, 13.405, 150.0) AS gbk,
        |       geo_band_keys(52.52, 13.405, 150.0) AS gbks,
        |       passjoin_index_keys('market') AS pik,
        |       passjoin_probe_keys('market') AS ppk,
        |       minhash_band_keys(array('a', 'b', 'c'), 2, 8, 2) AS mbk,
        |       poly31_hash('market') AS ph,
        |       nfc_normalize(decode(unhex('43616665CC81'), 'UTF-8')) AS nfc,
        |       rolling_anchors('market', 2, 1) AS ra,
        |       bottom_k_distinct(7L, 2) AS bk
        |""".stripMargin).head()
    assert(row.getString(0) == graft.geo.Olc.encode(52.52, 13.405, 6))
    assert(math.abs(row.getDouble(1) - 1.0) < 1e-9)
    assert(row.getInt(2) == 2)
    assert(row.getDouble(3) == 0.0)
    assert(row.getSeq[Long](4).nonEmpty)
    assert(row.getLong(5) == graft.geo.GeoBands.buildKey(52.52, 13.405, 150.0))
    assert(row.getSeq[Long](6).toArray.sameElements(
      graft.geo.GeoBands.probeKeys(52.52, 13.405, 150.0)))
    assert(row.getSeq[String](7) == PassJoinKeys.indexKeys("market"))
    assert(row.getSeq[String](8).sorted == PassJoinKeys.probeKeys("market").sorted)
    assert(row.getSeq[Long](9) == graft.pipeline.PortableHash.bandKeys(
      graft.pipeline.PortableHash.minhashSignature(Seq("a b", "b c"), 8).toSeq, 2))
    assert(row.getLong(10) == graft.pipeline.PortableHash.poly31Cp("market"))
    assert(row.getString(11) == "Caf\u00e9")
    assert(row.getSeq[Int](12) == (0 until 5))
    assert(row.getSeq[Long](13) == Seq(7L))
    // every row of the function table is injected
    assert(Native.table.map(_.name).filterNot(n => spark.catalog.functionExists(n)) === Nil)
  }
}
