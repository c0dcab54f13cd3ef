package graft.places

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** End-to-end regression on the reference's June-2021 global history report
  * (8.5 MB gzipped GeoJSON, 10,325 features): the reference's merge bot
  * asserts > 2,100 merged places over this input
  * (MergePlaceBotOtherTest.java:89). */
class MergeReportSpec extends AnyFunSuite with SharedSpark {

  private val fixture =
    "/root/reference/openplacereviews-core/src/test/resources/merge/opr_june_2021.json.gz"

  test("June-2021 report merges > 2100 places (reference throughput parity)") {
    val features = MergeReportJob.parseReport(fixture)
    assert(features.size == 10325)
    val results = MergeReportJob.run(spark, features).collect()
    val merged = results.map(_.merged).sum
    val similar = results.map(_.similarPlaces).sum
    val closed = results.map(_.closedPlaces).sum
    info(s"groups=${results.length} closedPlaces=$closed similar=$similar merged=$merged")
    assert(merged > 2100, s"reference contract: >2100 merges, got $merged")
  }
}
