package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** Urls.canonicalUrl rule-by-rule on hand-built cases, and the dedup
  * flag's first-occurrence-wins contract. */
class UrlsSpec extends AnyFunSuite with SharedSpark {

  private val cases: Seq[(String, String)] = Seq(
    // fragment stripped, scheme+host lowercased, www stripped, :443 dropped
    ("HTTPS://WWW.Example.COM:443/a/b#frag", "https://example.com/a/b"),
    // http default port dropped; explicit non-default kept
    ("http://example.com:80/x", "http://example.com/x"),
    ("http://example.com:8080/x", "http://example.com:8080/x"),
    // https on port 80 is NOT default — kept
    ("https://example.com:80/x", "https://example.com:80/x"),
    // empty path → /; trailing-slash run collapsed
    ("https://example.com", "https://example.com/"),
    ("https://example.com///", "https://example.com/"),
    ("https://example.com/a///", "https://example.com/a"),
    // path case preserved
    ("https://example.com/CaseSensitive", "https://example.com/CaseSensitive"),
    // utm params dropped; real params kept in original order; ? dropped
    // when the query empties
    ("https://example.com/p?utm_source=x&id=7&utm_medium=y",
      "https://example.com/p?id=7"),
    ("https://example.com/p?utm_source=x", "https://example.com/p"),
    ("https://example.com/p?b=2&a=1", "https://example.com/p?b=2&a=1"),
    // query before any path segment
    ("https://example.com?utm_source=x&k=v", "https://example.com/?k=v"),
    // lowercase www also stripped
    ("https://www.example.com/", "https://example.com/"))

  test("canonicalUrl: every normalization rule, case by case") {
    import spark.implicits._
    val got = cases.map(_._1).toDF("url")
      .select(Urls.canonicalUrl(col("url")).as("c"))
      .collect().map(_.getString(0))
    cases.zip(got).foreach { case ((in, want), have) =>
      assert(have == want, s"in=$in")
    }
    // non-absolute and degenerate inputs → null (quarantine, not garbage)
    val bad = Seq("not a url", "mailto:user@example.com", "://x", "https://")
      .toDF("url")
      .select(Urls.canonicalUrl(col("url")).as("c"))
      .collect().map(r => Option(r.getString(0)))
    assert(bad.forall(_.isEmpty), bad.mkString(","))
  }

  test("dedupByCanonical: first id claims the key; host extracted") {
    import spark.implicits._
    val df = Seq(
      (1L, "https://WWW.Example.com/a?utm_source=x"),
      (2L, "https://example.com:443/a/"),  // same canon as 1
      (3L, "https://example.com/b"),
      (4L, "http://example.com:8080/a")    // port differs → distinct
    ).toDF("id", "url")
    val got = Urls.dedupByCanonical(df, "id", "url")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
      .sortBy(_._1)
    assert(got(0) == ((1L, "example.com", "https://example.com/a", 0)))
    assert(got(1) == ((2L, "example.com", "https://example.com/a", 1)))
    assert(got(2) == ((3L, "example.com", "https://example.com/b", 0)))
    assert(got(3) == ((4L, "example.com", "http://example.com:8080/a", 0)))
  }
}
