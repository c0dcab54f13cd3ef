package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Golden fixture for the jusText-style boilerplate extractor: messy
  * hand-written markup (attributes, nested inline tags, uppercase tags,
  * multi-line anchors, empty segments) must drop exactly the nav bar,
  * the link-farm "related" box, and the footer, keeping the two content
  * paragraphs whitespace-normalized. */
class BoilerplateSpec extends AnyFunSuite with SharedSpark {

  override protected def cpus = 2

  test("nav, link farm, and footer drop; content paragraphs survive normalized") {
    val html =
      """<HTML><head><title>ignored head</title></head><BODY class="page">
        |<NAV id="top"><a href="/">Home</a> <a href="/about">About us</a>
        |<a href="/contact">Contact</a></NAV>
        |<div class="content">
        |<p>The quick   brown fox jumps over the
        |lazy dog while <b>seven</b> wizards watch quietly.</p>
        |<p>A second paragraph with a single inline
        |<a href="/ref">reference link</a> inside a longer sentence keeps
        |its words because density stays low.</p>
        |<div class="related"><a href="/a">More stories here</a>
        |<a href="/b">Trending now today</a> see</div>
        |</div>
        |<footer><a href="/privacy">Privacy</a> <a href="/terms">Terms</a>
        |copyright notice</footer>
        |</BODY></HTML>""".stripMargin
    import spark.implicits._
    val df = Seq((1L, html)).toDF("doc_id", "html")
    val out = Boilerplate.extract(df, "doc_id", "html", minWords = 3)
      .collect()
    assert(out.length == 1)
    val r = out.head
    // blocks: head-title, nav, p1, p2, related, footer = 6 non-empty
    assert(r.getInt(1) == 6, s"n_blocks=${r.getInt(1)}")
    // kept: p1 (14 words, 0 linked) and p2 (20 words, 2 linked:
    // 8 <= 20). Dropped: title (2 words), nav (4 words all linked),
    // related (7 words, 6 linked: 24 > 7), footer (4 words, 2 linked:
    // 8 > 4).
    assert(r.getInt(2) == 2, s"n_kept=${r.getInt(2)}")
    assert(r.getLong(3) == 34L, s"kept_words=${r.getLong(3)}")
    val expectClean =
      "The quick brown fox jumps over the lazy dog while seven wizards " +
        "watch quietly. A second paragraph with a single inline " +
        "reference link inside a longer sentence keeps its words " +
        "because density stays low."
    val expectMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(expectClean.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.getString(4) == expectMd5, "clean text must be the " +
      "whitespace-normalized concatenation of the kept paragraphs")
  }
}
