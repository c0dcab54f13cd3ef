package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp
import graft.SharedSpark

class DedupStreamSpec extends AnyFunSuite with SharedSpark {

  override protected def cpus = 2

  private def ts(minute: Int) = new Timestamp(1700000000000L + minute * 60000L)

  test("streaming exact dedup matches batch first-arrival dedup across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // duplicates within a batch, across batches, and unique docs; fed
    // in event-time order (the parity contract)
    val all = Seq(
      DedupStream.Doc(1, ts(0), "alpha content"),
      DedupStream.Doc(2, ts(1), "beta content"),
      DedupStream.Doc(3, ts(2), "alpha content"),  // within-batch dup of 1
      DedupStream.Doc(4, ts(10), "gamma content"),
      DedupStream.Doc(5, ts(11), "alpha content"), // cross-batch dup of 1
      DedupStream.Doc(6, ts(12), "beta content"),  // cross-batch dup of 2
      DedupStream.Doc(7, ts(20), "delta content"),
      DedupStream.Doc(8, ts(21), "gamma content")) // cross-batch dup of 4
    val mem = MemoryStream[DedupStream.Doc]
    val q = DedupStream.exactDedupStream(mem.toDS(), "5 minutes")
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      all.grouped(3).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val got = spark.table("dedup").collect()
        .map(r => r.getLong(0) ->
          (r.getBoolean(3), Option(r.get(4)).map(_.asInstanceOf[Long]))).toMap
      // batch reference: first (ts, doc_id) arrival per content is
      // canonical, everyone else points at it
      val want = all.groupBy(_.text).values.flatMap { g =>
        val sortedG = g.sortBy(d => (d.ts.getTime, d.doc_id))
        val canon = sortedG.head.doc_id
        sortedG.map(d =>
          d.doc_id -> ((d.doc_id != canon,
            if (d.doc_id != canon) Some(canon) else None)))
      }.toMap
      assert(got == want)
      assert(got.values.count(_._1) == 4, "fixture must exercise 4 duplicates")
    } finally q.stop()
  }

  test("streaming NEAR-dup: cross-batch near-duplicates match band owners; finisher resolves chains") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val a1 = "alpha beta gamma delta epsilon zeta eta theta"
    val a2 = "alpha beta gamma delta epsilon zeta eta iota"   // near-dup of a1
    val a3 = "alpha beta gamma delta epsilon zeta eta iota kappa" // near-dup of a2
    val b1 = "one two three four five six seven eight"
    val all = Seq(
      DedupStream.Doc(1, ts(0), a1),
      DedupStream.Doc(2, ts(1), b1),
      DedupStream.Doc(3, ts(10), a2),   // cross-batch near-dup of 1
      DedupStream.Doc(4, ts(20), a3))   // cross-batch near-dup of 3 (and 1)
    val mem = MemoryStream[DedupStream.Doc]
    val q = DedupStream.nearDedupStream(mem.toDS(), n = 2, numHashes = 64,
        bandRows = 4, watermark = "5 minutes")
      .writeStream.format("memory").queryName("neardup")
      .outputMode(OutputMode.Append()).start()
    try {
      all.grouped(2).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val cands = spark.table("neardup")

      // batch reference: fold the SAME owner rule over the log in
      // (ts, doc_id) order — cross-batch matches hit earlier state
      val owners = scala.collection.mutable.Map[Long, (Long, Array[Long])]()
      val want = scala.collection.mutable.Set[(Long, Long, Long, Double)]()
      all.sortBy(d => (d.ts.getTime, d.doc_id)).foreach { d =>
        val sig = graft.functions.MinhashBandKeys.sigOf(
          d.text.split(" ").filter(_.nonEmpty), 2, 64)
        graft.functions.MinhashBandKeys.bandsOf(sig, 4).foreach { bk =>
          owners.get(bk) match {
            case Some((oid, osig)) =>
              val eq = sig.zip(osig).count(p => p._1 == p._2)
              want += ((d.doc_id, bk, oid, eq.toDouble / 64))
            case None => owners(bk) = (d.doc_id, sig)
          }
        }
      }
      val got = cands.collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .toSet
      assert(got == want.toSet, s"stream/batch candidate mismatch")
      assert(got.exists(c => c._1 == 3 && c._3 == 1),
        "doc 3 must match doc 1's bands across batches")
      assert(got.exists(c => c._1 == 4 && c._3 == 3),
        "doc 4 must match a band doc 3 owns")
      assert(!got.exists(c => c._1 == 2), "unrelated doc must match nothing")

      // finisher: edges at minSim → connected components → keep-list;
      // the whole a-family resolves to canonical 1 transitively
      val verdicts = DedupStream.resolveNearVerdicts(
          all.map(_.doc_id).toDF("doc_id"), cands.toDF(), minSim = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSet
      assert(verdicts == Set((1L, 1L, true), (2L, 2L, true),
        (3L, 1L, false), (4L, 1L, false)))
    } finally q.stop()
  }

  test("near-dup default TTL evicts: a near-dup after 24h idle matches nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val day = 24 * 60
    val a1 = "alpha beta gamma delta epsilon zeta eta theta"
    val a2 = "alpha beta gamma delta epsilon zeta eta iota"
    val mem = MemoryStream[DedupStream.Doc]
    val q = DedupStream.nearDedupStream(mem.toDS(), n = 2, numHashes = 64,
        bandRows = 4, watermark = "5 minutes")
      .writeStream.format("memory").queryName("neardup_ttl")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(DedupStream.Doc(1, ts(0), a1))
      q.processAllAvailable()
      // push the watermark past doc 1's band timeouts, then fire them
      mem.addData(DedupStream.Doc(2, ts(day + 60), "one two three four"))
      q.processAllAvailable()
      mem.addData(DedupStream.Doc(3, ts(day + 61), "five six seven eight"))
      q.processAllAvailable()
      // a near-dup of the EVICTED doc 1: its bands were re-owned empty,
      // so no candidate rows emit — doc 4 becomes a fresh owner
      mem.addData(DedupStream.Doc(4, ts(day + 70), a2))
      q.processAllAvailable()
      // a near-dup inside the live window still matches doc 4's bands
      mem.addData(DedupStream.Doc(5, ts(day + 80), a1))
      q.processAllAvailable()
      val got = spark.table("neardup_ttl").collect()
        .map(r => (r.getLong(0), r.getLong(3)))
      assert(!got.exists(_._1 == 4L),
        s"doc 4 must match nothing after doc 1's eviction: ${got.toSeq}")
      assert(got.exists(c => c._1 == 5L && c._2 == 4L),
        s"doc 5 must match the live owner 4: ${got.toSeq}")
    } finally q.stop()
  }

  test("near-dup state TTL: evictionless setup requires the explicit opt-in") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[DedupStream.Doc]
    val ex = intercept[IllegalArgumentException] {
      DedupStream.nearDedupStream(mem.toDS(), stateTtlMs = None)
    }
    assert(ex.getMessage.contains("unboundedKeys"))
  }

  test("default TTL evicts: a repeat after 24h idle becomes a new canonical") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val day = 24 * 60
    val mem = MemoryStream[DedupStream.Doc]
    val q = DedupStream.exactDedupStream(mem.toDS(), "5 minutes")
      .writeStream.format("memory").queryName("dedup_ttl")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(DedupStream.Doc(1, ts(0), "recurring content"))
      q.processAllAvailable()
      // push the watermark past 1's timeout, then fire the timeout
      mem.addData(DedupStream.Doc(2, ts(day + 60), "other content"))
      q.processAllAvailable()
      mem.addData(DedupStream.Doc(3, ts(day + 61), "third content"))
      q.processAllAvailable()
      // same content re-arrives after eviction → new canonical, not dup;
      // a live key's dup still resolves to its canonical
      mem.addData(
        DedupStream.Doc(4, ts(day + 70), "recurring content"),
        DedupStream.Doc(5, ts(day + 70), "other content"))
      q.processAllAvailable()
      val got = spark.table("dedup_ttl").collect()
        .map(r => r.getLong(0) ->
          (r.getBoolean(3), Option(r.get(4)).map(_.asInstanceOf[Long]))).toMap
      assert(got(4L) == ((false, None)), s"evicted key must re-canonicalize: $got")
      assert(got(5L) == ((true, Some(2L))))
    } finally q.stop()
  }

  test("evictionless setup requires the explicit opt-in") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[DedupStream.Doc]
    intercept[IllegalArgumentException] {
      DedupStream.exactDedupStream(mem.toDS(), "5 minutes", stateTtlMs = None)
    }
    DedupStream.exactDedupStream(mem.toDS(), "5 minutes",
      stateTtlMs = None, unboundedKeys = true)
  }
}
