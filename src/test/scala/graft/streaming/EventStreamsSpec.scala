package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException}
import java.sql.Timestamp

class EventStreamsSpec extends AnyFunSuite {

  private def withSpark[T](f: SparkSession => T): T = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("streams-spec")
      .getOrCreate()
    try f(spark) finally spark.stop()
  }

  private def ts(minute: Int) = new Timestamp(1700000000000L + minute * 60000L)

  test("windowed counts aggregate by event type under a watermark") {
    withSpark { spark =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[EventStreams.Event]
      mem.addData(
        EventStreams.Event(1, ts(0), 1, "click", 1.0),
        EventStreams.Event(2, ts(5), 1, "click", 2.0),
        EventStreams.Event(3, ts(10), 2, "view", 3.0))
      val q = EventStreams.windowedCounts(mem.toDS(), "1 hour", "10 minutes")
        .writeStream.format("memory").queryName("wc")
        .outputMode(OutputMode.Complete()).start()
      try {
        q.processAllAvailable()
        val rows = spark.table("wc").collect()
          .map(r => (r.getString(1), r.getLong(2), r.getDouble(3))).sortBy(_._1)
        assert(rows.toSeq == Seq(("click", 2L, 3.0), ("view", 1L, 3.0)))
      } finally q.stop()
    }
  }

  test("dedup within watermark drops replayed event ids") {
    withSpark { spark =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[EventStreams.Event]
      mem.addData(
        EventStreams.Event(1, ts(0), 1, "click", 1.0),
        EventStreams.Event(1, ts(0), 1, "click", 1.0), // replay
        EventStreams.Event(2, ts(1), 1, "view", 2.0))
      val q = EventStreams.dedupWithinWatermark(mem.toDS(), "10 minutes")
        .writeStream.format("memory").queryName("dd")
        .outputMode(OutputMode.Append()).start()
      try {
        q.processAllAvailable()
        assert(spark.table("dd").count() == 2)
      } finally q.stop()
    }
  }

  test("sessionization closes a session after the gap and emits its aggregate") {
    withSpark { spark =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[EventStreams.Event]
      // session 1: minutes 0 and 10; then a 50-min gap; session 2 at minute 60
      mem.addData(
        EventStreams.Event(1, ts(0), 7, "click", 1.0),
        EventStreams.Event(2, ts(10), 7, "click", 2.0))
      val q = EventStreams.sessionize(mem.toDS(), gapMs = 30 * 60 * 1000L, "5 minutes")
        .writeStream.format("memory").queryName("sess")
        .outputMode(OutputMode.Append()).start()
      try {
        q.processAllAvailable()
        mem.addData(EventStreams.Event(3, ts(60), 7, "view", 5.0))
        q.processAllAvailable()
        // the 60-min event starts a new session in-function, closing session 1
        val closed = spark.table("sess").as[EventStreams.SessionUpdate].collect()
        assert(closed.exists(s => s.user_id == 7 && s.n_events == 2 && s.total_value == 3.0))
      } finally q.stop()
    }
  }

  test("tileSummaryStream: per-tile incremental MV equals batch recompute; untouched tiles survive") {
    withSpark { spark =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val tmp = java.nio.file.Files.createTempDirectory("tile-mv").toFile
      val stateDir = new java.io.File(tmp, "state").getAbsolutePath
      val summaryDir = new java.io.File(tmp, "summary").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      case class Op(key: Long, tile4: String, version: Long, closed: Boolean)
      val mem = MemoryStream[(Long, String, Long, Boolean)]
      val q = EventStreams.tileSummaryStream(
        mem.toDF().toDF("key", "tile4", "version", "closed"),
        stateDir, summaryDir, ckpt)
      def summary(): Map[String, (Long, Long, Long)] =
        spark.read.parquet(summaryDir).collect().map(r =>
          r.getAs[String]("tile4") ->
            ((r.getAs[Long]("n_places"), r.getAs[Long]("n_closed"),
              r.getAs[Long]("max_version")))).toMap
      try {
        // batch 1: two tiles
        mem.addData((1L, "8FVC", 1L, false), (2L, "8FVC", 1L, true),
          (3L, "9GXX", 1L, false))
        q.processAllAvailable()
        assert(summary() == Map(
          "8FVC" -> ((2L, 1L, 1L)), "9GXX" -> ((1L, 0L, 1L))))
        // batch 2 touches ONLY 8FVC: new place + reopening of key 2 at a
        // newer version. 9GXX's summary partition must survive untouched.
        mem.addData((2L, "8FVC", 5L, false), (4L, "8FVC", 2L, false))
        q.processAllAvailable()
        assert(summary() == Map(
          "8FVC" -> ((3L, 0L, 5L)), "9GXX" -> ((1L, 0L, 1L))))
        // parity: incremental result equals a one-shot batch rebuild over
        // the full op log (last-wins per key, then per-tile aggregate)
        val log = Seq((1L, "8FVC", 1L, false), (2L, "8FVC", 1L, true),
          (3L, "9GXX", 1L, false), (2L, "8FVC", 5L, false),
          (4L, "8FVC", 2L, false)).toDF("key", "tile4", "version", "closed")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("key")
          .orderBy(org.apache.spark.sql.functions.col("version").desc)
        import org.apache.spark.sql.functions._
        val batchSummary = log.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .groupBy("tile4")
          .agg(count(lit(1)).as("n_places"),
            sum(col("closed").cast("long")).as("n_closed"),
            max("version").as("max_version"))
          .collect().map(r => r.getString(0) ->
            ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
        assert(summary() == batchSummary)
        // the MV stays tile-partitioned on disk (pruned reads at scale)
        assert(new java.io.File(summaryDir).listFiles()
          .exists(_.getName.startsWith("tile4=")))
      } finally q.stop()
    }
  }

  test("applyOpsStream: bucketed last-wins upsert, incremental across batches") {
    withSpark { spark =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val tmp = java.nio.file.Files.createTempDirectory("ops-stream").toFile
      val stateDir = new java.io.File(tmp, "state").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      val mem = MemoryStream[EventStreams.Event]
      val q = EventStreams.applyOpsStream(mem.toDF(), stateDir, ckpt, numBuckets = 8)
      def state(): Map[Long, Long] =
        spark.read.parquet(stateDir).collect()
          .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("event_id")).toMap
      try {
        // batch 1: user 10 twice (event 2 wins), user 20 once
        mem.addData(
          EventStreams.Event(1, ts(0), 10, "view", 1.0),
          EventStreams.Event(2, ts(1), 10, "click", 2.0),
          EventStreams.Event(3, ts(2), 20, "view", 3.0))
        q.processAllAvailable()
        assert(state() == Map(10L -> 2L, 20L -> 3L))
        // batch 2: newer edit for user 10, new user 30 — user 20's bucket
        // (if untouched) must survive the partial overwrite
        mem.addData(
          EventStreams.Event(4, ts(3), 10, "purchase", 9.0),
          EventStreams.Event(5, ts(4), 30, "view", 1.0))
        q.processAllAvailable()
        assert(state() == Map(10L -> 4L, 20L -> 3L, 30L -> 5L))
        // state stays bucket-partitioned on disk (pruned reads at scale)
        assert(new java.io.File(stateDir).listFiles()
          .exists(_.getName.startsWith("bucket=")))
        // batch parity: the incrementally-folded state equals one-shot
        // batch last-wins over the full event log — the micro-batch loop
        // and the batch write path agree
        val allEvents = Seq(
          EventStreams.Event(1, ts(0), 10, "view", 1.0),
          EventStreams.Event(2, ts(1), 10, "click", 2.0),
          EventStreams.Event(3, ts(2), 20, "view", 3.0),
          EventStreams.Event(4, ts(3), 10, "purchase", 9.0),
          EventStreams.Event(5, ts(4), 30, "view", 1.0)).toDF()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(org.apache.spark.sql.functions.col("event_id").desc)
        val batchState = allEvents
          .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
          .where(org.apache.spark.sql.functions.col("rn") === 1)
          .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("event_id")).toMap
        assert(state() == batchState)
      } finally q.stop()
    }
  }

  private def tmpDirs(prefix: String, names: String*): Seq[String] = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toFile
    names.map(n => new java.io.File(tmp, n).getAbsolutePath)
  }

  /** Every row of a parquet table, sorted, as strings. */
  private def rows(spark: SparkSession, dir: String): Seq[String] =
    spark.read.parquet(dir).collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Writes non-parquet bytes into every partition directory of `dir`. */
  private def corrupt(dir: String): Unit =
    new java.io.File(dir).listFiles().filter(_.isDirectory).foreach { p =>
      java.nio.file.Files.write(new java.io.File(p, "part-00000-corrupt.parquet").toPath,
        "not a parquet file".getBytes("UTF-8"))
    }

  test("a corrupt state file fails the batch for both upsert streams, never reads as empty") {
    withSpark { spark =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val Seq(tState, tSummary, tCkpt, oState, oCkpt) =
        tmpDirs("corrupt-state", "ts", "tsum", "tckpt", "os", "ockpt")
      val tiles = MemoryStream[(Long, String, Long, Boolean)]
      val edits = MemoryStream[EventStreams.Event]
      val streams = Seq(
        EventStreams.tileSummaryStream(tiles.toDF().toDF("key", "tile4", "version", "closed"),
          tState, tSummary, tCkpt) -> tState,
        EventStreams.applyOpsStream(edits.toDF(), oState, oCkpt, numBuckets = 4) -> oState)
      try {
        tiles.addData((1L, "8FVC", 1L, false), (2L, "9GXX", 1L, false))
        edits.addData(EventStreams.Event(1, ts(0), 10, "view", 1.0),
          EventStreams.Event(2, ts(1), 20, "view", 2.0))
        streams.foreach(_._1.processAllAvailable())
        streams.foreach { case (_, dir) => corrupt(dir) }
        // the next batches touch the same partitions: their state reads hit
        // the corrupt files
        tiles.addData((1L, "8FVC", 2L, true), (2L, "9GXX", 2L, false))
        edits.addData(EventStreams.Event(3, ts(2), 10, "click", 1.0),
          EventStreams.Event(4, ts(3), 20, "click", 2.0))
        streams.foreach { case (q, dir) =>
          intercept[StreamingQueryException](q.processAllAvailable())
          assert(q.exception.isDefined, dir)
          assert(!q.isActive, dir)
        }
      } finally streams.foreach(_._1.stop())
    }
  }

  test("tileSummaryStream: a replayed batch leaves the state and summary rows unchanged") {
    withSpark { spark =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val Seq(stateDir, summaryDir, ckpt) = tmpDirs("tile-replay", "state", "summary", "ckpt")
      val mem = MemoryStream[(Long, String, Long, Boolean)]
      def start() = EventStreams.tileSummaryStream(
        mem.toDF().toDF("key", "tile4", "version", "closed"), stateDir, summaryDir, ckpt)
      val q = start()
      try {
        mem.addData((1L, "8FVC", 1L, false), (2L, "8FVC", 1L, false), (3L, "9GXX", 1L, false))
        q.processAllAvailable()
        // batch 1: a key edited twice within the batch, a close, a new tile
        mem.addData((1L, "8FVC", 3L, false), (1L, "8FVC", 2L, true),
          (2L, "8FVC", 2L, true), (4L, "7CXX", 1L, false))
        q.processAllAvailable()
      } finally q.stop()
      val state = rows(spark, stateDir)
      val summary = rows(spark, summaryDir)
      assert(summary == Seq("1|0|1|7CXX", "2|1|3|8FVC", "1|0|1|9GXX").sorted)
      // drop batch 1's commit: the restarted query runs batch 1 again, as
      // recovery after a crash between the state write and the commit would
      val commits = new java.io.File(ckpt, "commits")
      commits.listFiles().filter(f => f.getName == "1" || f.getName == ".1.crc").foreach(_.delete())
      val q2 = start()
      try {
        q2.processAllAvailable()
        assert(q2.recentProgress.exists(_.batchId == 1), "batch 1 was not replayed")
      } finally q2.stop()
      assert(rows(spark, stateDir) == state)
      assert(rows(spark, summaryDir) == summary)
    }
  }

  test("the upsert streams leave no persisted RDD behind") {
    withSpark { spark =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val Seq(tState, tSummary, tCkpt, oState, oCkpt) =
        tmpDirs("upsert-rdds", "ts", "tsum", "tckpt", "os", "ockpt")
      val tiles = MemoryStream[(Long, String, Long, Boolean)]
      val edits = MemoryStream[EventStreams.Event]
      val qs = Seq(
        EventStreams.tileSummaryStream(tiles.toDF().toDF("key", "tile4", "version", "closed"),
          tState, tSummary, tCkpt),
        EventStreams.applyOpsStream(edits.toDF(), oState, oCkpt, numBuckets = 4))
      try {
        (1 to 4).foreach { b =>
          tiles.addData((b.toLong, "8FVC", b.toLong, false), (1L, "9GXX", b.toLong, b % 2 == 0))
          edits.addData(EventStreams.Event(b, ts(b), b % 3, "view", b.toDouble))
          qs.foreach(_.processAllAvailable())
        }
        assert(spark.sparkContext.getPersistentRDDs.isEmpty,
          spark.sparkContext.getPersistentRDDs.values.mkString(", "))
      } finally qs.foreach(_.stop())
    }
  }

  test("tileSummaryStream runs at most 8 Spark jobs per steady-state batch") {
    withSpark { spark =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
      val Seq(stateDir, summaryDir, ckpt) = tmpDirs("tile-jobs", "state", "summary", "ckpt")
      val mem = MemoryStream[(Long, String, Long, Boolean)]
      val q = EventStreams.tileSummaryStream(
        mem.toDF().toDF("key", "tile4", "version", "closed"), stateDir, summaryDir, ckpt)
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      val rnd = new scala.util.Random(7)
      val tiles = Seq("8FVC", "9GXX", "7CXX", "6FRR")
      def batch(b: Int) = (1 to 200).map { i =>
        val key = rnd.nextInt(300).toLong
        (key, tiles((key % tiles.size).toInt), b * 1000L + i, rnd.nextInt(10) == 0)
      }
      try {
        // warm batches first: the first ones create the state directory
        (0 until 3).foreach { b => mem.addData(batch(b): _*); q.processAllAvailable() }
        spark.sparkContext.addSparkListener(listener)
        val perBatch = (3 until 8).map { b =>
          org.apache.spark.ListenerBusDrain(spark.sparkContext)
          val before = jobs.get
          mem.addData(batch(b): _*)
          q.processAllAvailable()
          org.apache.spark.ListenerBusDrain(spark.sparkContext)
          jobs.get - before
        }
        assert(perBatch.forall(_ <= 8), s"jobs per batch: $perBatch")
      } finally {
        spark.sparkContext.removeSparkListener(listener)
        q.stop()
      }
    }
  }

  test("OSM diff stream: parse -> CDC classify -> bucketed state (the sync-bot loop)") {
    withSpark { spark =>
      import spark.implicits._
      import org.apache.spark.sql.functions._
      implicit val sqlCtx = spark.sqlContext
      import graft.sources.OsmXml
      def node(id: Long, v: Int, name: String) =
        s"""<node id="$id" lat="50.0" lon="8.0" version="$v"><tag k="name" v="$name"/></node>"""
      val doc1 =
        s"""<osm><action type="create"><new>${node(1, 1, "A")}</new></action>
           |<action type="create"><new>${node(2, 1, "B")}</new></action></osm>""".stripMargin
      val doc2 =
        s"""<osm><action type="modify"><old>${node(1, 1, "A")}</old><new>${node(1, 2, "A2")}</new></action>
           |<action type="delete"><old>${node(2, 1, "B")}</old></action></osm>""".stripMargin

      val tmp = java.nio.file.Files.createTempDirectory("osm-cdc").toFile
      val stateDir = new java.io.File(tmp, "state").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      val mem = MemoryStream[String]
      // entity key orders by (version, action-rank) so a delete at the same
      // version outranks the create/modify that produced it
      val cdc = mem.toDS()
        .flatMap(xml => OsmXml.parseDiffs(xml))(OsmXml.diffEnc)
        .toDF()
        .select(
          coalesce(col("after.id"), col("before.id")).as("user_id"),
          (coalesce(col("after.version"), col("before.version")).cast("long") * 10 +
            when(col("action") === "delete", 2)
              .when(col("action") === "modify", 1).otherwise(0)).as("event_id"),
          col("action"),
          coalesce(col("after.tags").getItem("name"),
            col("before.tags").getItem("name")).as("name"))
      val q = EventStreams.applyOpsStream(cdc, stateDir, ckpt, numBuckets = 4)
      try {
        mem.addData(doc1)
        q.processAllAvailable()
        mem.addData(doc2)
        q.processAllAvailable()
        val st = spark.read.parquet(stateDir).collect()
          .map(r => r.getAs[Long]("user_id") ->
            (r.getAs[String]("action"), r.getAs[String]("name"))).toMap
        // node 1: latest surviving fact is the v2 modify; node 2: tombstone
        assert(st == Map(1L -> ("modify", "A2"), 2L -> ("delete", "B")))
      } finally q.stop()
    }
  }

  test("stream-stream attribution join matches the batch interval join") {
    withSpark { spark =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val rnd = new scala.util.Random(37)
      // fed in EVENT-TIME order: a watermarked stream-stream join is
      // entitled to drop rows older than the watermark, so parity with
      // the batch join holds exactly when batches respect event time
      // (the same contract the as-of parity test documents)
      val all = (1 to 300).map { i =>
        val kind = if (rnd.nextInt(3) == 0) "purchase" else "view"
        EventStreams.Event(i.toLong, ts(rnd.nextInt(60)), 1L + rnd.nextInt(4),
          kind, rnd.nextInt(100) / 4.0)
      }.sortBy(e => (e.ts.getTime, e.event_id))
      val mem = MemoryStream[EventStreams.Event]
      val q = EventStreams.attributionJoinStream(mem.toDS(), "5 minutes",
          windowMs = 10 * 60000L)
        .writeStream.format("memory").queryName("attr")
        .outputMode(OutputMode.Append()).start()
      try {
        all.grouped(100).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        val got = spark.table("attr").collect()
          .map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
        // batch reference: plain interval join over the full log
        val df = all.toDF()
        val want = df.where($"event_type" === "purchase").as("p")
          .join(df.where($"event_type" === "view").as("v"),
            $"v.user_id" === $"p.user_id" &&
              $"v.ts" <= $"p.ts" &&
              $"v.ts" >= $"p.ts" - org.apache.spark.sql.functions.expr("INTERVAL 600 SECONDS"))
          .select($"p.event_id", $"v.event_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        assert(got == want)
        assert(want.nonEmpty, "fixture should produce attributed pairs")
      } finally q.stop()
    }
  }

  test("as-of enrichment state TTL: an idle key is evicted by event time, a live key survives") {
    withSpark { spark =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[EventStreams.Event]
      val q = EventStreams.asofEnrichStream(mem.toDS(), "5 minutes",
          stateTtlMs = Some(10 * 60000L))
        .writeStream.format("memory").queryName("asof_ttl")
        .outputMode(OutputMode.Append()).start()
      try {
        // b1: user 1's only view, at minute 0 (timeout set to minute 10)
        mem.addData(EventStreams.Event(1, ts(0), 1, "view", 7.0))
        q.processAllAvailable()
        // b2 advances the watermark to minute 35 (> user 1's timeout)...
        mem.addData(EventStreams.Event(2, ts(40), 2, "view", 8.0))
        q.processAllAvailable()
        // ...and b3 is where that timeout actually FIRES (user 1 gets the
        // hasTimedOut callback because it received no data this batch)
        mem.addData(EventStreams.Event(3, ts(41), 2, "view", 9.0))
        q.processAllAvailable()
        // b4: user 1's purchase now finds no state → null payload (the
        // documented TTL trade); user 2's state is within TTL and enriches
        mem.addData(
          EventStreams.Event(4, ts(45), 1, "purchase", 1.0),
          EventStreams.Event(5, ts(45), 2, "purchase", 1.0))
        q.processAllAvailable()
        val got = spark.table("asof_ttl").collect()
          .map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
        assert(got == Map(4L -> None, 5L -> Some(3L)))
      } finally q.stop()
    }
  }

  test("as-of enrichment DEFAULT posture evicts: 24h TTL fires without any opt-in") {
    withSpark { spark =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[EventStreams.Event]
      // all defaults: the TTL must be ON without the caller asking
      val q = EventStreams.asofEnrichStream(mem.toDS(), "5 minutes")
        .writeStream.format("memory").queryName("asof_default_ttl")
        .outputMode(OutputMode.Append()).start()
      try {
        val day = 24 * 60
        // user 1's only view at minute 0; default timeout = minute 1440
        mem.addData(EventStreams.Event(1, ts(0), 1, "view", 7.0))
        q.processAllAvailable()
        // advance the watermark past the default TTL, then one more batch
        // so the timeout callback actually fires for the idle key
        mem.addData(EventStreams.Event(2, ts(day + 60), 2, "view", 8.0))
        q.processAllAvailable()
        mem.addData(EventStreams.Event(3, ts(day + 61), 2, "view", 9.0))
        q.processAllAvailable()
        // user 1's purchase finds no state (evicted by the DEFAULT TTL);
        // user 2's recent state enriches normally
        mem.addData(
          EventStreams.Event(4, ts(day + 70), 1, "purchase", 1.0),
          EventStreams.Event(5, ts(day + 70), 2, "purchase", 1.0))
        q.processAllAvailable()
        val got = spark.table("asof_default_ttl").collect()
          .map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
        assert(got == Map(4L -> None, 5L -> Some(3L)))
      } finally q.stop()
    }
  }

  test("as-of enrichment refuses an evictionless setup unless explicitly opted in") {
    withSpark { spark =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[EventStreams.Event]
      intercept[IllegalArgumentException] {
        EventStreams.asofEnrichStream(mem.toDS(), "5 minutes",
          stateTtlMs = None)
      }
      // the explicit opt-in builds (no eviction — bounded-key contract)
      EventStreams.asofEnrichStream(mem.toDS(), "5 minutes",
        stateTtlMs = None, unboundedKeys = true)
    }
  }

  test("streaming as-of enrichment matches the batch operator across micro-batches") {
    withSpark { spark =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val rnd = new scala.util.Random(13)
      // interleaved views/purchases over few users with plenty of exact-ts
      // ties; fed in EVENT-TIME ORDER split across 3 micro-batches (the
      // documented parity contract)
      val all = ((1 to 240).map { i =>
        val kind = if (rnd.nextBoolean()) "view" else "purchase"
        EventStreams.Event(i.toLong, ts(rnd.nextInt(40)), 1L + rnd.nextInt(4),
          kind, rnd.nextInt(100) / 4.0)
      } :+ // a user with a purchase and no views at all → null payload path
        EventStreams.Event(500L, ts(3), 9L, "purchase", 1.0))
        // the operator's own order — views BEFORE purchases at equal ts —
        // so batch boundaries structurally honor the parity contract
        // (sorting by bare (ts, id) only passed while no tied
        // purchase/winning-view pair straddled a batch boundary)
        .sortBy(e => (e.ts.getTime, if (e.event_type == "view") 0 else 1, e.event_id))
      val batches = all.grouped(80).toSeq

      val mem = MemoryStream[EventStreams.Event]
      val q = EventStreams.asofEnrichStream(mem.toDS(), "5 minutes")
        .writeStream.format("memory").queryName("asof")
        .outputMode(OutputMode.Append()).start()
      try {
        batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        val got = spark.table("asof").collect()
          .map(r => r.getLong(0) ->
            (Option(r.get(3)).map(_.asInstanceOf[Long]),
             Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap

        val df = all.toDF()
        val purchases = df.where($"event_type" === "purchase")
          .select($"event_id", $"user_id", $"ts")
        val views = df.where($"event_type" === "view")
          .select($"event_id".as("view_id"), $"user_id", $"ts",
            $"value".as("view_value"))
        val want = graft.operators.AsofJoin.backward(purchases, views,
            Seq("user_id"), "ts", "ts", Seq("view_id", "view_value"), "view_id")
          .collect()
          .map(r => r.getLong(0) ->
            (Option(r.get(3)).map(_.asInstanceOf[Long]),
             Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap
        assert(got == want)
        assert(got.nonEmpty && got.values.exists(_._1.isEmpty),
          "fixture should include purchases before any view")
      } finally q.stop()
    }
  }

  test("streaming funnel matches the batch funnel across micro-batches; chain never rewinds") {
    withSpark { spark =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val steps = Seq("view", "click", "purchase")
      // u1 completes across TWO batches; u2 clicked before viewing (the
      // pre-view click must not convert); u3 views only
      val batch1 = Seq(
        EventStreams.Event(1, ts(0), 1, "view", 0),
        EventStreams.Event(2, ts(1), 1, "click", 0),
        EventStreams.Event(3, ts(0), 2, "click", 0),
        EventStreams.Event(4, ts(2), 2, "view", 0),
        EventStreams.Event(5, ts(0), 3, "view", 0))
      val batch2 = Seq(
        EventStreams.Event(6, ts(3), 1, "purchase", 0),
        // LATE purchase for u2 at minute 1 — before u2's view advance at
        // minute 2 AND with no click after the view: must not convert
        EventStreams.Event(7, ts(1), 2, "purchase", 0))
      val mem = MemoryStream[EventStreams.Event]
      val q = EventStreams.funnelStream(mem.toDS(), steps, "10 minutes")
        .writeStream.format("memory").queryName("fn")
        .outputMode(OutputMode.Append()).start()
      try {
        mem.addData(batch1: _*); q.processAllAvailable()
        mem.addData(batch2: _*); q.processAllAvailable()
        val got = spark.table("fn").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
          .toSet

        // batch reference over the union
        val all = (batch1 ++ batch2)
          .map(e => (e.user_id, e.ts, e.event_type))
          .toDF("user_id", "ts", "event_type")
        val batchCounts = graft.pipeline.EventAnalytics
          .funnel(all, "user_id", "ts", "event_type", steps)
          .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
        val streamCounts = steps.indices
          .map(i => (i + 1) -> got.count(_._2 == i + 1).toLong).toMap
        assert(streamCounts == batchCounts,
          s"stream=$streamCounts batch=$batchCounts")
        // u1 full funnel; u2/u3 stop at view; nobody else clicks
        assert(got == Set((1L, 1, "view"), (1L, 2, "click"),
          (1L, 3, "purchase"), (2L, 1, "view"), (3L, 1, "view")))
      } finally q.stop()
    }
  }
}
