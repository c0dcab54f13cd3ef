package perfbench

import java.io.File
import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.api.PlacesEngine
import graft.streaming.EventStreams

/** The write path: seeded micro-batches of place ops (70% edits, 20%
  * creates, 10% closes, Zipf-skewed over tiles) fed through
  * `EventStreams.tileSummaryStream`, then `PlacesEngine.snapshotAt` over
  * the same ops as an op log with 16 ops per block. One stream, started
  * at set-up and kept for the whole run, is fed the batches in order,
  * again and again; after each pass the tile summaries are checked and
  * the snapshot runs. */
final class OpIngest extends Workload {
  import OpIngest._

  private var spark: SparkSession = _
  private var dir: File = _
  private var work: File = _
  private var engine: PlacesEngine = _
  /** The state the generator planted. */
  private var expect: Expected = _
  private var feed: Feed = _

  def generate(s: SparkSession, dir: File, seed: Long): Seq[(String, Double)] = {
    val rng = new Rng(seed)
    // tile4 cells and, inside each, the 6-char tiles places sit in
    val cells = IndexedSeq.fill(Cells) {
      val lat = -50 + 110 * rng.double()
      val lon = -170 + 340 * rng.double()
      Gen.olc(lat, lon, 4)
    }.distinct
    val zipf = new Zipf(cells.size, 1.1)
    val live = Array.fill(cells.size)(mutable.ArrayBuffer.empty[Long])
    val version = mutable.HashMap.empty[Long, Long]
    var nextKey = 0L
    var creates, edits, closes = 0
    val opsPerCell = Array.fill(cells.size)(0)
    val batches = (0 until Batches).map { b =>
      (0 until OpsPerBatch).map { _ =>
        val c = zipf.draw(rng)
        opsPerCell(c) += 1
        val x = rng.double()
        if (x < 0.2 || live(c).isEmpty) {
          val k = nextKey; nextKey += 1
          live(c) += k; version(k) = 1; creates += 1
          Op(k, c, 1, 'c')
        } else {
          val i = rng.int(live(c).size)
          val k = live(c)(i)
          version(k) += 1
          if (x < 0.3) {
            live(c)(i) = live(c).last; live(c).remove(live(c).size - 1); closes += 1
            Op(k, c, version(k), 'd')
          } else { edits += 1; Op(k, c, version(k), 'e') }
        }
      }
    }
    batches.zipWithIndex.foreach { case (ops, b) =>
      Gen.write(s, ops.map(o => Row(o.key, cells(o.cell), o.version, o.kind == 'd')), OpSchema,
        new File(dir, f"batch-$b%03d"), 1)
    }
    // the same ops as the engine's op log: 16 ops per block
    val all = batches.flatten
    val log = all.zipWithIndex.map { case (o, n) =>
      val id = Seq(cells(o.cell) + "00", s"k${o.key}")
      Gen.opRow(n / 16, n % 16, Gen.Epoch + n * 1000L, o.kind, id, Map("tags.name" -> s"v${o.version}"))
    }
    Gen.write(s, log, Gen.opsSchema, new File(dir, "operations"))
    val last = all.groupBy(_.key).values.map(_.maxBy(_.version))
    expect = Expected(
      last.groupBy(o => cells(o.cell)).map { case (t, os) =>
        t -> ((os.size.toLong, os.count(_.kind == 'd').toLong)) },
      Map("ACTIVE" -> last.count(_.kind != 'd').toLong, "DELETED" -> last.count(_.kind == 'd').toLong),
      batches.map(_.size.toLong))
    val hot = opsPerCell.sorted.reverse.take(math.max(1, cells.size / 100))
    Seq(
      "ops" -> all.size.toDouble,
      "batches" -> Batches.toDouble,
      "tile4_cells" -> cells.size.toDouble,
      "create_share" -> creates.toDouble / all.size,
      "edit_share" -> edits.toDouble / all.size,
      "close_share" -> closes.toDouble / all.size,
      "ops_per_hot_tile" -> hot.sum.toDouble / hot.length,
      "ops_per_tile" -> all.size.toDouble / cells.size,
      "live_places" -> live.map(_.size).sum.toDouble)
  }

  def open(s: SparkSession, d: File, w: File): Unit = {
    spark = s; dir = d; work = w
    val ops = s.read.parquet(new File(dir, "operations").getPath)
    engine = new PlacesEngine(s.createDataFrame(java.util.Collections.emptyList[Row](), Gen.placesSchema), ops)
    // the snapshot first, so the measured batches follow warm batches
    Warm.up(snapshot(_, new Tracer(false)), once = true)
    feed = new Feed
    Warm.up(feed.next(_, new Tracer(false), None))
  }

  override def close(): Unit = if (feed != null) feed.stop()

  private def batchFiles: Seq[File] =
    Option(dir.listFiles).toSeq.flatten.filter(_.getName.startsWith("batch-")).sortBy(_.getName)

  /** One stream into fresh state, fed the batches in order, again and
    * again: a replayed batch rewrites its tiles to the same rows. */
  private final class Feed {
    private val root = new File(work, "stream")
    private val src = new File(root, "src")
    src.mkdirs()
    val state = new File(root, "state")
    val summary = new File(root, "summary")
    private val batches = batchFiles.map(_.listFiles.filter(_.getName.endsWith(".parquet")).head)
    private val q = EventStreams.tileSummaryStream(
      spark.readStream.schema(OpSchema).option("maxFilesPerTrigger", 1).parquet(src.getPath),
      state.getPath, summary.getPath, new File(root, "ckpt").getPath)
    var fed = 0

    /** Feeds the next batch and waits until its commit; `files` records
      * what the batch wrote. */
    def next(ph: Phase, tr: Tracer, files: Option[StateFiles]): Unit = {
      val i = fed % Batches
      val before = files.map(_.snapshot(state, summary)).getOrElse(Map.empty)
      val file = new File(src, f"b$fed%05d.parquet")
      ph.timed(s"batch $fed") {
        java.nio.file.Files.copy(batches(i).toPath, file.toPath)
        tr.span("streaming", "streaming.batch", fed)(q.processAllAvailable())
        q.exception.foreach(e => throw e)
      } { _ =>
        if (i == Batches - 1) checkSummary(summary)
        expect.opsPerBatch(i).toDouble
      }
      files.foreach(_.recordBatch(state, summary, before, expect.opsPerBatch(i)))
      fed += 1
    }

    def stop(): Unit = { q.stop(); Gen.deleteTree(root) }
  }

  /** Replays the whole op log as of the end of time. */
  private def snapshot(ph: Phase, tr: Tracer): Unit =
    ph.timed("snapshotAt", primary = false) {
      tr.span("api", "api.snapshot") {
        engine.snapshotAt("2100-01-01").groupBy("status").count().collect()
      }
    } { rows =>
      val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
      Check(got == expect.statusCounts, s"snapshotAt: $got, planted ${expect.statusCounts}")
      0.0
    }

  /** After the last batch, every tile's summary equals the planted state. */
  private def checkSummary(summary: File): Unit = {
    val got = spark.read.parquet(summary.getPath).collect().map(r =>
      r.getAs[String]("tile4") -> ((r.getAs[Long]("n_places"), r.getAs[Long]("n_closed")))).toMap
    Check(got == expect.summary, s"tile summary: ${got.size} tiles, ${expect.summary.size} planted; " +
      s"differing ${(got.toSet diff expect.summary.toSet).take(3)}")
  }

  /** Feeds batches for `seconds`; after each pass over all batches,
    * checks the tile summaries and runs `snapshotAt`. */
  def measure(seconds: Double, tr: Tracer, ls: Option[Listeners]): Phase = {
    val ph = new Phase
    val files = ls.map(_ => new StateFiles)
    val t0 = System.nanoTime()
    do {
      feed.next(ph, tr, files)
      if (feed.fed % Batches == 0) {
        snapshot(ph, tr)
        files.foreach(_.finish(feed.state, expect.statusCounts("ACTIVE")))
      }
    } while (System.nanoTime() - t0 < seconds * 1e9)
    ph.elapsedS = (System.nanoTime() - t0) / 1e9
    ls.foreach { l =>
      l.drain()
      ph.layer ++= Seq(
        "streaming.add_batch_ms" -> l.streams.medianMs("addBatch"),
        "streaming.wal_commit_ms" -> l.streams.medianMs("walCommit"),
        "streaming.commit_ms" -> l.streams.medianMs("commitOffsets"),
        "api.snapshot_ms" -> Stats.median(ph.secondaryMs.toSeq)) ++ files.get.metrics
    }
    ph
  }
}

object OpIngest {
  val Cells = 8
  val Batches = 4
  val OpsPerBatch = 2500

  /** The stream's rows: a place key, its tile4 cell, the op's version and
    * whether it closed the place. */
  val OpSchema: StructType = StructType(Seq(StructField("key", LongType),
    StructField("tile4", StringType), StructField("version", LongType),
    StructField("closed", BooleanType)))

  final case class Op(key: Long, cell: Int, version: Long, kind: Char)
  final case class Expected(summary: Map[String, (Long, Long)], statusCounts: Map[String, Long],
                            opsPerBatch: Seq[Long])
}

/** Bytes and files each micro-batch writes into the state and summary
  * tables, read from the file system. */
final class StateFiles {
  private var bytes, ops, files, batches, tiles = 0L
  private val spaceAmp = mutable.ArrayBuffer.empty[Double]

  def snapshot(state: File, summary: File): Map[String, Long] = Seq(state, summary).flatMap(list).toMap

  private def list(f: File): Seq[(String, Long)] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(list)
    else if (f.getName.endsWith(".parquet")) Seq(f.getPath -> f.length) else Nil

  def recordBatch(state: File, summary: File, before: Map[String, Long], batchOps: Long): Unit = {
    val written = snapshot(state, summary).filter { case (p, _) => !before.contains(p) }
    bytes += written.values.sum
    ops += batchOps
    files += written.size
    batches += 1
    tiles += written.keys.filter(_.startsWith(state.getPath))
      .map(p => new File(p).getParentFile.getName).toSet.size
  }

  def finish(state: File, livePlaces: Long): Unit =
    spaceAmp += Gen.sizeOf(state).toDouble / math.max(1L, livePlaces)

  def metrics: Seq[(String, Double)] = Seq(
    "state.bytes_written_per_op" -> bytes.toDouble / math.max(1L, ops),
    "state.files_per_batch" -> files.toDouble / math.max(1L, batches),
    "state.tiles_rewritten_per_batch" -> tiles.toDouble / math.max(1L, batches),
    "state.disk_bytes_per_live_place" -> Stats.median(spaceAmp.toSeq))
}
