package perfbench

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generation. Every workload draws its inputs from one
  * [[Rng]] built from `--seed`, so the same seed always writes the same
  * rows in the same order. */
final class Rng(seed: Long) {
  private val r = new java.util.SplittableRandom(seed)
  def double(): Double = r.nextDouble()
  def int(n: Int): Int = r.nextInt(n)
  def chance(p: Double): Boolean = r.nextDouble() < p
  /** Standard normal by Box-Muller, so values do not depend on the JDK's
    * own Gaussian algorithm. */
  def gaussian(): Double = {
    val u = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
  def pick[T](xs: IndexedSeq[T]): T = xs(int(xs.size))
}

/** Zipf(s) over ranks 0 until n. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _ / total).tail
  }
  def draw(rng: Rng): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.double())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

object Gen {
  private val Alphabet = "23456789CFGHJMPQRVWX"

  /** Open Location Code pair section of `len` (even, at most 6) digits,
    * by integer arithmetic on 1/8000-degree units. */
  def olc(lat: Double, lon: Double, len: Int): String = {
    var la = math.floor((lat + 90) * 8000).toLong
    var lo = math.floor((lon + 180) * 8000).toLong
    val sb = new StringBuilder
    var unit = 160000L
    while (sb.length < len) {
      sb += Alphabet((la / unit).toInt)
      sb += Alphabet((lo / unit).toInt)
      la %= unit; lo %= unit; unit /= 20
    }
    sb.toString
  }

  /** A point `distM` meters from (lat, lon) at `bearing` radians. */
  def offset(lat: Double, lon: Double, distM: Double, bearing: Double): (Double, Double) = {
    val deg = distM / 111195.0 // meters per degree of latitude
    (lat + deg * math.cos(bearing), lon + deg * math.sin(bearing) / math.cos(math.toRadians(lat)))
  }

  /** Writes rows as parquet under `dir` in `files` files whose contents
    * depend only on the rows. */
  def write(spark: SparkSession, rows: Seq[Row], schema: StructType, dir: File,
            files: Int = 4): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.parquet(dir.getPath)

  /** Digest of every data file under `dir`, in path order with the
    * writer's per-job file-name ids removed, so two writes of equal rows
    * give equal digests. */
  def digest(dir: File): String = {
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val md = MessageDigest.getInstance("SHA-256")
    val base = dir.toPath
    files(dir).map(f => (base.relativize(f.toPath).toString
        .replaceAll("-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", ""), f))
      .sortBy(_._1).foreach { case (name, f) =>
        md.update(name.getBytes("UTF-8"))
        md.update(java.nio.file.Files.readAllBytes(f.toPath))
      }
    md.digest().map("%02x".format(_)).mkString
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def sizeOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(sizeOf).sum else f.length

  // ---- the engine's table schemas (see graft.api.PlacesEngine) ----

  val sourceType: ArrayType = ArrayType(StructType(Seq(
    StructField("id", LongType), StructField("type", StringType),
    StructField("lat", DoubleType), StructField("lon", DoubleType),
    StructField("osm_tag", StringType), StructField("osm_value", StringType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("deleted", StringType))))

  val placesSchema: StructType = StructType(Seq(
    StructField("id", ArrayType(StringType)),
    StructField("tileid", StringType),
    StructField("placetype", StringType),
    StructField("source_osm", sourceType),
    StructField("images", MapType(StringType,
      ArrayType(StructType(Seq(StructField("cid", StringType)))))),
    StructField("deleted", StringType)))

  val opsSchema: StructType = StructType(Seq(
    StructField("block_id", LongType), StructField("op_ord", IntegerType),
    StructField("block_date", TimestampType), StructField("op_type", StringType),
    StructField("created", ArrayType(StructType(Seq(
      StructField("id", ArrayType(StringType)), StructField("tileid", StringType))))),
    StructField("edited", ArrayType(StructType(Seq(
      StructField("id", ArrayType(StringType)),
      StructField("change", MapType(StringType, StringType)))))),
    StructField("deleted", ArrayType(ArrayType(StringType)))))

  val PlaceTypes: IndexedSeq[String] =
    IndexedSeq("cafe", "restaurant", "bar", "fast_food", "pharmacy", "bakery", "fuel", "bank")

  private val Syllables = IndexedSeq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo",
    "ber", "dan", "gol", "hin", "mar", "pel", "quo", "zen")

  /** A pronounceable word of `syllables` syllables. */
  def word(rng: Rng, syllables: Int): String =
    Seq.fill(syllables)(rng.pick(Syllables)).mkString

  /** A live OSM source of a place. */
  def source(id: Long, lat: Double, lon: Double, placetype: String, tags: Map[String, String]): Row =
    Row(id, "node", lat, lon, "amenity", placetype, tags, null)

  def ts(epochMs: Long): java.sql.Timestamp = new java.sql.Timestamp(epochMs)

  /** 2024-01-01T00:00:00Z: the op logs start here. */
  val Epoch: Long = 1704067200000L
  val DayMs: Long = 86400000L

  def isoDate(epochMs: Long): String =
    java.time.Instant.ofEpochMilli(epochMs).toString.take(10)

  /** One op-log row holding a single created, edited or deleted place. */
  def opRow(block: Long, ord: Int, atMs: Long, kind: Char, id: Seq[String],
            change: Map[String, String] = Map.empty): Row = kind match {
    case 'c' => Row(block, ord, ts(atMs), "opr.place", Seq(Row(id, id.head)), Seq.empty, Seq.empty)
    case 'e' => Row(block, ord, ts(atMs), "opr.place", Seq.empty, Seq(Row(id, change)), Seq.empty)
    case 'd' => Row(block, ord, ts(atMs), "opr.place", Seq.empty, Seq.empty, Seq(id))
  }
}
