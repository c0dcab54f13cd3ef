package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.api.CurationPipeline
import graft.SharedSpark

/** Batch-parity of the incremental curation funnel: feeding the corpus
  * through [[CurationStream]] in doc_id-ordered micro-batches must
  * reproduce [[CurationPipeline.curate]]'s verdicts — including drops
  * AGAINST DOCUMENTS KEPT IN EARLIER BATCHES, the case a per-batch-only
  * funnel gets wrong. (Bridge clusters — a late doc joining two already-
  * kept docs — are the documented no-retraction deviation and are absent
  * from this corpus.) */
class CurationStreamSpec extends AnyFunSuite with SharedSpark {

  override protected def cpus = 2

  private val good =
    "the cat sat on a mat and the dog lay in the sun while the birds " +
      "sang of summer and the wind moved to the north over a quiet field " +
      "where the farmer walked to his barn and the day went on in peace"
  private val other =
    "a tall ship left the old port in the early light and the crew set " +
      "the sails to the wind as the town slept and the sea lay flat to " +
      "the south where the gulls turned over the water in the morning"

  // batch 1: 1 keep, 2 exact dup of 1, 3 near dup of 1
  // batch 2: 4 keep, 5 exact dup of KEPT 1 (cross-batch!), 6 near dup of
  //          KEPT 1 (cross-batch!), 7 contaminated, 8 French
  private val corpus = Seq(
    1L -> good,
    2L -> good,
    3L -> good.replace("quiet field", "green field"),
    4L -> other,
    5L -> good,
    6L -> good.replace("quiet field", "wide field"),
    7L -> "answer key alpha beta gamma delta epsilon zeta eta theta",
    8L -> "le chat le chien le jour et la nuit et le vent est la")
  private val benchText = "key alpha beta gamma delta epsilon zeta eta"

  test("two ordered micro-batches equal the batch funnel, incl. cross-batch dups") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("curation-stream").toFile
    val state = new java.io.File(tmp, "state").getAbsolutePath
    val out = new java.io.File(tmp, "out").getAbsolutePath
    val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
    val bench = Seq(100L -> benchText).toDF("doc_id", "text")
    val cfg = CurationPipeline.Config()

    val mem = MemoryStream[(Long, String)]
    val q = CurationStream.curationStream(
      mem.toDF().toDF("doc_id", "text"), bench, state, out, ckpt, cfg)
    try {
      mem.addData(corpus.filter(_._1 <= 3): _*)
      q.processAllAvailable()
      mem.addData(corpus.filter(_._1 > 3): _*)
      q.processAllAvailable()
    } finally q.stop()

    def key(r: org.apache.spark.sql.Row) = r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("cluster_id"), r.getAs[String]("drop_reason"),
        r.getAs[Boolean]("keep"), r.getAs[Any]("quality_score")))
    val streamed = spark.read.parquet(out).collect().map(key).toMap
    val batch = CurationPipeline.curate(
        corpus.toDF("doc_id", "text"), bench, "doc_id", "text", cfg)
      .collect().map(key).toMap

    assert(streamed.keySet === batch.keySet)
    for ((id, b) <- batch) assert(streamed(id) === b, s"doc $id")
    // the cross-batch cases specifically
    assert(streamed(5L)._2 === "exact_duplicate")
    assert(streamed(6L)._2 === "near_duplicate")
    assert(streamed(6L)._1 === 1L) // clustered onto the batch-1 keeper
    // state stays bucket-partitioned on disk (pruned reads at scale)
    assert(new java.io.File(s"$state/band_idx").listFiles()
      .exists(_.getName.startsWith("bucket=")))
  }

  test("replaying a batch is idempotent on the verdict table") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("curation-replay").toFile
    val state = new java.io.File(tmp, "state").getAbsolutePath
    val out = new java.io.File(tmp, "out").getAbsolutePath
    val bench = Seq(100L -> benchText).toDF("doc_id", "text")
    val cfg = CurationPipeline.Config()
    val batch = corpus.filter(_._1 <= 3).toDF("doc_id", "text")

    CurationStream.curateBatch(batch, bench, state, out, cfg, 64, batchId = 0L)
    val first = spark.read.parquet(out).orderBy("doc_id").collect().toSeq
    // checkpoint recovery re-delivers the same batch: the batch_id
    // partition is dynamically overwritten, not appended (the dedup
    // indexes tolerate their duplicate rows; the verdict table must not)
    CurationStream.curateBatch(batch, bench, state, out, cfg, 64, batchId = 0L)
    val second = spark.read.parquet(out).orderBy("doc_id").collect().toSeq
    assert(second.length === first.length)
    assert(second === first)
  }

  test("a corrupt state index fails the batch instead of reading as empty") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("curation-corrupt").toFile
    val state = new java.io.File(tmp, "state")
    val out = new java.io.File(tmp, "out").getAbsolutePath
    // every bucket holds a corrupt file, so whichever buckets the
    // batch's hashes prune to, the exact-dup probe reads one
    for (b <- 0 until 64) {
      val bucket = new java.io.File(state, s"hash_idx/bucket=$b")
      bucket.mkdirs()
      java.nio.file.Files.write(new java.io.File(bucket, "part-00000.parquet").toPath,
        "not a parquet file".getBytes("UTF-8"))
    }
    val bench = Seq(100L -> benchText).toDF("doc_id", "text")
    val batch = corpus.filter(_._1 <= 3).toDF("doc_id", "text")
    val e = intercept[org.apache.spark.SparkException] {
      CurationStream.curateBatch(batch, bench, state.getAbsolutePath, out,
        CurationPipeline.Config(), 64, batchId = 0L)
    }
    assert(e.getMessage.contains("hash_idx"), e.getMessage)
    assert(!new java.io.File(out).exists(), "a verdict was written over lost state")
  }
}
