package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.api.CurationPipeline
import graft.functions.Native
import graft.geo.ConnectedComponents
import graft.pipeline.{Dedup, TextAnalysis}
import graft.util.PartitionedState

/** Incremental form of [[graft.api.CurationPipeline]]: new documents
  * arrive as a stream and each micro-batch is curated against the
  * ACCUMULATED keep-list, so a document that duplicates anything already
  * kept — in any earlier batch — drops without reprocessing the history.
  * This is the corpus-side analogue of [[EventStreams.tileSummaryStream]]
  * (the places-side incremental MV): same foreachBatch + bucketed-state
  * + touched-partition-pruning pattern.
  *
  * State (all append-only — dedup indexes only ever grow; replaying a
  * batch appends duplicate index rows, which downstream `distinct`
  * absorbs, so recovery is safe):
  *
  *   - `hash_idx/`  (bucket, text_hash, doc_id)    — exact-dup membership
  *   - `band_idx/`  (bucket, band_key, doc_id)     — LSH candidate probes
  *   - `doc_idx/`   (bucket, doc_id, hgrams, sz)   — Jaccard verify side
  *
  * Each is hash-bucketed on its join key, and every batch reads ONLY the
  * buckets its own keys hash into (the `isin` literal list prunes
  * partitions) — per-batch cost tracks the batch, not the corpus. The
  * driver-side artifacts are the three touched-bucket lists, each ≤
  * `numBuckets` longs.
  *
  * Semantics = prefix-greedy curation: the earliest-seen member of a
  * duplicate cluster is kept and later arrivals drop against it. With
  * batches arriving in `doc_id` order this equals the batch funnel's
  * min-id canonical EXCEPT when a later document bridges two clusters
  * that were both already emitted as kept (batch mode would merge them
  * retroactively; a stream cannot retract). That deviation is inherent
  * to any no-retraction incremental dedup; the parity spec exercises the
  * bridge-free case.
  */
object CurationStream {

  /** Start the curation stream: per-batch verdict rows (the
    * [[CurationPipeline.curate]] schema + `batch_id`) land in `outDir`
    * as batch_id-partitioned dynamic overwrites (replay-idempotent),
    * kept docs' index rows append to `stateRoot/{hash,band,doc}_idx`.
    * `benchmark` is a static relation (the eval set). */
  def curationStream(docs: DataFrame, benchmark: DataFrame,
                     stateRoot: String, outDir: String, checkpointDir: String,
                     cfg: CurationPipeline.Config = CurationPipeline.Config(),
                     numBuckets: Int = 64) = {
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        curateBatch(batch, benchmark, stateRoot, outDir, cfg, numBuckets, batchId)
      }
      .start()
  }

  /** One micro-batch of the funnel — also callable directly for tests /
    * backfills. `batch0` columns: doc_id, text. */
  def curateBatch(batch0: DataFrame, benchmark: DataFrame, stateRoot: String,
                  outDir: String, cfg: CurationPipeline.Config,
                  numBuckets: Int, batchId: Long = 0L): Unit = {
    val spark = batch0.sparkSession
    val B = numBuckets.toLong
    val hashIdx = s"$stateRoot/hash_idx"
    val bandIdx = s"$stateRoot/band_idx"
    val docIdx = s"$stateRoot/doc_idx"

    val prep = batch0.select(col("doc_id"), col("text"))
      .withColumn("text_hash", md5(col("text")))
      .withColumn("words", filter(split(col("text"), " "), w => w =!= ""))
      .withColumn("hgrams",
        Native("ngram_hashes", col("words"), lit(cfg.ngram)))
      .withColumn("sz", size(col("hgrams")))
      .withColumn("bands", Native("minhash_band_keys", col("words"),
        lit(cfg.ngram), lit(cfg.numHashes), lit(cfg.bandRows)))
      .drop("words")
      .cache()

    // Only a missing index is empty state: reading a corrupt one as empty
    // would silently keep every duplicate of the lost history.
    // ---- stage 1: exact dedup vs state ∪ within-batch ----
    val hb = prep.select(pmod(xxhash64(col("text_hash")), lit(B)).as("bucket"))
      .distinct().collect().map(_.getLong(0))
    val stateHash = PartitionedState.readPruned(spark, hashIdx,
      StructType.fromDDL("bucket BIGINT, text_hash STRING, doc_id BIGINT"), "bucket", hb.toSeq)
    val wHash = org.apache.spark.sql.expressions.Window.partitionBy("text_hash")
    // self-matches (state entry with the doc's OWN id) are excluded so a
    // checkpoint replay — whose kept docs are already in the indexes —
    // reclassifies every doc identically instead of dropping each kept
    // doc as a duplicate of itself
    val exact = prep.select("doc_id", "text_hash")
      .join(stateHash.select(col("text_hash"), col("doc_id").as("s_id")),
        Seq("text_hash"), "left")
      .groupBy("doc_id", "text_hash")
      .agg(min(when(col("s_id") =!= col("doc_id"), col("s_id"))).as("state_id"))
      .withColumn("batch_min", min("doc_id").over(wHash))
      // any state hit drops the WHOLE batch group; otherwise the batch min
      // is the canonical and survives
      .withColumn("exact_dup",
        col("state_id").isNotNull || col("doc_id") =!= col("batch_min"))
      .select("doc_id", "exact_dup")
    val exactKept = prep.join(exact.where(col("exact_dup")),
      Seq("doc_id"), "left_anti")

    // ---- stage 2: near-dup LSH vs state ∪ within-batch ----
    val bandRel = exactKept
      .select(col("doc_id"), explode(col("bands")).as("band_key"))
    val bb = bandRel.select(pmod(col("band_key"), lit(B)).as("bucket"))
      .distinct().collect().map(_.getLong(0))
    val stateBands = PartitionedState.readPruned(spark, bandIdx,
      StructType.fromDDL("bucket BIGINT, band_key BIGINT, doc_id BIGINT"), "bucket", bb.toSeq)
    val within = bandRel.as("a")
      .join(bandRel.select(col("doc_id").as("b_id"), col("band_key")), "band_key")
      .where(col("doc_id") < col("b_id"))
      .select(col("doc_id").as("a_id"), col("b_id")).distinct()
    val cross = bandRel
      .join(stateBands.select(col("band_key"), col("doc_id").as("a_id")), "band_key")
      // drop self-probes before the verify join pays for them (CC would
      // discard the resulting self-loop edges anyway — replay case)
      .where(col("a_id") =!= col("doc_id"))
      .select(col("a_id"), col("doc_id").as("b_id")).distinct()
    val db = cross.select(pmod(col("a_id"), lit(B)).as("bucket"))
      .distinct().collect().map(_.getLong(0))
    val stateDocs = PartitionedState.readPruned(spark, docIdx,
      StructType.fromDDL("bucket BIGINT, doc_id BIGINT, hgrams ARRAY<BIGINT>, sz INT"), "bucket", db.toSeq)
      .select(col("doc_id").as("a_id"), col("hgrams").as("a_grams"),
        col("sz").as("a_sz"))
    val batchSide = prep.select(col("doc_id").as("b_id"),
      col("hgrams").as("b_grams"), col("sz").as("b_sz"))
    def verify(cand: DataFrame, aSide: DataFrame): DataFrame = cand
      .join(aSide, "a_id").join(batchSide, "b_id")
      .withColumn("inter",
        Native("sorted_intersect_size", col("a_grams"), col("b_grams")).cast("double"))
      .where(round(col("inter") / (col("a_sz") + col("b_sz") - col("inter")), 6)
        >= cfg.minSim)
      .select("a_id", "b_id")
    val edges = verify(within,
        prep.select(col("doc_id").as("a_id"), col("hgrams").as("a_grams"),
          col("sz").as("a_sz")))
      .unionByName(verify(cross, stateDocs))
      .select(col("a_id").as("a"), col("b_id").as("b"))
    val labels = ConnectedComponents.label(spark, edges)
    val resolved = exactKept.select("doc_id")
      .join(labels, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster_id"))
      .withColumn("near_keep", col("doc_id") === col("cluster_id"))
      .cache()

    // ---- stages 3-5: signals over dedup survivors only (as the batch
    // funnel does) ----
    val survivors = exactKept.join(
        resolved.where(col("near_keep")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .cache()
    val contam = Dedup.contaminationFlags(
        survivors.select("doc_id", "text"), benchmark, "doc_id", "text",
        cfg.decontamNgram, cfg.maxContamFrac)
      .select(col("doc_id"), col("contaminated_frac"),
        col("flagged").as("contaminated"))
    val signals = survivors.select(col("doc_id"),
      TextAnalysis.signals(col("text")).as("signals"))

    val verdict = prep.select("doc_id")
      .join(exact.where(col("exact_dup")), Seq("doc_id"), "left")
      .join(resolved, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .join(signals, Seq("doc_id"), "left")
      .withColumn("drop_reason",
        when(coalesce(col("exact_dup"), lit(false)), "exact_duplicate")
          .when(!coalesce(col("near_keep"), lit(true)), "near_duplicate")
          .when(coalesce(col("contaminated"), lit(false)), "contaminated")
          .when(Option(cfg.lang).map(col("signals.lang") =!= _).getOrElse(lit(false)),
            "wrong_language")
          .when(col("signals.quality_score") < cfg.minQuality, "low_quality"))
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        col("contaminated_frac"), col("signals.lang").as("lang"),
        col("signals.n_tokens").as("n_tokens"),
        col("signals.quality_score").as("quality_score"),
        col("drop_reason"), col("drop_reason").isNull.as("keep"))
      .localCheckpoint(true) // one materialization feeds 4 writes below

    // ---- state + output appends (kept docs enter the indexes) ----
    val kept = verdict.where(col("keep")).select("doc_id")
      .join(prep, Seq("doc_id"))
    kept.select(pmod(xxhash64(col("text_hash")), lit(B)).as("bucket"),
        col("text_hash"), col("doc_id"))
      .write.mode("append").partitionBy("bucket").parquet(hashIdx)
    kept.select(col("doc_id"), explode(col("bands")).as("band_key"))
      .select(pmod(col("band_key"), lit(B)).as("bucket"),
        col("band_key"), col("doc_id"))
      .write.mode("append").partitionBy("bucket").parquet(bandIdx)
    kept.select(pmod(col("doc_id"), lit(B)).as("bucket"),
        col("doc_id"), col("hgrams"), col("sz"))
      .write.mode("append").partitionBy("bucket").parquet(docIdx)
    // verdicts are batch_id-partitioned and dynamically OVERWRITTEN, so a
    // checkpoint replay rewrites its own partition instead of appending
    // duplicate verdict rows (the index appends above are dup-tolerant —
    // duplicate index rows only create duplicate candidates, absorbed by
    // the distinct — but the verdict table is the user-facing output)
    verdict.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(outDir)

    survivors.unpersist(false)
    resolved.unpersist(false)
    prep.unpersist(false)
    ()
  }
}
