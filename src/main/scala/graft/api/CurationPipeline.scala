package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, TextAnalysis}
import graft.util.Checkpoints

/** End-to-end corpus curation: composes the `graft.pipeline` operators in
  * the order a production pretraining-data pipeline applies them, as ONE
  * DataFrame program per document set. The individual operators each have
  * their own oracle-checked catalog query; this facade is the "a user of
  * the engine runs the whole funnel" surface, the corpus-side analogue of
  * [[PlacesEngine]] for the places side.
  *
  * Funnel order (first failing stage names the drop reason — the standard
  * ordering: dedup before expensive signals so duplicates don't pay for
  * scoring, contamination before quality so eval leakage is never
  * explained away as "low quality"):
  *
  *   1. exact dedup       — md5 groups, non-canonical members drop
  *                          ([[Dedup.exactDuplicates]])
  *   2. near-dup resolve  — MinHash+LSH pairs → connected components →
  *                          per-cluster canonical keep
  *                          ([[Dedup.minhashLshPairs]],
  *                          [[Dedup.resolveByComponents]])
  *   3. decontamination   — n-gram overlap against the benchmark set
  *                          ([[Dedup.contaminationFlags]])
  *   4. language filter   — n-gram-heuristic language ID
  *                          ([[TextAnalysis.langId]])
  *   5. quality filter    — composite quality score
  *                          ([[TextAnalysis.qualityFeatures]])
  *
  * When document embeddings exist, [[graft.pipeline.Similarity.semanticDedup]]
  * slots in as a further dedup stage after step 2 (SemDeDup's published
  * placement: semantic duplicates survive both the exact and the n-gram
  * stages because paraphrases share no shingles).
  *
  * Scale shape (100 TB): every signal is computed map-side from the text
  * and then joined back by `doc_id` — the joins shuffle (doc_id, signal)
  * rows, never text. The dedup stages inherit their operators' shapes
  * (hash-only shuffles, band-key joins, broadcast benchmark grams). The
  * near-dup keep-list and exact-dup membership are the only shuffled
  * artifacts proportional to the duplicated subset. Downstream, `keep`
  * survivors flow to [[graft.pipeline.Sampling.stratifiedBalance]] /
  * [[graft.pipeline.Sampling.packSequences]] keyed on the emitted
  * `lang` / `n_tokens` columns.
  */
object CurationPipeline {

  /** Funnel thresholds. Defaults mirror the catalog queries' parameters.
    *
    * @param ngram        shingle width for near-dup signatures
    * @param numHashes    MinHash signature length (bands = numHashes/bandRows)
    * @param bandRows     rows per LSH band
    * @param minSim       exact-Jaccard verify threshold for near-dup pairs
    * @param decontamNgram benchmark-overlap gram width
    * @param maxContamFrac contaminated-fraction threshold (≥ drops)
    * @param lang         required language id, or null to keep all
    * @param minQuality   minimum composite quality score
    */
  final case class Config(
      ngram: Int = 2,
      numHashes: Int = 32,
      bandRows: Int = 4,
      minSim: Double = 0.8,
      decontamNgram: Int = 3,
      maxContamFrac: Double = 0.5,
      lang: String = "en",
      minQuality: Double = 0.3)

  /** Per-document curation verdict over `corpus(idCol, textCol)`:
    * every signal that fed the decision (cluster id, contaminated
    * fraction, lang, quality score, token count), `drop_reason` = the
    * FIRST failing stage in funnel order (null when kept), and
    * `keep = drop_reason IS NULL`. One row per input document; `idCol`
    * must be unique, as every stage keys on it.
    *
    * Unless `graft.curation.eagerStages` is false, the call runs the
    * funnel and returns the verdict as a local checkpoint; every
    * intermediate it materialized is freed before it returns. */
  def curate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
             textCol: String, cfg: Config = Config()): DataFrame = {
    val base = corpus.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // benchmark must share the normalized (doc_id, text) shape — its idCol/
    // textCol are read with the same names as the corpus's
    val bench = benchmark.select(col(idCol).as("doc_id"), col(textCol).as("text"))

    // Stage outputs below are EAGERLY materialized as local checkpoints:
    // each is computed once, before any consumer runs — AQE submits the
    // downstream exchange jobs concurrently, and concurrent first-readers
    // of a lazy cache STAMPEDE, each recomputing the full lineage (the
    // round-6 p17 shingle-cache lesson) — and each cuts the lineage, so
    // later plans scan a LogicalRDD instead of re-planning and re-printing
    // the nested cached plans of every earlier stage.
    // Plan-only consumers (Explain, PlanAuditSpec) opt out via the session
    // conf below — they build the frame purely to inspect its plan and
    // must not pay the funnel's execution at construction time. The opt-out
    // keeps a lazy cache, so the plan still shows the whole dataflow and
    // an opted-out frame that IS later executed remains correct.
    val eagerStages = corpus.sparkSession.conf
      .get("graft.curation.eagerStages", "true").toBoolean
    // what this call materializes, freed once the verdict is (below)
    val made = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def stage(df: DataFrame): DataFrame =
      if (!eagerStages) df.cache()
      else { val c = df.localCheckpoint(true); made ++= Seq(df, c); c }

    // 1. exact duplicates: only non-canonical members of >1 groups
    val exactDrop = stage(Dedup.exactDuplicates(base, "doc_id", "text")
      .where(col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id"), lit(true).as("exact_dup")))

    // 2. near-dup clusters over the exact-canonical survivors (running it
    // on the full set would re-find every exact group as a near cluster).
    // exactKept (id, text) feeds three consumers: pair generation, the CC
    // node universe and the survivor filter. resolved (id, cluster, flag)
    // feeds the survivor filter and the final assembly. Both are stage
    // outputs a production funnel checkpoints anyway.
    val exactKept = stage(base.join(exactDrop, Seq("doc_id"), "left_anti"))
    // the pair list is a checkpoint of its own, and the component forest
    // built from it cuts it out of resolved's lineage: track it directly
    val pairs = Dedup.minhashLshPairs(exactKept, "doc_id", "text",
      cfg.ngram, cfg.numHashes, cfg.bandRows, cfg.minSim)
    made += pairs
    val resolved = stage(Dedup.resolveByComponents(exactKept, "doc_id",
        pairs.select(col("a_id"), col("b_id")))
      .select(col("doc_id"), col("cluster_id"), col("keep").as("near_keep")))

    // 3-5. map-side signals — over the stage-1/2 SURVIVORS only: at a
    // realistic 30-50% dup rate, scoring the full corpus would pay
    // 1.5-2x for documents already dropped. Dropped rows surface NULL
    // signals (their drop_reason is decided before these stages run).
    // The survivor corpus feeds the contamination and signal passes —
    // the dedup output IS the pipeline's checkpoint artifact.
    val survivors = stage(exactKept.join(
        resolved.where(col("near_keep")).select("doc_id"), Seq("doc_id"), "left_semi"))
    val contam = Dedup.contaminationFlags(survivors, bench, "doc_id", "text",
        cfg.decontamNgram, cfg.maxContamFrac)
      .select(col("doc_id"), col("contaminated_frac"),
        col("flagged").as("contaminated"))
    // lang / token-count / quality are all map-side expressions — ONE
    // projection pass over the survivor checkpoint, one join back
    val signals = survivors.select(col("doc_id"),
      TextAnalysis.langId(col("text")).as("lang"),
      TextAnalysis.bpeishTokenCount(col("text")).as("n_tokens"),
      TextAnalysis.qualityScore(col("text")).as("quality_score"))

    // one row per document without a join back to the corpus: the exact
    // drops plus the exact-kept documents, which resolveByComponents
    // keeps one-for-one
    val verdict = resolved.withColumn("exact_dup", lit(false))
      .unionByName(exactDrop, allowMissingColumns = true)
      .join(contam, Seq("doc_id"), "left")
      .join(signals, Seq("doc_id"), "left")
      .withColumn("drop_reason",
        when(coalesce(col("exact_dup"), lit(false)), "exact_duplicate")
          .when(!coalesce(col("near_keep"), lit(true)), "near_duplicate")
          .when(coalesce(col("contaminated"), lit(false)), "contaminated")
          .when(Option(cfg.lang).map(col("lang") =!= _).getOrElse(lit(false)),
            "wrong_language")
          .when(col("quality_score") < cfg.minQuality, "low_quality"))
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        col("contaminated_frac"),
        col("lang"), col("n_tokens"), col("quality_score"),
        col("drop_reason"), col("drop_reason").isNull.as("keep"))
    if (!eagerStages) verdict
    else {
      // materialize the narrow verdict, then free every checkpoint the
      // stages created — their own and those their operators left behind
      // (the pair list, the component forest). clearCache() reaches none
      // of them. The inputs' checkpoints, if any, are the caller's.
      val out = verdict.localCheckpoint(true)
      val inputs = (Checkpoints.rdds(corpus) ++ Checkpoints.rdds(benchmark))
        .map(_.id).toSet
      made.flatMap(Checkpoints.rdds).filterNot(r => inputs(r.id))
        .foreach(_.unpersist(blocking = false))
      out
    }
  }
}
