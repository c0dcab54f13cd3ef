package graft.api

import org.apache.spark.sql.{DataFrame, GraftSqlShims}
import org.apache.spark.sql.functions._

import graft.geo.ConnectedComponents
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
  *                          ([[Dedup.exactGroups]])
  *   2. near-dup resolve  — MinHash+LSH pairs → connected components →
  *                          per-cluster canonical keep
  *                          ([[Dedup.minhashLshPairs]],
  *                          [[graft.geo.ConnectedComponents.label]] with
  *                          [[Dedup.resolveByComponents]]' keep rule)
  *   3. decontamination   — n-gram overlap against the benchmark set
  *                          ([[Dedup.contaminationFlags]])
  *   4. language filter   — n-gram-heuristic language ID
  *                          ([[TextAnalysis.langId]])
  *   5. quality filter    — composite quality score
  *                          ([[TextAnalysis.qualityScore]])
  *
  * Stages 4 and 5 read one column: [[TextAnalysis.signals]], the native
  * kernel that computes the language, the token count and the quality
  * score from a single scan of each survivor's text.
  *
  * When document embeddings exist, [[graft.pipeline.Similarity.semanticDedup]]
  * slots in as a further dedup stage after step 2 (SemDeDup's published
  * placement: semantic duplicates survive both the exact and the n-gram
  * stages because paraphrases share no shingles).
  *
  * Scale shape (100 TB): every signal is computed map-side from the text
  * in the contamination screen's one pass over the survivors, and the
  * verdict is the union of two disjoint row sets (scored survivors and
  * dropped duplicates) — no join back assembles it. The dedup stages
  * inherit their operators' shapes (hash-only shuffles, band-key joins,
  * broadcast benchmark grams); the survivors' text shuffles once, to
  * spread the scoring. The near-dup keep-list and exact-dup membership
  * are the only shuffled artifacts proportional to the duplicated subset.
  *
  * Fixed cost: one call needs about 64 entries in Spark's codegen cache
  * (in local mode each whole-stage-codegen class takes two: the driver's
  * validation compile and the executor's). The cache holds 100 in four
  * LRU segments of 25, so a steady-state call compiles nothing as long
  * as no segment overflows; keep new stages inside that budget.
  * Downstream, `keep`
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
    * The call runs the funnel and returns the verdict as a local
    * checkpoint; every intermediate it materialized is freed before it
    * returns, and the caller frees the verdict with
    * `graft.util.Checkpoints.free`. The stages' own plans are the
    * executions [[graft.util.PlanCapture]] records for the call. */
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
    // the nested cached plans of every earlier stage. A stage's dataflow is
    // in the plan its localCheckpoint executed (`RunOne --explain` prints
    // it), not in the plans that read it.
    // what this call materializes, freed once the verdict is (below)
    val made = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def stage(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(true)
      made ++= Seq(df, c)
      c
    }

    // 1. exact duplicates: a document drops when its md5 group has a
    // smaller id. The groups (the duplicated subset's md5s) are a stage of
    // their own, so the flagging join plans as a broadcast from their
    // checkpoint's statistics and the corpus text does not shuffle.
    val groups = stage(Dedup.exactGroups(base, "doc_id", "text")
      .select(col("text_hash").as("group_hash"), col("canonical_id")))
    // one row per corpus document: plan over it with the corpus' size,
    // not the product estimate of the left join that built it
    val flagged = GraftSqlShims.withStatsOf(stage(base
      .join(groups, md5(col("text")) <=> col("group_hash"), "left")
      .select(col("doc_id"), col("text"),
        coalesce(col("canonical_id") =!= col("doc_id"), lit(false)).as("exact_dup"))),
      base)

    // 2. near-dup clusters over the exact-canonical survivors (running it
    // on the full set would re-find every exact group as a near cluster).
    // The pair list and the component labels are checkpoints of their
    // own: track them directly.
    val pairs = Dedup.minhashLshPairs(
      flagged.where(!col("exact_dup")).select(col("doc_id"), col("text")),
      "doc_id", "text", cfg.ngram, cfg.numHashes, cfg.bandRows, cfg.minSim)
    val labels = ConnectedComponents.label(corpus.sparkSession,
      pairs.select(col("a_id").as("a"), col("b_id").as("b")))
    made ++= Seq(pairs, labels)
    // Dedup.resolveByComponents' keep rule (canonical = component min;
    // exact drops are in no pair, so they are their own cluster), but the
    // text and the exact flag ride along: the survivors and the drops are
    // both filters of this one join, whose labels side is broadcast once
    // and reused — the labels carry their exact row count, so a small
    // labeling plans as a broadcast and the corpus does not shuffle.
    val resolved = flagged
      .join(labels, col("doc_id") === col("node"), "left")
      .select(col("doc_id"), col("text"), col("exact_dup"),
        coalesce(col("cluster"), col("doc_id")).as("cluster_id"))
    val survivor = !col("exact_dup") && col("doc_id") === col("cluster_id")

    // 3-5. decontamination and the map-side signals — over the stage-1/2
    // SURVIVORS only: at a realistic 30-50% dup rate, scoring the full
    // corpus would pay 1.5-2x for documents already dropped. The signals
    // struct (lang, token count, quality) rides through the contamination
    // screen's per-document count, so one pass scores a survivor
    // completely, with one kernel call.
    val scored = Dedup.contaminationFlags(resolved.where(survivor), bench,
        "doc_id", "text", cfg.decontamNgram, cfg.maxContamFrac,
        carry = Seq(TextAnalysis.signals(col("text")).as("signals")))
      .withColumn("drop_reason",
        when(col("flagged"), "contaminated")
          .when(Option(cfg.lang).map(col("signals.lang") =!= _).getOrElse(lit(false)),
            "wrong_language")
          .when(col("signals.quality_score") < cfg.minQuality, "low_quality"))
      .select(col("doc_id"), col("doc_id").as("cluster_id"),
        col("contaminated_frac"), col("signals.lang").as("lang"),
        col("signals.n_tokens").as("n_tokens"),
        col("signals.quality_score").as("quality_score"), col("drop_reason"))

    // one row per document, without a join: the scored survivors and the
    // dropped rows are disjoint and together cover the corpus. A dropped
    // row has NULL signals (its drop_reason is decided before those
    // stages run).
    val verdict = scored
      .unionByName(resolved.where(!survivor).select(col("doc_id"), col("cluster_id"),
          when(col("exact_dup"), "exact_duplicate").otherwise("near_duplicate")
            .as("drop_reason")),
        allowMissingColumns = true)
      .withColumn("keep", col("drop_reason").isNull)
    // materialize the narrow verdict, then free every checkpoint the
    // stages created — their own and those their operators left behind
    // (the pair list, the component labels). clearCache() reaches none
    // of them. The inputs' checkpoints, if any, are the caller's.
    val out = verdict.localCheckpoint(true)
    val inputs = (Checkpoints.rdds(corpus) ++ Checkpoints.rdds(benchmark))
      .map(_.id).toSet
    made.flatMap(Checkpoints.rdds).filterNot(r => inputs(r.id))
      .foreach(_.unpersist(blocking = false))
    out
  }
}
