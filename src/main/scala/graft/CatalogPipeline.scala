package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.pipeline.{Boilerplate, Dedup, Multimodal, Similarity, TextAnalysis}

/** Training-data pipeline operators (dedup / similarity search / multimodal
  * / text analysis) over the `documents` and `embeddings` tables.
  *
  * The synthetic corpus has no natural duplicates at small SF, so the dedup
  * queries run over `documents` unioned with a deterministic perturbed copy
  * (ids offset by 1,000,000): exact dedup gets identical copies, near-dup
  * gets copies with the last 3 words dropped. Both engines construct the
  * same corpus, so results stay oracle-checkable.
  */
object CatalogPipeline {

  private val IdOffset = 1000000L

  /** DuckDB rendering of [[graft.pipeline.PortableHash.poly]] + the simhash
    * mixing round over a word-list column `ws` (see PortableHash for why
    * every hash here is mod-1e9+7 integer math: the oracle reproduces
    * signatures, band keys, and LSH buckets bit-for-bit). */
  private def polyMixSql(base: Int, mult: Long, add: Long): String =
    s"""list_transform(ws, s -> (list_reduce(list_prepend(0::BIGINT,
       |         list_transform(range(length(s)),
       |           c -> ascii(substr(s, CAST(c + 1 AS INT), 1))::BIGINT)),
       |         (acc, x) -> (acc * $base + x) % 1000000007) * $mult + $add)
       |       % 1000000007)""".stripMargin

  /** DuckDB rendering of [[graft.pipeline.PortableHash.rhSignature]] over an
    * `embedding FLOAT[]` column: fixed-point quantize, integer dot with the
    * deterministic plane components, sign bits packed into `sig`. DuckDB
    * lambda indexes are 1-based, hence the (i - 1). */
  private val rhSigSql =
    """SELECT vec_id, embedding, CAST(list_sum(list_transform(range(8),
      |      j -> CASE WHEN coalesce(list_sum(list_transform(
      |             list_transform(embedding,
      |               x -> CAST(floor(x::DOUBLE * 1048576 + 0.5) AS BIGINT)),
      |             (x, i) -> x * (((j * 4096 + (i - 1)) * 2654435761 + 987654321)
      |                            % 1000000007 - 500000003))), 0) >= 0
      |           THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS sig""".stripMargin

  /** documents ∪ identical copy (exact-dup corpus). */
  private def exactCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text", "lang")
    docs.unionByName(docs.select((col("doc_id") + IdOffset).as("doc_id"),
      col("text"), col("lang")))
  }

  /** documents ∪ copy with last 3 words dropped (near-dup corpus). The
    * repartition spreads the interpreted perturbation expressions across
    * cores — documents.parquet is a single small file, so without it every
    * per-row array op runs in one or two scan tasks. */
  private def nearCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text", "lang")
      .repartition(s.sparkContext.defaultParallelism)
    val w = filter(split(col("text"), " "), x => x =!= "")
    docs.unionByName(docs.select((col("doc_id") + IdOffset).as("doc_id"),
      array_join(slice(w, lit(1), greatest(size(w) - 3, lit(1))), " ").as("text"),
      col("lang")))
  }

  /** DuckDB rendering of ivfTopK's cosScalar fold — `a` a REAL[] column,
    * `b` a DOUBLE[] centroid list: dot / (sqrt(na) * sqrt(nb)) with
    * per-element Float->Double widening, matching the Scala op order. */
  private def cosFoldSql(a: String, b: String): String =
    s"""(list_sum(list_transform(range(len($a)), i -> $a[i+1]::DOUBLE * $b[i+1]))
       | / (sqrt(list_sum(list_transform(range(len($a)), i -> $a[i+1]::DOUBLE * $a[i+1]::DOUBLE)))
       |  * sqrt(list_sum(list_transform(range(len($a)), i -> $b[i+1] * $b[i+1])))))""".stripMargin

  /** DuckDB rendering of [[graft.pipeline.Similarity]]'s sample-trained
    * IVF quantizer as a CTE chain over source relation `src` (must expose
    * vec_id, embedding): sample = 256 lowest-id vectors, seeds = first
    * 16, one Lloyd step folded in vec_id order (aggregate SUM would be
    * order-nondeterministic), empty cells keep their seed; cell argmax
    * uses the unrounded cosScalar fold. Shared by the p13/p25/p30
    * oracles. */
  private def ivfCentsSql(src: String): String =
    s"""samp AS (SELECT vec_id, embedding FROM $src ORDER BY vec_id LIMIT 256),
       |seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |                 list_transform(embedding, x -> x::DOUBLE) AS c
       |          FROM (SELECT * FROM samp ORDER BY vec_id LIMIT 16)),
       |sassign AS (SELECT s.vec_id, s.embedding,
       |              (SELECT cell FROM (
       |                 SELECT sd.cell, ${cosFoldSql("s.embedding", "sd.c")} AS sim FROM seeds sd)
       |               ORDER BY sim DESC, cell LIMIT 1) AS cell
       |            FROM samp s),
       |cmean AS (SELECT cell, cnt,
       |            list_transform(range(d), i ->
       |              list_sum(list_transform(vals, v -> v[i+1]::DOUBLE)) / cnt) AS c
       |          FROM (SELECT cell, list(embedding ORDER BY vec_id) AS vals,
       |                       count(*) AS cnt, len(first(embedding)) AS d
       |                FROM sassign GROUP BY cell)),
       |cents AS (SELECT s.cell, coalesce(m.c, s.c) AS c
       |          FROM seeds s LEFT JOIN cmean m USING (cell))""".stripMargin

  /** DuckDB rendering of [[graft.pipeline.Similarity]]'s sample-trained
    * product quantizer (m=8 subspaces × ksub=16 codewords over 64 dims)
    * plus the corpus-side PQ encode/reconstruct, mirroring trainPq /
    * ivfPqTopK op-for-op: seeds = lowest-id sample subvectors, L2
    * assignment with (dist ASC, code ASC) tie-break, one Lloyd step
    * folded in vec_id order, empty codes keep their seed; `pdq` is the
    * reconstructed vector (codebook rows concatenated in subspace
    * order). Needs `samp` (ivfCentsSql) and `corp` (ivfProbeSql) in
    * scope. MATERIALIZED: the correlated argmins reference their
    * codebook CTEs many times. */
  private val pqCodebookSql =
    """pseeds AS MATERIALIZED (
      |  SELECT t.s AS s,
      |         CAST(row_number() OVER (PARTITION BY t.s ORDER BY q.vec_id) - 1 AS BIGINT) AS code,
      |         list_transform(range(8), iw -> q.embedding[CAST(t.s*8 + iw + 1 AS INT)]::DOUBLE) AS cbv
      |  FROM (SELECT * FROM samp ORDER BY vec_id LIMIT 16) q, range(8) t(s)),
      |psub AS MATERIALIZED (
      |  SELECT p.vec_id, t.s AS s,
      |         list_transform(range(8), iw -> p.embedding[CAST(t.s*8 + iw + 1 AS INT)]::DOUBLE) AS sub
      |  FROM samp p, range(8) t(s)),
      |passign AS MATERIALIZED (
      |  SELECT a.vec_id, a.s, a.sub,
      |         (SELECT code FROM (
      |            SELECT sd.code, list_sum(list_transform(range(len(a.sub)), iw ->
      |              (a.sub[iw+1] - sd.cbv[iw+1]) * (a.sub[iw+1] - sd.cbv[iw+1]))) AS dist
      |            FROM pseeds sd WHERE sd.s = a.s)
      |          ORDER BY dist ASC, code ASC LIMIT 1) AS code
      |  FROM psub a),
      |pmean AS (SELECT s, code, list_transform(range(8), iw ->
      |            list_sum(list_transform(vals, v -> v[iw+1])) / cnt) AS cbv
      |          FROM (SELECT s, code, list(sub ORDER BY vec_id) AS vals, count(*) AS cnt
      |                FROM passign GROUP BY s, code)),
      |pcb AS MATERIALIZED (SELECT sd.s, sd.code, coalesce(pm.cbv, sd.cbv) AS cbv
      |       FROM pseeds sd LEFT JOIN pmean pm ON pm.s = sd.s AND pm.code = sd.code),
      |csub AS MATERIALIZED (
      |  SELECT c.neighbor_id, c.cell, t.s AS s,
      |         list_transform(range(8), iw -> c.c_vec[CAST(t.s*8 + iw + 1 AS INT)]::DOUBLE) AS sub
      |  FROM corp c, range(8) t(s)),
      |cenc AS MATERIALIZED (
      |  SELECT a.neighbor_id, a.cell, a.s,
      |         (SELECT code FROM (
      |            SELECT sd.code, list_sum(list_transform(range(len(a.sub)), iw ->
      |              (a.sub[iw+1] - sd.cbv[iw+1]) * (a.sub[iw+1] - sd.cbv[iw+1]))) AS dist
      |            FROM pcb sd WHERE sd.s = a.s)
      |          ORDER BY dist ASC, code ASC LIMIT 1) AS code
      |  FROM csub a),
      |pdq AS MATERIALIZED (
      |  SELECT e.neighbor_id, e.cell, flatten(list(b.cbv ORDER BY e.s)) AS dq
      |  FROM cenc e JOIN pcb b ON b.s = e.s AND b.code = e.code
      |  GROUP BY e.neighbor_id, e.cell)""".stripMargin

  /** Residual form of [[pqCodebookSql]] (FAISS `by_residual=true`, the
    * p35 oracle): the codebooks train on, and the codes quantize,
    * `v − centroid(cell(v))`; reconstruction adds the centroid back.
    * Needs `samp`, `cents` (ivfCentsSql) and `corp` (ivfProbeSql) in
    * scope; sample cells come from `corp` itself (samp ⊆ embeddings). */
  private val pqResCodebookSql =
    """rsamp AS MATERIALIZED (
      |  SELECT s.vec_id,
      |         list_transform(range(64), i -> s.embedding[i+1]::DOUBLE - cn.c[i+1]) AS r
      |  FROM samp s JOIN corp co ON co.neighbor_id = s.vec_id
      |              JOIN cents cn ON cn.cell = co.cell),
      |rpseeds AS MATERIALIZED (
      |  SELECT t.s AS s,
      |         CAST(row_number() OVER (PARTITION BY t.s ORDER BY q.vec_id) - 1 AS BIGINT) AS code,
      |         list_transform(range(8), iw -> q.r[CAST(t.s*8 + iw + 1 AS INT)]) AS cbv
      |  FROM (SELECT * FROM rsamp ORDER BY vec_id LIMIT 16) q, range(8) t(s)),
      |rpsub AS MATERIALIZED (
      |  SELECT p.vec_id, t.s AS s,
      |         list_transform(range(8), iw -> p.r[CAST(t.s*8 + iw + 1 AS INT)]) AS sub
      |  FROM rsamp p, range(8) t(s)),
      |rpassign AS MATERIALIZED (
      |  SELECT a.vec_id, a.s, a.sub,
      |         (SELECT code FROM (
      |            SELECT sd.code, list_sum(list_transform(range(len(a.sub)), iw ->
      |              (a.sub[iw+1] - sd.cbv[iw+1]) * (a.sub[iw+1] - sd.cbv[iw+1]))) AS dist
      |            FROM rpseeds sd WHERE sd.s = a.s)
      |          ORDER BY dist ASC, code ASC LIMIT 1) AS code
      |  FROM rpsub a),
      |rpmean AS (SELECT s, code, list_transform(range(8), iw ->
      |            list_sum(list_transform(vals, v -> v[iw+1])) / cnt) AS cbv
      |          FROM (SELECT s, code, list(sub ORDER BY vec_id) AS vals, count(*) AS cnt
      |                FROM rpassign GROUP BY s, code)),
      |rpcb AS MATERIALIZED (SELECT sd.s, sd.code, coalesce(pm.cbv, sd.cbv) AS cbv
      |       FROM rpseeds sd LEFT JOIN rpmean pm ON pm.s = sd.s AND pm.code = sd.code),
      |rcsub AS MATERIALIZED (
      |  SELECT c.neighbor_id, c.cell, t.s AS s,
      |         list_transform(range(8), iw ->
      |           c.c_vec[CAST(t.s*8 + iw + 1 AS INT)]::DOUBLE
      |             - cn.c[CAST(t.s*8 + iw + 1 AS INT)]) AS sub
      |  FROM corp c JOIN cents cn ON cn.cell = c.cell CROSS JOIN range(8) t(s)),
      |rcenc AS MATERIALIZED (
      |  SELECT a.neighbor_id, a.cell, a.s,
      |         (SELECT code FROM (
      |            SELECT sd.code, list_sum(list_transform(range(len(a.sub)), iw ->
      |              (a.sub[iw+1] - sd.cbv[iw+1]) * (a.sub[iw+1] - sd.cbv[iw+1]))) AS dist
      |            FROM rpcb sd WHERE sd.s = a.s)
      |          ORDER BY dist ASC, code ASC LIMIT 1) AS code
      |  FROM rcsub a),
      |rflat AS MATERIALIZED (
      |  SELECT e.neighbor_id, e.cell, flatten(list(b.cbv ORDER BY e.s)) AS fl
      |  FROM rcenc e JOIN rpcb b ON b.s = e.s AND b.code = e.code
      |  GROUP BY e.neighbor_id, e.cell),
      |rpdq AS MATERIALIZED (
      |  SELECT f.neighbor_id, f.cell,
      |         list_transform(range(64), i -> cn.c[i+1] + f.fl[i+1]) AS dq
      |  FROM rflat f JOIN cents cn ON cn.cell = f.cell)""".stripMargin

  /** DuckDB rendering of [[graft.pipeline.Quantize.trainMinMax]] over the
    * embeddings table as a CTE pair (sqstats: per-dim min/max; rng: the
    * los/his range lists). Shared by the p27/p30 oracles. */
  private val sqRangesSql =
    """sqstats AS (
      |  SELECT i, min(embedding[i+1]::DOUBLE) AS lo,
      |         max(embedding[i+1]::DOUBLE) AS hi
      |  FROM embeddings, range(64) t(i) GROUP BY i),
      |rng AS (SELECT list(lo ORDER BY i) AS los,
      |               list(hi ORDER BY i) AS his FROM sqstats)""".stripMargin

  /** p13's corpus-assignment + query-probe CTEs over `embeddings` and the
    * shared `cents` relation: corp (cell per corpus vector) and qp
    * (nprobe=4 probed cells per query, queries = vec_id < 5). Shared by
    * the p13/p30 oracles. */
  private lazy val ivfProbeSql =
    s"""corp AS (SELECT e.vec_id AS neighbor_id, e.embedding AS c_vec,
       |           (SELECT cell FROM (
       |              SELECT cn.cell, ${cosFoldSql("e.embedding", "cn.c")} AS sim FROM cents cn)
       |            ORDER BY sim DESC, cell LIMIT 1) AS cell
       |         FROM embeddings e),
       |qp AS (SELECT vec_id AS query_id, embedding AS q_vec, cell FROM (
       |         SELECT e.vec_id, e.embedding, cn.cell,
       |                row_number() OVER (PARTITION BY e.vec_id
       |                  ORDER BY ${cosFoldSql("e.embedding", "cn.c")} DESC, cn.cell) AS pr
       |         FROM embeddings e CROSS JOIN cents cn WHERE e.vec_id < 5)
       |       WHERE pr <= 4)""".stripMargin

  /** DuckDB rendering of the [[TextAnalysis.qualityScore]] feature CTEs
    * (f: raw counts, r: ratios) and the composite-score expression over
    * r's columns — shared by the p10 and p29 oracles so the formula
    * lives in exactly one SQL place. */
  private val qualityFeatureCtes =
    """f AS (
      |  SELECT doc_id, source,
      |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_words,
      |    length(text) AS n_chars,
      |    len(list_filter(string_split(text, ' '),
      |      x -> x IN ('the','a','of','to','and','in','is'))) AS stop_hits,
      |    len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS punct_hits
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source, n_words, n_chars,
      |    CASE WHEN n_words > 0 THEN (n_chars - (n_words - 1))::DOUBLE / n_words ELSE 0 END AS awl,
      |    CASE WHEN n_words > 0 THEN stop_hits::DOUBLE / n_words ELSE 0 END AS sr,
      |    CASE WHEN n_chars > 0 THEN punct_hits::DOUBLE / n_chars ELSE 0 END AS pr
      |  FROM f)""".stripMargin

  private val qualityScoreSql =
    """round(greatest(0.0, least(1.0,
      |    least(n_words / 100.0, 1.0) * 0.4 + least(sr * 5.0, 1.0) * 0.3 +
      |    least(awl / 8.0, 1.0) * 0.3 - pr)), 6)""".stripMargin

  private val exactCorpusSql =
    """SELECT doc_id, text, lang FROM documents
      |UNION ALL SELECT doc_id + 1000000, text, lang FROM documents""".stripMargin

  private val nearCorpusSql =
    """SELECT doc_id, text, lang FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000,
      |       array_to_string(w[1:greatest(len(w)-3, 1)], ' ') AS text, lang
      |FROM (SELECT doc_id, lang,
      |        list_filter(string_split(text, ' '), x -> x <> '') AS w
      |      FROM documents)""".stripMargin

  // ---- dedup ---------------------------------------------------------------

  private def p1(s: SparkSession, d: String): DataFrame =
    Dedup.exactDuplicates(exactCorpus(s, d), "doc_id", "text")
      .orderBy("doc_id")

  private def p2(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(nearCorpus(s, d), "doc_id", "text",
        bucketCol = "lang", n = 2, minSim = 0.8)
      .orderBy("a_id", "b_id")

  private def p3(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLshPairs(nearCorpus(s, d), "doc_id", "text",
        n = 2, numHashes = 64, bandRows = 4, minSim = 0.8)
      .orderBy("a_id", "b_id")

  private def p4(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(nearCorpus(s, d), "doc_id", "text", maxDist = 3)
      .orderBy("a_id", "b_id")

  // ---- similarity search ---------------------------------------------------

  private def p5(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(e, e.where(col("vec_id") < 5), "vec_id", "embedding", 10)
      .orderBy("query_id", "rank")
  }

  private def p6(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.lshTopK(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, numPlanes = 8)
      .orderBy("query_id", "rank")
  }

  private def p13(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.ivfTopK(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, nlist = 16, nprobe = 4)
      .orderBy("query_id", "rank")
  }

  /** IVF+SQ8 ANN ([[graft.pipeline.Similarity.ivfSq8TopK]]): p13's cell
    * structure with the inverted lists stored as int8 codes and scored by
    * on-the-fly dequantization. */
  private def p30(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.ivfSq8TopK(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, nlist = 16, nprobe = 4, dims = 64)
      .orderBy("query_id", "rank")
  }

  /** Full-corpus distributed Lloyd k-means
    * ([[graft.pipeline.Clustering.kmeans]]): 3 iterations, k=8, from
    * lowest-id seeds — fixed-point sums make every mean bit-identical
    * across partitionings, so assignments are oracle-exact. */
  private def p34(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Clustering.kmeans(Tables.embeddings(s, d), "vec_id",
        "embedding", k = 8, iters = 3)
      .orderBy("vec_id")

  /** IVF+PQ ANN ([[graft.pipeline.Similarity.ivfPqTopK]]): p13's cells
    * with 8-subspace × 16-codeword product-quantized inverted lists
    * (production shape: ksub=256 → 8 bytes/vector). */
  private def p32(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.ivfPqTopK(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, nlist = 16, nprobe = 4, m = 8, ksub = 16, dims = 64)
      .orderBy("query_id", "rank")
  }

  /** DSIR data selection ([[graft.pipeline.Dsir.topKByImportance]]):
    * English seed set as target, top-100 of the corpus by hashed-ngram
    * log importance weight. */
  private def p39(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Dsir.topKByImportance(Tables.documents(s, d), "doc_id",
        "text", col("lang") === "en", k = 100)
      .orderBy("rank")

  /** BM25 query-driven ranking ([[graft.pipeline.Retrieval.bm25TopK]]):
    * three topic-seed queries over the documents table, top-10 each. */
  private def p38(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val queries = Seq((1, "table scan fast"), (2, "spark window agg"),
      (3, "customer query value")).toDF("query_id", "query_text")
    graft.pipeline.Retrieval.bm25TopK(Tables.documents(s, d), queries,
        "doc_id", "text", k = 10)
      .orderBy("query_id", "rank")
  }

  /** Hybrid retrieval ([[graft.pipeline.Retrieval.rrfFuse]]):
    * query-by-example over the first five documents — BM25 on their
    * text (self-match dropped, then re-ranked) fused with exact
    * embedding-cosine neighbors by reciprocal-rank fusion. The two
    * systems genuinely disagree (lexical overlap vs embedding geometry),
    * so the fused list is a real reordering of both. */
  private def p61(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val e = Tables.embeddings(s, d)
    val probes = docs.where(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("text").as("query_text"))
    // k = 21 then drop the self-match and re-rank: every query keeps a
    // full 20 lexical neighbors whether or not it ranked itself first
    val lex = graft.pipeline.Retrieval.bm25TopK(docs, probes, "doc_id", "text", k = 21)
      .where(col("doc_id") =!= col("query_id"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))))
      .where(col("rank") <= 20)
    val dense = Similarity.bruteForceTopK(e, e.where(col("vec_id") < 5),
        "vec_id", "embedding", 20)
      .withColumnRenamed("neighbor_id", "doc_id")
    graft.pipeline.Retrieval.rrfFuse(lex, dense, k = 10)
      .select(col("query_id"), col("doc_id"), col("lex_rank"),
        col("dense_rank"), col("rrf"), col("rank"))
      .orderBy("query_id", "rank")
  }

  private val hybridRrfOracleSql =
    """WITH terms AS (SELECT doc_id, word AS term, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(list_filter(string_split(text, ' '),
      |      x -> x <> '')) AS word FROM documents)
      |  GROUP BY doc_id, word),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM terms GROUP BY doc_id),
      |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
      |dft AS (SELECT term, count(*) AS df FROM terms GROUP BY term),
      |q AS (SELECT doc_id AS query_id, text AS query_text
      |      FROM documents WHERE doc_id < 5),
      |qt AS (SELECT query_id, unnest(list_distinct(list_filter(
      |         string_split(query_text, ' '), x -> x <> ''))) AS term FROM q),
      |p AS (SELECT qt.query_id, t.doc_id, t.term,
      |        ln(1.0 + (s.n::DOUBLE - d.df + 0.5) / (d.df + 0.5))
      |          * t.tf * (1.2 + 1.0)
      |          / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) AS part
      |      FROM terms t JOIN dl l USING (doc_id) JOIN dft d USING (term)
      |           JOIN qt ON qt.term = t.term, stats s),
      |g AS (SELECT query_id, doc_id,
      |        round(list_sum(list(part ORDER BY term)), 6) AS score
      |      FROM p GROUP BY query_id, doc_id),
      |l0 AS (SELECT query_id, doc_id, score,
      |         row_number() OVER (PARTITION BY query_id
      |           ORDER BY score DESC, doc_id) AS r0
      |       FROM g),
      |l1 AS (SELECT query_id, doc_id, score FROM l0
      |       WHERE r0 <= 21 AND doc_id <> query_id),
      |lex AS (SELECT query_id, doc_id,
      |          CAST(row_number() OVER (PARTITION BY query_id
      |            ORDER BY score DESC, doc_id) AS INT) AS lex_rank
      |        FROM l1 QUALIFY lex_rank <= 20),
      |qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
      |       FROM embeddings WHERE vec_id < 5),
      |ds AS (SELECT qv.query_id, e.vec_id AS doc_id,
      |         round(list_cosine_similarity(qv.v, e.embedding::DOUBLE[]), 6) AS sim
      |       FROM embeddings e CROSS JOIN qv
      |       WHERE e.vec_id <> qv.query_id),
      |dense AS (SELECT query_id, doc_id,
      |            CAST(row_number() OVER (PARTITION BY query_id
      |              ORDER BY sim DESC, doc_id) AS INT) AS dense_rank
      |          FROM ds QUALIFY dense_rank <= 20),
      |f AS (SELECT coalesce(l.query_id, d.query_id) AS query_id,
      |        coalesce(l.doc_id, d.doc_id) AS doc_id,
      |        l.lex_rank, d.dense_rank,
      |        round(coalesce(1.0::DOUBLE / (60 + l.lex_rank), 0.0)
      |              + coalesce(1.0::DOUBLE / (60 + d.dense_rank), 0.0), 9) AS rrf
      |      FROM lex l FULL OUTER JOIN dense d
      |        ON l.query_id = d.query_id AND l.doc_id = d.doc_id)
      |SELECT query_id, doc_id, lex_rank, dense_rank, rrf, rank FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY rrf DESC, doc_id) AS INT) AS rank FROM f)
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** MMR diversified re-ranking ([[graft.pipeline.Similarity.mmrTopK]]):
    * 4-of-12 greedy selection per query at λ = 0.7 over the embedding
    * corpus — the retrieval→context-window diversification step. */
  private def p62(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.mmrTopK(e, e.where(col("vec_id") < 3), "vec_id", "embedding",
        candK = 12, k = 4, lambda = 0.7)
      .orderBy("query_id", "sel_rank")
  }

  /** The p62 oracle: the greedy loop unrolled — per round, the argmax of
    * `λ·rel − (1−λ)·max sim-to-selected` over the not-yet-selected
    * candidates. `a0` is an empty seed so every round has the same
    * shape; `1.0 − 0.7` is COMPUTED in both engines (a hand-typed 0.3
    * is a different double). */
  private def mmrOracleSql(k: Int): String = {
    val rounds = (1 to k).map { r =>
      s"""s$r AS MATERIALIZED (SELECT query_id, doc_id, $r AS sel_rank, mmr_raw FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY mmr_raw DESC, doc_id) AS rn FROM (
         |    SELECT c.query_id, c.doc_id,
         |      0.7::DOUBLE * c.rel - (1.0::DOUBLE - 0.7::DOUBLE)
         |        * coalesce(m.maxsim, 0.0::DOUBLE) AS mmr_raw
         |    FROM cand c
         |    LEFT JOIN (SELECT p.query_id, p.a_id, max(p.dsim) AS maxsim
         |               FROM pair p JOIN a${r - 1} s
         |                 ON s.query_id = p.query_id AND s.doc_id = p.b_id
         |               GROUP BY p.query_id, p.a_id) m
         |      ON m.query_id = c.query_id AND m.a_id = c.doc_id
         |    WHERE NOT EXISTS (SELECT 1 FROM a${r - 1} s
         |      WHERE s.query_id = c.query_id AND s.doc_id = c.doc_id)))
         |  WHERE rn = 1),
         |a$r AS MATERIALIZED (SELECT * FROM a${r - 1} UNION ALL SELECT * FROM s$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
       |            FROM embeddings WHERE vec_id < 3),
       |sc AS (SELECT qv.query_id, e.vec_id AS doc_id,
       |         round(list_cosine_similarity(qv.v, e.embedding::DOUBLE[]), 6) AS rel
       |       FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> qv.query_id),
       |cand AS MATERIALIZED (SELECT query_id, doc_id, rel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, doc_id) AS rn FROM sc)
       |  WHERE rn <= 12),
       |cv AS MATERIALIZED (SELECT c.query_id, c.doc_id, e.embedding::DOUBLE[] AS v
       |      FROM cand c JOIN embeddings e ON e.vec_id = c.doc_id),
       |pair AS MATERIALIZED (SELECT a.query_id, a.doc_id AS a_id,
       |        b.doc_id AS b_id, round(list_cosine_similarity(a.v, b.v), 6) AS dsim
       |      FROM cv a JOIN cv b
       |        ON a.query_id = b.query_id AND a.doc_id <> b.doc_id),
       |a0 AS (SELECT query_id, doc_id, 0 AS sel_rank, 0.0::DOUBLE AS mmr_raw
       |       FROM cand WHERE 1 = 0),
       |$rounds
       |SELECT query_id, doc_id, CAST(sel_rank AS INT) AS sel_rank,
       |       round(mmr_raw, 9) AS mmr
       |FROM a$k ORDER BY query_id, sel_rank""".stripMargin
  }

  /** Multinomial Naive Bayes language classifier
    * ([[graft.pipeline.NaiveBayes.trainPredict]]): trained and applied
    * on the documents table (predicting `lang` from text) — the
    * deterministic closed-form member of the fastText-classifier family
    * every curation pipeline runs. Same 50-word vocab + unk convention
    * as p22/p58. */
  private def p63(s: SparkSession, d: String): DataFrame =
    graft.pipeline.NaiveBayes.trainPredict(
        Tables.documents(s, d), "doc_id", "text", "lang", vocabK = 50)
      .orderBy("doc_id")

  /** The p63 CTE chain, shared with the p74 eval oracle. */
  private val naiveBayesCteSql =
    """WITH t AS (SELECT doc_id, lang,
      |         list_filter(string_split(text, ' '), x -> x <> '') AS ws
      |       FROM documents),
      |tk0 AS (SELECT doc_id, lang, unnest(list_transform(range(len(ws)),
      |          i -> {'pos': i, 'w': ws[CAST(i + 1 AS INT)]})) AS u
      |        FROM t),
      |tok AS (SELECT doc_id, lang, u.pos AS pos, u.w AS w FROM tk0),
      |wc AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w),
      |vocab AS (SELECT w FROM (
      |    SELECT w, row_number() OVER (ORDER BY cnt DESC, w) AS rn FROM wc)
      |  WHERE rn <= 50),
      |m AS (SELECT doc_id, lang, pos,
      |        CASE WHEN w IN (SELECT w FROM vocab) THEN w ELSE '' END AS tok
      |      FROM tok),
      |cls AS (SELECT lang AS c, count(*) AS n_docs FROM documents GROUP BY lang),
      |n AS (SELECT count(*) AS n FROM documents),
      |ct AS (SELECT lang AS c, tok, count(*) AS cnt FROM m GROUP BY lang, tok),
      |tc AS (SELECT c, sum(cnt) AS t_c FROM ct GROUP BY c),
      |v AS (SELECT count(DISTINCT tok) AS v FROM m),
      |terms AS (SELECT m.doc_id, cl.c, m.pos,
      |    ln((coalesce(ct.cnt, 0) + 1)::DOUBLE / (tc.t_c + v.v)::DOUBLE) AS term
      |  FROM m CROSS JOIN (SELECT c FROM cls) cl
      |  LEFT JOIN ct ON ct.c = cl.c AND ct.tok = m.tok
      |  JOIN tc ON tc.c = cl.c, v),
      |sums AS (SELECT doc_id, c, list_sum(list(term ORDER BY pos)) AS lsum
      |         FROM terms GROUP BY doc_id, c),
      |fr AS (SELECT d.doc_id, d.lang, cl.c,
      |         ln(cl.n_docs::DOUBLE / n.n::DOUBLE)
      |           + coalesce(s.lsum, 0.0::DOUBLE) AS logp
      |       FROM documents d CROSS JOIN cls cl
      |       LEFT JOIN sums s ON s.doc_id = d.doc_id AND s.c = cl.c, n),
      |r AS (SELECT doc_id, lang, c, logp, row_number() OVER (
      |        PARTITION BY doc_id ORDER BY logp DESC, c) AS rn
      |      FROM fr)""".stripMargin

  private val naiveBayesOracleSql =
    s"""$naiveBayesCteSql
       |SELECT doc_id, lang, c AS pred, round(logp, 6) AS logp
       |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** The p74 oracle: the p63 chain, argmax'd, then per-class exact
    * confusion counts and the identical CASE-guarded ratio shapes. */
  private val classifierEvalOracleSql =
    s"""$naiveBayesCteSql,
       |pr AS (SELECT doc_id, lang AS truth, c AS pred FROM r WHERE rn = 1),
       |cl AS (SELECT DISTINCT truth AS cls FROM pr
       |       UNION SELECT DISTINCT pred FROM pr),
       |tpx AS (SELECT truth AS cls, count(*) AS tp FROM pr
       |        WHERE truth = pred GROUP BY truth),
       |fpx AS (SELECT pred AS cls, count(*) AS fp FROM pr
       |        WHERE truth <> pred GROUP BY pred),
       |fnx AS (SELECT truth AS cls, count(*) AS fn FROM pr
       |        WHERE truth <> pred GROUP BY truth),
       |jj AS (SELECT cl.cls,
       |         coalesce(tp, 0)::BIGINT AS tp, coalesce(fp, 0)::BIGINT AS fp,
       |         coalesce(fn, 0)::BIGINT AS fn
       |       FROM cl LEFT JOIN tpx USING (cls) LEFT JOIN fpx USING (cls)
       |            LEFT JOIN fnx USING (cls)),
       |mm AS (SELECT cls, tp, fp, fn,
       |  CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp)
       |       ELSE 0.0 END AS p,
       |  CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn)
       |       ELSE 0.0 END AS rr
       |  FROM jj)
       |SELECT cls, tp, fp, fn, round(p, 6) AS prec, round(rr, 6) AS recall,
       |  round(CASE WHEN p + rr > 0 THEN 2.0 * p * rr / (p + rr)
       |        ELSE 0.0 END, 6) AS f1
       |FROM mm ORDER BY cls""".stripMargin

  /** Gopher quality rules ([[graft.pipeline.QualityRules.gopherRules]])
    * over the raw documents (minWords lowered to 10 so the synthetic
    * short-doc corpus exercises both branches of the flag). */
  private def p36(s: SparkSession, d: String): DataFrame =
    graft.pipeline.QualityRules.gopherRules(
        Tables.documents(s, d), "doc_id", "text", minWords = 10)
      .orderBy("doc_id")

  /** C4 cleaning rules ([[graft.pipeline.QualityRules.c4Rules]]). */
  private def p37(s: SparkSession, d: String): DataFrame =
    graft.pipeline.QualityRules.c4Rules(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  /** TF-IDF keyword extraction ([[graft.pipeline.Retrieval.tfidfKeywords]]):
    * top-3 terms per document — the query-free corpus-labeling
    * counterpart of p38's BM25 retrieval. */
  private def p40(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Retrieval.tfidfKeywords(Tables.documents(s, d),
        "doc_id", "text", k = 3)
      .orderBy("doc_id", "rank")

  /** Random-sign projection ([[graft.pipeline.Projection.project]]):
    * 64-dim embeddings down to 16, exploded (vec_id, j, val). */
  private def p41(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Projection.project(Tables.embeddings(s, d),
        "vec_id", "embedding", outDims = 16)
      .orderBy("vec_id", "j")

  /** Paragraph dedup ([[graft.pipeline.Dedup.paragraphDedup]]) over the
    * near-dup corpus: the perturbed copy shares every full 12-word
    * window with its original, so its paragraphs dedup away and the
    * rebuilt copies shrink. */
  private def p43(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Dedup.paragraphDedup(nearCorpus(s, d), "doc_id", "text",
        paraWords = 12)
      .orderBy("doc_id")

  /** Distributed Gram matrix ([[graft.pipeline.Projection.gramMatrix]]):
    * the PCA reduce step over the embeddings, upper triangle. */
  private def p45(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Projection.gramMatrix(Tables.embeddings(s, d), "embedding")
      .orderBy("i", "j")

  /** PageRank centrality ([[graft.graph.PageRank]]) over the bipartite
    * customer↔supplier trade graph (edges: distinct (cust, supp) pairs
    * with a lineitem, both directions; node ids disambiguated as 2k /
    * 2k+1) — the corpus-curation domain-ranking shape run on the graph
    * this dataset actually has. 5 iterations, 2^20 fixed-point units. */
  private def p46(s: SparkSession, d: String): DataFrame =
    graft.graph.PageRank.ranks(tradeEdges(s, d), "src", "dst", iterations = 5)
      .select(col("node"), round(col("rank") / lit(1048576.0), 6).as("rank"))
      .orderBy("node")

  /** The p46/p49 shared graph: bidirectional customer↔supplier edges,
    * one per distinct (cust, supp) pair with a lineitem; node ids
    * disambiguated as 2k (customers) / 2k+1 (suppliers). */
  private def tradeEdges(s: SparkSession, d: String): DataFrame = {
    val e0 = Tables.orders(s, d)
      .select(col("o_orderkey"), (col("o_custkey") * 2).as("src"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"),
          (col("l_suppkey") * 2 + 1).as("dst")),
        col("o_orderkey") === col("l_orderkey"))
      .select("src", "dst").distinct()
    e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Label-propagation communities ([[graft.graph.LabelPropagation]])
    * over the trade graph: 4 synchronous rounds, self-vote damped,
    * (count desc, label asc) deterministic argmax. */
  private def p49(s: SparkSession, d: String): DataFrame =
    graft.graph.LabelPropagation.run(tradeEdges(s, d), "src", "dst", rounds = 4)
      .orderBy("node")

  /** Shared CTE prefix rendering the trade graph in DuckDB. */
  private val tradeEdgesSqlPrefix =
    """e0 AS MATERIALIZED (
      |  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      |ed AS MATERIALIZED (
      |  SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0)""".stripMargin

  /** The p49 oracle: the same synchronous recurrence unrolled — per
    * round, neighbor votes ∪ self-vote, counted, then the
    * (count desc, label asc) argmax per node. */
  private def lpaOracleSql(rounds: Int): String = {
    val chain = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |           row_number() OVER (PARTITION BY node
         |             ORDER BY c DESC, label) AS rn
         |    FROM (SELECT node, label, count(*) AS c
         |          FROM (SELECT ed.dst AS node, l.label
         |                FROM ed JOIN l${i - 1} l ON ed.src = l.node
         |                UNION ALL SELECT node, label FROM l${i - 1})
         |          GROUP BY node, label))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $tradeEdgesSqlPrefix,
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM ed),
       |$chain
       |SELECT node, label FROM l$rounds ORDER BY node""".stripMargin
  }

  /** The p50 graph: distinct part pairs co-occurring in an order — the
    * sparse, non-bipartite, triangle-rich graph this dataset offers
    * (2000 nodes / ~116k edges at sf0.01; the trade graph is bipartite
    * and so triangle-free). The per-order self-join is bounded by order
    * size (≤ 7 lineitems), never quadratic in the table. */
  private def partEdges(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
  }

  /** Triangle participation counts ([[graft.graph.Triangles]]) over the
    * part co-occurrence graph — degree-ordered (Suri–Vassilvitskii)
    * enumeration; the oracle's naive id-ordered triple join reproduces
    * the same exact counts. */
  private def p50(s: SparkSession, d: String): DataFrame =
    graft.graph.Triangles.perNode(partEdges(s, d), "u", "v").orderBy("node")

  private val trianglesOracleSql =
    """WITH e AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |      FROM e e1 JOIN e e2 ON e2.u = e1.v
      |                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |x AS (SELECT a AS node FROM t
      |      UNION ALL SELECT b FROM t UNION ALL SELECT c FROM t)
      |SELECT node, count(*) AS triangles FROM x
      |GROUP BY node ORDER BY node""".stripMargin

  /** Weighted reservoir sample ([[graft.pipeline.Sampling.weightedSample]]):
    * 10 documents per language, weight = n_chars — the length-
    * proportional per-stratum draw a mixture builder uses for eval and
    * inspection cuts. */
  private def p51(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Sampling.weightedSample(
        Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
        "lang", "doc_id", col("n_chars"), k = 10)
      .orderBy("lang", "pri", "doc_id")

  private val weightedSampleOracleSql =
    """WITH w AS (
      |  SELECT doc_id, lang, n_chars,
      |    round(-ln(CAST(doc_id % 1000000007 * 2654435761 % 1000000007 + 1
      |                   AS DOUBLE) / 1000000007.0) / n_chars, 9) AS pri
      |  FROM documents WHERE n_chars > 0),
      |r AS (SELECT *, row_number() OVER (PARTITION BY lang
      |        ORDER BY pri, doc_id) AS rn FROM w)
      |SELECT doc_id, lang, n_chars, pri FROM r WHERE rn <= 10
      |ORDER BY lang, pri, doc_id""".stripMargin

  /** k-core peel ([[graft.graph.KCore]]) over the part co-occurrence
    * graph: 5 synchronous rounds at k=80 — the density filter before
    * community analysis (at sf0.01 this converges: the 2000-node graph
    * stabilizes to its 1857-node 80-core by round 5). */
  private def p53(s: SparkSession, d: String): DataFrame =
    graft.graph.KCore.prune(partEdges(s, d), "u", "v", k = 80, rounds = 5)
      .orderBy("node")

  /** The p53 oracle: the peel recurrence unrolled — per round, degrees
    * within the previous alive set, then the ≥ k cut. */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val chain = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT sym.src AS node, count(*) AS deg FROM sym
         |  JOIN a${i - 1} x ON sym.src = x.node
         |  JOIN a${i - 1} y ON sym.dst = y.node
         |  GROUP BY sym.src),
         |a$i AS MATERIALIZED (SELECT node, deg FROM d$i WHERE deg >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM e
       |  UNION ALL SELECT v, u FROM e),
       |a0 AS (SELECT DISTINCT src AS node FROM sym),
       |$chain
       |SELECT node, deg FROM a$rounds ORDER BY node""".stripMargin
  }

  /** Multi-source BFS hop distances ([[graft.graph.Bfs]]) over the trade
    * graph from a 1-in-100 customer seed set — the seed-distance cut a
    * crawl/curation pipeline applies ("keep pages within k hops of a
    * trusted seed"). 3 hops; the bipartite graph alternates customer/
    * supplier layers, so each hop is a real frontier. */
  private def p54(s: SparkSession, d: String): DataFrame = {
    val seeds = Tables.customer(s, d)
      .where(col("c_custkey") % 100 === 0)
      .select((col("c_custkey") * 2).as("node"))
    graft.graph.Bfs.distances(tradeEdges(s, d), "src", "dst",
        seeds, "node", maxHops = 3)
      .orderBy("node")
  }

  /** The p54 oracle: the frontier recurrence unrolled — per hop, the
    * distinct neighbors of the previous frontier not yet visited. */
  private def bfsOracleSql(hops: Int): String = {
    val chain = (1 to hops).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT DISTINCT ed.dst AS node
         |  FROM ed JOIN f${i - 1} f ON ed.src = f.node
         |  WHERE ed.dst NOT IN (SELECT node FROM v${i - 1})),
         |v$i AS MATERIALIZED (SELECT node, dist FROM v${i - 1}
         |  UNION ALL SELECT node, $i AS dist FROM f$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH $tradeEdgesSqlPrefix,
       |f0 AS (SELECT DISTINCT c_custkey * 2 AS node FROM customer
       |       WHERE c_custkey % 100 = 0),
       |v0 AS (SELECT node, 0 AS dist FROM f0),
       |$chain
       |SELECT node, CAST(dist AS INT) AS dist FROM v$hops
       |ORDER BY node""".stripMargin
  }

  /** Token-distribution entropy ([[graft.pipeline.TextAnalysis.tokenEntropy]])
    * per document — the lexical-diversity quality signal. */
  private def p52(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenEntropy(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  private val tokenEntropyOracleSql =
    """WITH w AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
      |             x -> x <> '')) AS word FROM documents),
      |c AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY doc_id, word),
      |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |        count(*) AS n_distinct,
      |        sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS s
      |      FROM c GROUP BY doc_id)
      |SELECT doc_id, n_tokens, n_distinct,
      |       round(ln(CAST(n_tokens AS DOUBLE)) - s / n_tokens, 6) AS entropy
      |FROM a ORDER BY doc_id""".stripMargin

  /** Corpus drift ([[graft.pipeline.Drift.tokenDrift]]): token
    * distribution shift between the even- and odd-id document halves —
    * top-40 drifted tokens with add-one-smoothed probabilities, TV and
    * KL contributions. Selection orders by the exact integer
    * cross-difference, so which tokens make the cut is float-free. */
  private def p47(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    graft.pipeline.Drift.tokenDrift(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1), "text", k = 40)
      .withColumn("diff_num", col("diff_num").cast("long"))
  }

  /** Token-budget mixture assembly ([[graft.pipeline.Sampling.tokenBudgetMix]]):
    * per-language token budgets filled in deterministic-hash order via
    * the two-pass distributed prefix sum (no per-domain single-task
    * window). The oracle is the naive one-window spelling — equivalent
    * because the hash bucket is monotone in the priority. */
  private def p48(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Sampling.tokenBudgetMix(
        Tables.documents(s, d), "doc_id", "lang",
        TextAnalysis.wsTokenCount(col("text")).cast("long"),
        budgets = Map("en" -> 4000L, "zh" -> 2000L),
        defaultBudget = 1500L, buckets = 8)
      .withColumnRenamed("lang", "domain")
      .orderBy("doc_id")

  private val tokenBudgetOracleSql =
    """WITH d AS (SELECT doc_id, lang AS domain,
      |             CAST(len(list_filter(string_split(text, ' '),
      |               x -> x <> '')) AS BIGINT) AS n_tokens,
      |             (doc_id % 1000000007 * 2654435761 + 987654321)
      |               % 1000000007 AS pri
      |           FROM documents),
      |c AS (SELECT doc_id, domain, n_tokens,
      |        coalesce(sum(n_tokens) OVER (PARTITION BY domain
      |          ORDER BY pri, doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |          0) AS cum_before
      |      FROM d)
      |SELECT doc_id, domain, n_tokens, CAST(cum_before AS BIGINT) AS cum_before,
      |       cum_before < CASE domain WHEN 'en' THEN 4000
      |                                WHEN 'zh' THEN 2000
      |                                ELSE 1500 END AS kept
      |FROM c ORDER BY doc_id""".stripMargin

  private val driftOracleSql =
    """WITH wa AS (SELECT unnest(list_filter(string_split(text, ' '),
      |                 x -> x <> '')) AS word
      |            FROM documents WHERE doc_id % 2 = 0),
      |wb AS (SELECT unnest(list_filter(string_split(text, ' '),
      |                 x -> x <> '')) AS word
      |       FROM documents WHERE doc_id % 2 = 1),
      |ca AS (SELECT word, count(*) AS ca FROM wa GROUP BY word),
      |cb AS (SELECT word, count(*) AS cb FROM wb GROUP BY word),
      |j AS (SELECT coalesce(ca.word, cb.word) AS word,
      |             coalesce(ca.ca, 0) AS ca, coalesce(cb.cb, 0) AS cb
      |      FROM ca FULL OUTER JOIN cb ON ca.word = cb.word),
      |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
      |             CAST(sum(cb) AS BIGINT) AS nb, count(*) AS v FROM j),
      |sc AS (SELECT word, ca, cb,
      |         CAST(ca + 1 AS HUGEINT) * (nb + v)
      |           - CAST(cb + 1 AS HUGEINT) * (na + v) AS dn,
      |         (ca + 1) / CAST(na + v AS DOUBLE) AS pa,
      |         (cb + 1) / CAST(nb + v AS DOUBLE) AS pb
      |       FROM j, t)
      |SELECT word, CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
      |       CAST(dn AS BIGINT) AS diff_num,
      |       round(pa, 9) AS pa, round(pb, 9) AS pb,
      |       round(abs(pa - pb), 9) AS abs_diff,
      |       round(pa * ln(pa / pb), 9) AS kl_ab
      |FROM sc ORDER BY abs(dn) DESC, word LIMIT 40""".stripMargin

  /** The p46 oracle's unrolled iteration chain: r_i from r_{i-1} with the
    * identical integer recurrence (`//` floors like Spark's `div`; the
    * DISTINCT src set equals the node set because the edge relation is
    * bidirectional). MATERIALIZED per CTE — DuckDB re-inlines the chain
    * exponentially otherwise. */
  private def pagerankOracleSql(iters: Int): String = {
    val chain = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT n.node,
         |         CAST((1048576 * 15) // 100
         |              + 85 * coalesce(s.in_sum, 0) // 100 AS BIGINT) AS rank
         |  FROM (SELECT DISTINCT src AS node FROM ed) n
         |  LEFT JOIN (SELECT e.dst AS node, sum(r${i - 1}.rank // e.outdeg) AS in_sum
         |             FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node
         |             GROUP BY e.dst) s USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH $tradeEdgesSqlPrefix,
       |deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM ed GROUP BY src),
       |e AS MATERIALIZED (SELECT ed.src, ed.dst, deg.outdeg
       |                   FROM ed JOIN deg USING (src)),
       |r0 AS MATERIALIZED (SELECT DISTINCT src AS node,
       |                           CAST(1048576 AS BIGINT) AS rank FROM ed),
       |$chain
       |SELECT node, round(rank / 1048576.0, 6) AS rank
       |FROM r$iters ORDER BY node""".stripMargin
  }

  /** Personalized PageRank / TrustRank
    * ([[graft.graph.PageRank.personalizedRanks]]) over the trade graph
    * from the p54 seed set — the weighted closeness-to-trusted-seeds
    * ranking next to p54's hard hop cut. Same integer recurrence and
    * fixed-point output convention as p46. */
  private def p64(s: SparkSession, d: String): DataFrame = {
    val seeds = Tables.customer(s, d)
      .where(col("c_custkey") % 100 === 0)
      .select((col("c_custkey") * 2).as("node"))
    graft.graph.PageRank.personalizedRanks(tradeEdges(s, d), "src", "dst",
        seeds, "node", iterations = 5)
      .select(col("node"), round(col("rank") / lit(1048576.0), 6).as("rank"))
      .orderBy("node")
  }

  /** The p64 oracle: the p46 chain with the teleport restricted to the
    * seed flag (initial mass and the per-round base term zero off-seed). */
  private def pprOracleSql(iters: Int): String = {
    val chain = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT n.node,
         |         CAST(CASE WHEN n.is_seed THEN (1048576 * 15) // 100 ELSE 0 END
         |              + 85 * coalesce(s.in_sum, 0) // 100 AS BIGINT) AS rank
         |  FROM nd n
         |  LEFT JOIN (SELECT e.dst AS node, sum(r${i - 1}.rank // e.outdeg) AS in_sum
         |             FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node
         |             GROUP BY e.dst) s USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH $tradeEdgesSqlPrefix,
       |deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM ed GROUP BY src),
       |e AS MATERIALIZED (SELECT ed.src, ed.dst, deg.outdeg
       |                   FROM ed JOIN deg USING (src)),
       |sd AS (SELECT DISTINCT c_custkey * 2 AS node, true AS seed_flag
       |       FROM customer WHERE c_custkey % 100 = 0),
       |nd AS MATERIALIZED (SELECT n.node,
       |        coalesce(sd.seed_flag, false) AS is_seed
       |      FROM (SELECT DISTINCT src AS node FROM ed) n
       |      LEFT JOIN sd USING (node)),
       |r0 AS MATERIALIZED (SELECT node,
       |        CAST(CASE WHEN is_seed THEN 1048576 ELSE 0 END AS BIGINT) AS rank
       |      FROM nd),
       |$chain
       |SELECT node, round(rank / 1048576.0, 6) AS rank
       |FROM r$iters ORDER BY node""".stripMargin
  }

  /** Text normalization ([[graft.pipeline.TextAnalysis.normalizeText]]):
    * NFC + control scrub + space collapse + trim + lowercase; recorded
    * as (length, md5, changed) so the oracle hashes the normalized bytes
    * themselves. */
  private def p42(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        graft.pipeline.TextAnalysis.normalizeText(col("text")).as("norm"))
      .select(col("doc_id"),
        length(col("norm")).as("norm_len"),
        md5(col("norm")).as("norm_hash"),
        (col("norm") =!= col("text")).as("changed"))
      .orderBy("doc_id")
  }

  /** Residual IVF+PQ ([[graft.pipeline.Similarity.ivfPqResidualTopK]]):
    * p32 with FAISS's default by_residual=true encoding. */
  private def p35(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.ivfPqResidualTopK(e, e.where(col("vec_id") < 5), "vec_id",
        "embedding", k = 10, nlist = 16, nprobe = 4, m = 8, ksub = 16, dims = 64)
      .orderBy("query_id", "rank")
  }

  /** Embedding near-dup over corpus ∪ perturbed copy (vec' = vec with one
    * component nudged) — random embeddings have no natural near-dups. */
  private def p7(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select("vec_id", "embedding")
    val perturbed = e.select((col("vec_id") + IdOffset).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i === 0, x + lit(0.01f)).otherwise(x)).as("embedding"))
    Similarity.cosineNearDupPairs(e.unionByName(perturbed), "vec_id", "embedding",
        minSim = 0.99, numPlanes = 8)
      .orderBy("a_id", "b_id")
  }

  /** Semantic dedup (SemDeDup) over corpus ∪ perturbed copy: each
    * vector's nudged twin quantizes into the same cell with cosine ~1, so
    * every cell has known positives; unrelated random vectors stay far
    * below the 0.99 bar. */
  private def p25(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select("vec_id", "embedding")
    val perturbed = e.select((col("vec_id") + IdOffset).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i === 0, x + lit(0.01f)).otherwise(x)).as("embedding"))
    Similarity.semanticDedup(e.unionByName(perturbed), "vec_id", "embedding",
        nlist = 16, minSim = 0.99)
      .orderBy("vec_id")
  }

  // ---- text analysis -------------------------------------------------------

  private def p8(s: SparkSession, d: String): DataFrame = {
    val profiles = TextAnalysis.stopwordProfiles
    Tables.documents(s, d).select(col("doc_id"),
        round(TextAnalysis.profileRatio(col("text"), profiles("en")), 6).as("en_ratio"),
        round(TextAnalysis.profileRatio(col("text"), profiles("de")), 6).as("de_ratio"),
        round(TextAnalysis.profileRatio(col("text"), profiles("fr")), 6).as("fr_ratio"),
        TextAnalysis.langId(col("text")).as("predicted_lang"))
      .orderBy("doc_id")
  }

  private def p9(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("bpeish_tokens"))
      .orderBy("doc_id")

  private def p10(s: SparkSession, d: String): DataFrame =
    TextAnalysis.qualityFeatures(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  /** ROC-AUC ([[graft.pipeline.Eval.rocAuc]]) of the p10 quality score
    * as a predictor of lang = 'en' — the threshold-free measurement of a
    * quality-filter signal, computed over the score histogram (the
    * corpus never sorts; the rounded-6 score bounds distinct values). */
  private def p83(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("score"), col("lang"))
    graft.pipeline.Eval.rocAuc(scored, "score", col("lang") === "en")
  }

  private val rocAucOracleSql =
    s"""WITH $qualityFeatureCtes,
       |sc AS (SELECT r.doc_id, $qualityScoreSql AS s,
       |         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
       |       FROM r JOIN documents d ON d.doc_id = r.doc_id),
       |h AS (SELECT s, sum(y) AS pos, sum(1 - y) AS neg FROM sc GROUP BY s),
       |hb AS (SELECT s, pos, neg,
       |         coalesce(sum(neg) OVER (ORDER BY s
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS neg_below
       |       FROM h)
       |SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
       |  CAST(sum(neg) AS BIGINT) AS n_neg,
       |  round(CASE WHEN sum(pos) > 0 AND sum(neg) > 0
       |    THEN sum(pos * (2 * neg_below + neg))::DOUBLE
       |         / (2.0 * sum(pos) * sum(neg))
       |    ELSE 0.5 END, 6) AS auc
       |FROM hb""".stripMargin

  /** Calibration bins ([[graft.pipeline.Eval.calibrationBins]]) of the
    * same score/label pair: 10 equal-width bins, per-bin mean score vs
    * empirical positive rate — the reliability-diagram relation. */
  private def p84(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("score"), col("lang"))
    graft.pipeline.Eval.calibrationBins(scored, "score",
        col("lang") === "en", nBins = 10)
      .orderBy("bin")
  }

  private val calibrationOracleSql =
    s"""WITH $qualityFeatureCtes,
       |sc AS (SELECT r.doc_id, $qualityScoreSql AS s,
       |         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
       |       FROM r JOIN documents d ON d.doc_id = r.doc_id),
       |b AS (SELECT CAST(greatest(0, least(floor(s * 10), 9)) AS INT) AS bin,
       |        s, y FROM sc)
       |SELECT bin, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(y) AS BIGINT) AS n_pos,
       |  round(sum(CAST(s AS DECIMAL(20,6)))::DOUBLE / count(*), 6)
       |    AS mean_score,
       |  round(sum(y)::DOUBLE / count(*), 6) AS pos_rate,
       |  round(abs(sum(CAST(s AS DECIMAL(20,6)))::DOUBLE / count(*)
       |    - sum(y)::DOUBLE / count(*)), 6) AS gap
       |FROM b GROUP BY bin ORDER BY bin""".stripMargin

  private def p11(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.bagFingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** Dedup resolution end-to-end: near-dup pairs (p2's generator) →
    * duplicate clusters (connected components) → canonical keep-list.
    *
    * The pair generator runs exactly ONCE here even though the CC loop
    * iterates: [[graft.geo.ConnectedComponents.label]] contracts the edge
    * relation into a localCheckpoint at entry, so every round reads the
    * materialized forest, never the generator's lineage. Measured at
    * sf0.1: p17 ≈ p2 + ~1-2 s CC/labeling marginal, run for run. */
  private def p17(s: SparkSession, d: String): DataFrame =
    Dedup.resolveByComponents(nearCorpus(s, d), "doc_id",
        Dedup.ngramJaccardPairs(nearCorpus(s, d), "doc_id", "text",
          bucketCol = "lang", n = 2, minSim = 0.8))
      .orderBy("doc_id")

  /** Winnowing fingerprint (k=5 char grams, w=4 windows) rendered as a
    * join-key string. The repartition spreads the per-char higher-order
    * lambdas off the single-file scan task. */
  private def p16(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        array_join(transform(
          TextAnalysis.winnowFingerprint(col("text"), 5, 4),
          _.cast("string")), "-").as("fingerprint"))
      .orderBy("doc_id")

  /** Duplicated-span scrub over the near-dup corpus (original and perturbed
    * copy share almost every 10-word span, so the rule has real work). */
  private def p18(s: SparkSession, d: String): DataFrame =
    Dedup.spanScrub(nearCorpus(s, d), "doc_id", "text", spanWords = 10)
      .orderBy("doc_id")

  /** Corpus with duplicated substrings at UNALIGNED character offsets:
    * every 4th doc gets a companion holding a junk prefix plus a 400-char
    * slice of the original starting at char 18 — a repeat p18's
    * fixed-width word spans provably miss (the slice starts mid-word and
    * every span boundary is shifted) but char-level anchors catch. */
  private def dupCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.select(col("doc_id"), col("text"))
      .unionByName(docs.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(lit("zq xx "), substring(col("text"), 18, 400)).as("text")))
  }

  private val dupCorpusSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 3000000 AS doc_id, 'zq xx ' || substr(text, 18, 400) AS text
      |FROM documents WHERE doc_id % 4 = 0""".stripMargin

  /** Exact substring dedup, arbitrary offsets
    * ([[graft.pipeline.Dedup.exactSubstrSpans]]): anchor 30-grams at
    * stride 4, extend ≤300 code points per side against the canonical
    * occurrence, merged islands. */
  private def p79(s: SparkSession, d: String): DataFrame =
    Dedup.exactSubstrSpans(dupCorpus(s, d), "doc_id", "text",
        k = 30, stride = 4, maxExt = 300, bucketCap = 8)
      .orderBy("doc_id", "span_start")

  /** The content-keyed anchor selection over one (doc_id, text) relation
    * — the SQL twin of Dedup.contentAnchors, shared by the intra-corpus
    * chain and the p93 two-relation decontamination chain. */
  private def anchorSql(rel: String, k: Int, stride: Int): String =
    s"""SELECT doc_id, pos, gram FROM (
       |    SELECT doc_id, pos, substr(text, pos + 1, $k) AS gram FROM (
       |      SELECT doc_id, text, unnest(range(length(text) - ${k - 1})) AS pos
       |      FROM $rel WHERE length(text) >= $k))
       |  WHERE (list_reduce(list_prepend(0::BIGINT,
       |           list_transform(range(length(gram)),
       |             c -> ascii(substr(gram, CAST(c + 1 AS INT), 1))::BIGINT)),
       |           (acc, x) -> (acc * 31 + x) % 1000000007)) % $stride = 0""".stripMargin

  /** Capped greedy extension + island merge (the SQL twin of
    * Dedup.extendMergeIslands): expects a `px` CTE carrying
    * (b_id, b_pos, a_pos, atext, btext); emits sp → fl → isl → mi,
    * ending after `mi` (merged islands), no trailing comma. The
    * prefix-monotone list_filter count IS the greedy loop. */
  private def extendIslandsSql(k: Int, maxExt: Int): String =
    s"""sp AS (SELECT b_id AS doc_id,
       |         b_pos - len(list_filter(range(1, ${maxExt + 1}), e ->
       |           e <= least(a_pos, b_pos) AND
       |           substr(atext, CAST(a_pos - e + 1 AS INT), CAST(e AS INT))
       |             = substr(btext, CAST(b_pos - e + 1 AS INT), CAST(e AS INT)))) AS s0,
       |         b_pos + $k + len(list_filter(range(1, ${maxExt + 1}), e ->
       |           e <= least(length(atext) - a_pos - $k,
       |                      length(btext) - b_pos - $k) AND
       |           substr(atext, CAST(a_pos + $k + 1 AS INT), CAST(e AS INT))
       |             = substr(btext, CAST(b_pos + $k + 1 AS INT), CAST(e AS INT)))) AS e0
       |       FROM px),
       |fl AS (SELECT doc_id, s0, e0,
       |         CASE WHEN max(e0) OVER (PARTITION BY doc_id ORDER BY s0, e0
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
       |           OR s0 > max(e0) OVER (PARTITION BY doc_id ORDER BY s0, e0
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |           THEN 1 ELSE 0 END AS nw
       |       FROM sp),
       |isl AS (SELECT doc_id, s0, e0,
       |         sum(nw) OVER (PARTITION BY doc_id ORDER BY s0, e0
       |           ROWS UNBOUNDED PRECEDING) AS island FROM fl),
       |mi AS (SELECT doc_id, island, min(s0) AS ss, max(e0) AS ee
       |       FROM isl GROUP BY doc_id, island)""".stripMargin

  /** The p79/p81 anchor-extend-merge chain (shared CTE prefix): anchors →
    * keep-first ranking → witness×canonical pairs → capped greedy
    * extension → island merge. Ends after `mi` (merged islands). */
  private def substrChainSql(k: Int, stride: Int, maxExt: Int,
                             cap: Int): String =
    s"""dup AS MATERIALIZED ($dupCorpusSql),
       |anch AS MATERIALIZED (
       |  ${anchorSql("dup", k, stride)}),
       |r AS MATERIALIZED (
       |  SELECT doc_id, pos, gram,
       |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
       |  FROM anch),
       |pr AS (SELECT c.gram, c.doc_id AS a_id, c.pos AS a_pos,
       |         w.doc_id AS b_id, w.pos AS b_pos
       |       FROM r c JOIN r w ON w.gram = c.gram
       |       WHERE c.rn = 1 AND w.rn BETWEEN 2 AND $cap),
       |px AS (SELECT pr.*, da.text AS atext, db.text AS btext
       |       FROM pr JOIN dup da ON da.doc_id = pr.a_id
       |               JOIN dup db ON db.doc_id = pr.b_id),
       |${extendIslandsSql(k, maxExt)}""".stripMargin

  private def substrSpansOracleSql: String =
    s"""WITH ${substrChainSql(30, 4, 300, 8)}
       |SELECT doc_id, CAST(ss AS INT) AS span_start,
       |       CAST(ee - ss AS INT) AS span_len
       |FROM mi ORDER BY doc_id, span_start""".stripMargin

  /** Scrub form ([[graft.pipeline.Dedup.exactSubstrScrub]]): islands cut
    * out of every doc, all docs reported. */
  private def p81(s: SparkSession, d: String): DataFrame =
    Dedup.exactSubstrScrub(dupCorpus(s, d), "doc_id", "text",
        k = 30, stride = 4, maxExt = 300, bucketCap = 8)
      .orderBy("doc_id")

  private def substrScrubOracleSql: String =
    s"""WITH ${substrChainSql(30, 4, 300, 8)},
       |seg AS (
       |  SELECT doc_id,
       |    coalesce(lag(ee) OVER (PARTITION BY doc_id ORDER BY ss), 0) AS gs,
       |    ss AS ge
       |  FROM mi
       |  UNION ALL
       |  SELECT m.doc_id, max(m.ee) AS gs, length(any_value(d.text)) AS ge
       |  FROM mi m JOIN dup d USING (doc_id) GROUP BY m.doc_id),
       |cl AS (SELECT seg.doc_id,
       |         string_agg(substr(d.text, CAST(gs + 1 AS INT),
       |           CAST(ge - gs AS INT)), '' ORDER BY gs) AS clean
       |       FROM seg JOIN dup d ON d.doc_id = seg.doc_id
       |       GROUP BY seg.doc_id),
       |st AS (SELECT doc_id, count(*) AS n_spans, sum(ee - ss) AS dup_chars
       |       FROM mi GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(st.n_spans, 0) AS INT) AS n_spans,
       |  CAST(coalesce(st.dup_chars, 0) AS INT) AS dup_chars,
       |  md5(coalesce(cl.clean, d.text)) AS clean_hash
       |FROM dup d LEFT JOIN st USING (doc_id) LEFT JOIN cl USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Unigram-LM tokenizer induction ([[graft.pipeline.Unigram.train]]):
    * SentencePiece-style hard-EM prune over a seeded substring
    * vocabulary — the second production tokenizer family next to the
    * p31/p33/p78 BPE chain. Integer centi-nat scores keep the Viterbi
    * DP engine-exact; the oracle unrolls both EM iterations into
    * MATERIALIZED DP chains. */
  private def p91(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Unigram.train(Tables.documents(s, d), "text",
        maxTokLen = 4, maxWordLen = 12, maxVocab = 200, minFreq = 5,
        emIters = 2)
      .orderBy("tok")

  /** Corpus-level unigram tokenization
    * ([[graft.pipeline.Unigram.tokenizeDocs]]): the trained unigram
    * vocabulary applied per DOCUMENT under the final EM iteration's
    * segmentation — the p78 shape for the second tokenizer family. */
  private def p94(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Unigram.tokenizeDocs(Tables.documents(s, d), "doc_id",
        "text", maxTokLen = 4, maxWordLen = 12, maxVocab = 200, minFreq = 5,
        emIters = 2)
      .orderBy("doc_id")

  /** Corpus with eval-set sentences embedded MID-PARAGRAPH at unaligned
    * character offsets: every 9th (non-eval) doc gets a 140-char slice
    * (from char 23 — mid-word) of a deterministic eval doc spliced in
    * after char 50. The p21 word-n-gram screen sees only a sub-threshold
    * fraction of corrupted-boundary grams; content-keyed char anchors
    * catch the slice at any offset. */
  private def contamCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val ev = docs.select(col("doc_id").as("e_id"), col("text").as("e_text"))
    docs.withColumn("e_id", (col("doc_id") % 5) * 97)
      .join(broadcast(ev), Seq("e_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 9 === 0 && col("doc_id") % 97 =!= 0 &&
            col("e_text").isNotNull,
          concat(substring(col("text"), 1, 50),
            substring(col("e_text"), 23, 140),
            expr("substring(text, 51)")))
          .otherwise(col("text")).as("text"))
  }

  // NB: no line may start with "||" — this string is re-embedded in a
  // stripMargin oracle, which would eat the first bar of the operator
  private val contamCorpusSql =
    """SELECT d.doc_id,
      | CASE WHEN d.doc_id % 9 = 0 AND d.doc_id % 97 <> 0
      |           AND e.text IS NOT NULL
      |      THEN substr(d.text, 1, 50) || substr(e.text, 23, 140) ||
      |           substr(d.text, 51)
      |      ELSE d.text END AS text
      |FROM documents d LEFT JOIN documents e
      |  ON e.doc_id = (d.doc_id % 5) * 97""".stripMargin

  /** Substring-level decontamination
    * ([[graft.pipeline.Dedup.substrContamination]]): the p79 anchor
    * machinery pointed at the p21 eval set (every 97th doc), so eval
    * text is caught at ARBITRARY offsets — the planted mid-paragraph
    * unaligned slices that fixed word n-grams under-count. */
  private def p93(s: SparkSession, d: String): DataFrame =
    Dedup.substrContamination(contamCorpus(s, d),
        Tables.documents(s, d).where(col("doc_id") % 97 === 0)
          .select("doc_id", "text"),
        "doc_id", "text", k = 30, stride = 4, maxExt = 300, bucketCap = 8,
        minFrac = 0.05)
      .orderBy("doc_id")

  private def substrContamOracleSql: String =
    s"""WITH ev AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
       |corp AS MATERIALIZED ($contamCorpusSql),
       |eanch AS MATERIALIZED (
       |  ${anchorSql("ev", 30, 4)}),
       |canch AS MATERIALIZED (
       |  ${anchorSql("corp", 30, 4)}),
       |re AS (SELECT gram, doc_id AS a_id, pos AS a_pos FROM (
       |    SELECT gram, doc_id, pos,
       |      row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
       |    FROM eanch) WHERE rn = 1),
       |rc AS (SELECT gram, doc_id AS b_id, pos AS b_pos FROM (
       |    SELECT gram, doc_id, pos,
       |      row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
       |    FROM canch) WHERE rn <= 8),
       |px AS (SELECT rc.b_id, rc.b_pos, re.a_pos,
       |         ea.text AS atext, cb.text AS btext
       |       FROM rc JOIN re USING (gram)
       |       JOIN ev ea ON ea.doc_id = re.a_id
       |       JOIN corp cb ON cb.doc_id = rc.b_id),
       |${extendIslandsSql(30, 300)},
       |st AS (SELECT doc_id, count(*) AS n_spans, sum(ee - ss) AS contam_chars
       |       FROM mi GROUP BY doc_id),
       |fr AS (SELECT c.doc_id,
       |         CAST(coalesce(st.n_spans, 0) AS INT) AS n_spans,
       |         CAST(coalesce(st.contam_chars, 0) AS BIGINT) AS contam_chars,
       |         round(CASE WHEN length(c.text) > 0
       |           THEN coalesce(st.contam_chars, 0)::DOUBLE / length(c.text)
       |           ELSE 0.0 END, 6) AS contam_frac
       |       FROM corp c LEFT JOIN st USING (doc_id))
       |SELECT doc_id, n_spans, contam_chars, contam_frac,
       |       contam_frac >= 0.05 AS contaminated
       |FROM fr ORDER BY doc_id""".stripMargin

  /** Content-defined chunking ([[graft.pipeline.TextAnalysis.cdcChunks]])
    * over the dup corpus: 16-gram rolling-hash boundaries at stride 32 —
    * the insertion-robust counterpart of p26's fixed windows (the
    * planted shifted copies re-align to the same chunk hashes, which a
    * fixed-width chunker provably cannot). */
  private def p82(s: SparkSession, d: String): DataFrame =
    TextAnalysis.cdcChunks(dupCorpus(s, d), "doc_id", "text",
        k = 16, stride = 32)
      .orderBy("doc_id", "chunk_idx")

  /** The p82 chunk-row relation WITHOUT a trailing ORDER BY, so p87 can
    * embed it as a subquery directly (the substrChainSql/finalSymsSql
    * convention) instead of string-stripping the rendered p82 query. */
  private def cdcChunkRowsSql: String =
    s"""WITH dup AS MATERIALIZED ($dupCorpusSql),
       |cuts AS MATERIALIZED (SELECT doc_id, text,
       |  list_filter(list_filter(range(length(text) - 15), p ->
       |    (list_reduce(list_prepend(0::BIGINT,
       |       list_transform(range(16),
       |         c -> ascii(substr(text, CAST(p + c + 1 AS INT), 1))::BIGINT)),
       |       (acc, x) -> (acc * 31 + x) % 1000000007)) % 32 = 0),
       |    p -> p > 0) AS cuts
       |  FROM dup WHERE length(text) > 0),
       |b AS (SELECT doc_id, text,
       |        list_concat(list_concat([0::BIGINT], cuts),
       |          [length(text)::BIGINT]) AS bounds
       |      FROM cuts),
       |ch AS (SELECT doc_id, text, bounds,
       |         unnest(range(len(bounds) - 1)) AS i FROM b)
       |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       |  CAST(bounds[CAST(i + 1 AS INT)] AS INT) AS chunk_start,
       |  CAST(bounds[CAST(i + 2 AS INT)] - bounds[CAST(i + 1 AS INT)] AS INT)
       |    AS chunk_len,
       |  md5(substr(text, CAST(bounds[CAST(i + 1 AS INT)] + 1 AS INT),
       |    CAST(bounds[CAST(i + 2 AS INT)] - bounds[CAST(i + 1 AS INT)] AS INT)))
       |    AS chunk_hash
       |FROM ch""".stripMargin

  private def cdcOracleSql: String =
    cdcChunkRowsSql + " ORDER BY doc_id, chunk_idx"

  /** Chunk-level dedup verdict over the p82 CDC chunks: a chunk is
    * duplicated when its content appears in MORE THAN ONE document
    * (the p18 distinct-doc rule at CDC granularity); per doc the chunk
    * count, duplicated-chunk count, duplicated character count, and
    * fraction. The planted shifted copies light up: their re-aligned
    * chunks match the originals' even at unaligned offsets. The
    * distinct-doc frequency is a map-side-combinable aggregate joined
    * back by hash (the p18 spanScrub shape) — NOT a per-hash
    * collect_list window, whose buffer a pathologically common chunk
    * would blow up. */
  private def p87(s: SparkSession, d: String): DataFrame = {
    // persist: the chunk relation feeds the frequency aggregate AND the
    // join-back — without it the rolling-hash chunking pass runs twice.
    // Narrow rows (ids + 16-char hash); the query's working set
    val ch = TextAnalysis.cdcChunks(dupCorpus(s, d), "doc_id", "text",
        k = 16, stride = 32)
      .persist()
    val freq = ch.groupBy("chunk_hash")
      .agg(countDistinct("doc_id").as("n_docs"))
    ch.join(freq, "chunk_hash")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_chunks"),
        sum(when(col("n_docs") > 1, 1).otherwise(0)).cast("int")
          .as("n_dup_chunks"),
        sum(when(col("n_docs") > 1, col("chunk_len")).otherwise(0))
          .cast("int").as("dup_chars"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        col("dup_chars"),
        round(col("n_dup_chunks").cast("double") / col("n_chunks"), 6)
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  private def cdcDedupOracleSql: String = {
    // the p82 chunk rows (shared helper), then the distinct-doc rule
    val base = cdcChunkRowsSql
    s"""WITH chunks AS MATERIALIZED ($base),
       |freq AS (SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs
       |         FROM chunks GROUP BY chunk_hash)
       |SELECT doc_id, CAST(count(*) AS INT) AS n_chunks,
       |  CAST(count(CASE WHEN n_docs > 1 THEN 1 END) AS INT) AS n_dup_chunks,
       |  CAST(coalesce(sum(CASE WHEN n_docs > 1 THEN chunk_len END), 0) AS INT)
       |    AS dup_chars,
       |  round(count(CASE WHEN n_docs > 1 THEN 1 END)::DOUBLE / count(*), 6)
       |    AS dup_frac
       |FROM chunks JOIN freq USING (chunk_hash)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** PII corpus: deterministic e-mail / phone / IPv4 tokens appended to a
    * subset of docs, so the scrub has known positives in both engines. */
  private def piiCorpus(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" from 10.0."), col("doc_id") % 256, lit(".1")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" call 555-0199"))
          .otherwise(lit(""))).as("text"))

  // NB: no line may start with "||" — this string is re-embedded in a
  // stripMargin oracle, which would eat the first bar of the operator
  private val piiCorpusSql =
    """SELECT doc_id, text ||
      | CASE WHEN doc_id % 7 = 0
      |      THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
      | CASE WHEN doc_id % 5 = 0
      |      THEN ' from 10.0.' || (doc_id % 256) || '.1' ELSE '' END ||
      | CASE WHEN doc_id % 11 = 0 THEN ' call 555-0199' ELSE '' END AS text
      |FROM documents""".stripMargin

  private def p19(s: SparkSession, d: String): DataFrame =
    graft.pipeline.TextAnalysis.piiScrub(piiCorpus(s, d), "doc_id", "text")
      .orderBy("doc_id")

  /** Contamination screen: benchmark = every 97th doc (deterministic ~1%
    * eval set); the small shared vocabulary gives realistic partial
    * overlap, and the benchmark docs themselves screen at 1.0. */
  private def p21(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.contaminationFlags(docs, docs.where(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 5, minFrac = 0.3)
      .orderBy("doc_id")
  }

  /** Perplexity filter: bigram LM trained on the corpus itself, top-50
    * vocab + unk, add-0.5 smoothing (TextAnalysis.bigramPerplexity). */
  private def p22(s: SparkSession, d: String): DataFrame =
    graft.pipeline.TextAnalysis.bigramPerplexity(
        Tables.documents(s, d), "doc_id", "text", topK = 50, alpha = 0.5)
      .orderBy("doc_id")

  /** Interpolated Kneser–Ney bigram scoring
    * ([[graft.pipeline.TextAnalysis.knBigramScore]]): the KenLM-family
    * quality signal — discounted bigram ML interpolated with the
    * continuation distribution. Same 50-word vocab + unk convention as
    * p22, so the two LMs are directly comparable. */
  private def p58(s: SparkSession, d: String): DataFrame =
    TextAnalysis.knBigramScore(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  /** Gopher repetition signals over the raw documents table — the small
    * vocabulary makes repeated 2/3-grams common, so the rule has teeth. */
  private def p20(s: SparkSession, d: String): DataFrame =
    graft.pipeline.TextAnalysis.repetitionSignals(
        Tables.documents(s, d), "doc_id", "text", ns = Seq(2, 3))
      .orderBy("doc_id")

  /** Tokenizer vocabulary induction under a 500-word budget over the raw
    * documents table ([[graft.pipeline.TextAnalysis.vocabTopK]]). */
  private def p24(s: SparkSession, d: String): DataFrame =
    graft.pipeline.TextAnalysis.vocabTopK(Tables.documents(s, d), "text", 500)
      .orderBy("rank")

  /** BPE-merge tokenizer induction ([[graft.pipeline.Bpe]]): 12 rounds of
    * global argmax pair merging over the one-scan word histogram — the
    * iterative merge-training p24's whole-word ranking is not. */
  private def p31(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Bpe.mergeTable(Tables.documents(s, d), "text", numMerges = 12)
      .orderBy("rank")

  /** BPE encode ([[graft.pipeline.Bpe.tokenizedVocab]]): the trained
    * 12-merge table applied back to the vocabulary — word → symbol
    * sequence, the tokenizer's lookup artifact. */
  private def p33(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Bpe.tokenizedVocab(Tables.documents(s, d), "text", numMerges = 12)
      .orderBy("word")

  /** Corpus-level BPE tokenization ([[graft.pipeline.Bpe.tokenizeDocs]]):
    * the trained 12-merge tokenizer applied to every DOCUMENT, emitting
    * per-doc token-id sequences — the artifact p31/p33 train but stop
    * short of, and what sequence packing actually consumes. */
  private def p78(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Bpe.tokenizeDocs(Tables.documents(s, d), "doc_id", "text",
        numMerges = 12)
      .orderBy("doc_id")

  /** Sequence packing on REAL tokenizer counts: p15's running-sum packing
    * fed per-doc BPE token totals from [[graft.pipeline.Bpe.tokenizeDocs]]
    * instead of whitespace word counts — the 2048-token sequences a
    * trainer would actually see. Documents with no tokenizable words
    * pack nothing (inner join, mirrored in the oracle). */
  private def p80(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nt = graft.pipeline.Bpe.tokenizeDocs(docs, "doc_id", "text",
        numMerges = 12)
      .select(col("doc_id"), col("n_tokens").cast("long").as("bpe_tokens"))
    graft.pipeline.Sampling.packSequences(
        docs.select("doc_id", "source").join(nt, "doc_id"),
        "source", "doc_id", col("bpe_tokens"), budget = 2048)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("chunk_id"), col("offset"))
      .orderBy("doc_id")
  }

  // ---- corpus shaping ------------------------------------------------------

  /** Deterministic stratified rebalance: every language down-sampled to the
    * smallest language's size. The bucket hash is a portable multiplicative
    * scheme (Knuth 2654435761) so the DuckDB oracle reproduces membership
    * bit-for-bit; production callers would pass pmod(xxhash64(id), buckets). */
  private def p14(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Sampling.stratifiedBalance(
        Tables.documents(s, d).select("doc_id", "lang"), "lang",
        pmod(col("doc_id") * lit(2654435761L), lit(10000L)))
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy("doc_id")

  /** Temperature-flattened language rebalance at T = 2
    * ([[graft.pipeline.Sampling.temperatureBalance]]): keep rate
    * √(c_min/c_l) per language — the multilingual-LM mixture rule —
    * membership by the p14 portable bucket hash. */
  private def p55(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Sampling.temperatureBalance(
        Tables.documents(s, d).select("doc_id", "lang"), "lang",
        pmod(col("doc_id") * lit(2654435761L), lit(10000L)))
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy("doc_id")

  /** UniMax mixture assembly ([[graft.pipeline.Sampling.unimaxBudgets]] →
    * [[graft.pipeline.Sampling.tokenBudgetMix]]): the epoch-capped
    * waterfilling allocation (20 000-token budget, 1-epoch cap — tail
    * languages keep everything, the head language gets the uniform
    * remainder), then the standard two-pass budget fill. The allocation
    * table is a bounded |langs| driver artifact, exactly like p48's
    * budget map. */
  private def p60(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = TextAnalysis.wsTokenCount(col("text")).cast("long")
    val alloc = graft.pipeline.Sampling.unimaxBudgets(
        docs, "lang", toks, budget = 20000L, maxEpochs = 1)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    graft.pipeline.Sampling.tokenBudgetMix(
        docs, "doc_id", "lang", toks, budgets = alloc, defaultBudget = 0L,
        buckets = 8)
      .orderBy("doc_id")
  }

  private val unimaxOracleSql =
    """WITH d AS (SELECT doc_id, lang,
      |             CAST(len(list_filter(string_split(text, ' '),
      |               x -> x <> '')) AS BIGINT) AS n_tokens,
      |             (doc_id % 1000000007 * 2654435761 + 987654321)
      |               % 1000000007 AS pri
      |           FROM documents),
      |sz AS (SELECT lang, sum(n_tokens) AS t FROM d GROUP BY lang),
      |rk AS (SELECT lang, t,
      |         row_number() OVER (ORDER BY t, lang) AS i,
      |         coalesce(sum(t) OVER (ORDER BY t, lang
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS s_before,
      |         count(*) OVER () AS n
      |       FROM sz),
      |cp AS (SELECT *, t * (n - i + 1) + s_before <= 20000 AS capped
      |       FROM rk),
      |al AS (SELECT lang, CASE WHEN capped THEN t
      |         ELSE (20000 - (SELECT coalesce(sum(t), 0) FROM cp WHERE capped))
      |              // (n - (SELECT count(*) FROM cp WHERE capped)) END
      |         AS budget
      |       FROM cp),
      |c AS (SELECT doc_id, lang, n_tokens,
      |        coalesce(sum(n_tokens) OVER (PARTITION BY lang
      |          ORDER BY pri, doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |          0) AS cum_before
      |      FROM d)
      |SELECT c.doc_id, c.lang, c.n_tokens,
      |       CAST(c.cum_before AS BIGINT) AS cum_before,
      |       c.cum_before < al.budget AS kept
      |FROM c JOIN al USING (lang) ORDER BY c.doc_id""".stripMargin

  /** URL corpus: deterministic messy URLs (mixed-case scheme/host, www,
    * default and explicit ports, utm params, fragments, trailing slashes)
    * so canonicalization has known work in both engines, and the %97 path
    * bucket forces genuine cross-doc canon collisions for the dedup flag. */
  private def urlCorpus(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), concat(
      lit("HTTPS://WWW.Site"), (col("doc_id") % 7).cast("string"), lit(".COM"),
      when(col("doc_id") % 4 === 0, lit(":443"))
        .when(col("doc_id") % 4 === 1, lit(":8443")).otherwise(lit("")),
      lit("/Path/"), (col("doc_id") % 97).cast("string"),
      when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit("?utm_source=feed&ref="), (col("doc_id") % 11).cast("string")))
        .when(col("doc_id") % 5 === 1, lit("?utm_campaign=x")).otherwise(lit("")),
      when(col("doc_id") % 6 === 0,
        concat(lit("#sec-"), col("doc_id").cast("string"))).otherwise(lit("")))
      .as("url"))

  // NB: no line may start with "||" — re-embedded in a stripMargin oracle
  private val urlCorpusSql =
    """SELECT doc_id,
      | 'HTTPS://WWW.Site' || (doc_id % 7) || '.COM' ||
      | CASE WHEN doc_id % 4 = 0 THEN ':443'
      |      WHEN doc_id % 4 = 1 THEN ':8443' ELSE '' END ||
      | '/Path/' || (doc_id % 97) ||
      | CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
      | CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&ref=' || (doc_id % 11)
      |      WHEN doc_id % 5 = 1 THEN '?utm_campaign=x' ELSE '' END ||
      | CASE WHEN doc_id % 6 = 0 THEN '#sec-' || doc_id ELSE '' END AS url
      |FROM documents""".stripMargin

  /** URL canonicalization + first-occurrence dedup
    * ([[graft.pipeline.Urls.dedupByCanonical]]) over the synthetic messy
    * URL corpus. */
  private def p56(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Urls.dedupByCanonical(urlCorpus(s, d), "doc_id", "url")
      .orderBy("doc_id")

  /** Quote-containment join ([[graft.pipeline.Dedup.containmentJoin]]):
    * every 5th document truncated to its first 20 words plays the quote
    * side (id offset by 10^6), the full table the corpus side — each
    * truncated probe is genuinely contained in its source, the asymmetric
    * case Jaccard dedup structurally misses. Trigrams, t = 0.8. */
  private def p57(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val probes = docs.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        array_join(slice(filter(split(col("text"), " "), w => w =!= ""),
          1, 20), " ").as("text"))
    graft.pipeline.Dedup.containmentJoin(probes, docs, "doc_id", "text",
        n = 3, minCont = 0.8)
      .orderBy("q_id", "c_id")
  }

  /** Incremental dedup ([[graft.pipeline.Dedup.incrementalDedup]]): the
    * documents table plays the existing corpus; the "new crawl" is every
    * 4th doc with its last 3 words dropped (near-dups, id +10^6) plus
    * every 10th doc verbatim (exact dups, id +2·10^6). Bigrams, 64
    * hashes × 4 rows, t = 0.8 — the p3 conventions, cross-corpus. */
  private def p59(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val w = filter(split(col("text"), " "), x => x =!= "")
    val perturbed = docs.where(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        array_join(slice(w, lit(1), greatest(size(w) - 3, lit(1))), " ").as("text"))
    val copies = docs.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    graft.pipeline.Dedup.incrementalDedup(
        perturbed.unionByName(copies), docs.select("doc_id", "text"),
        "doc_id", "text", n = 2, numHashes = 64, bandRows = 4, minSim = 0.8)
      .orderBy("doc_id")
  }

  /** Token-budget sequence packing, shard(source)-parallel: 2048-token
    * sequences filled in doc_id order; chunk ids globally unique via
    * broadcast per-shard bases. */
  private def p15(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Sampling.packSequences(Tables.documents(s, d),
        "source", "doc_id",
        TextAnalysis.wsTokenCount(col("text")).cast("long"), budget = 2048)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("chunk_id"), col("offset"))
      .orderBy("doc_id")

  /** Context-window chunking with overlap over the documents table
    * ([[graft.pipeline.TextAnalysis.chunkWithOverlap]]): 32-token windows
    * every 24 tokens, so adjacent chunks share 8 tokens of context. */
  private def p26(s: SparkSession, d: String): DataFrame =
    TextAnalysis.chunkWithOverlap(Tables.documents(s, d), "doc_id", "text",
        window = 32, stride = 24)
      .orderBy("doc_id", "chunk_idx")

  /** Int8 scalar quantization of the embeddings table
    * ([[graft.pipeline.Quantize.quantizeInt8]]): train per-dim ranges in
    * one aggregated scan, encode map-side, report codes + L∞ error. */
  private def p27(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Quantize.quantizeInt8(
        Tables.embeddings(s, d), "vec_id", "embedding", dims = 64)
      .orderBy("vec_id")

  /** Deterministic training-order shuffle into 8 shards
    * ([[graft.pipeline.Sampling.deterministicShuffle]]). */
  private def p28(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Sampling.deterministicShuffle(
        Tables.documents(s, d).select("doc_id"), "doc_id", nShards = 8)
      .orderBy("doc_id")

  /** Skew-aware per-domain quality cap: the 5 best docs of every source by
    * composite quality ([[graft.pipeline.Sampling.topKPerGroup]] — the
    * salted two-phase plan; output exactly equals the naive window's). */
  private def p29(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Sampling.topKPerGroup(
        Tables.documents(s, d).select(col("doc_id"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("q")),
        "source", col("q"), col("doc_id"), k = 5)
      .orderBy("source", "rank")

  // ---- multimodal ----------------------------------------------------------

  /** Multimodal decode end-to-end with REAL pure-JVM codecs: even docs
    * carry a synthesized RIFF/WAVE PCM asset, odd docs a grayscale PNG
    * (ImageIO); assets are encoded executor-side, decoded back by the real
    * chunk-walker / ImageIO codec, and reduced to exact integer features.
    * The oracle recomputes the features from the synthesis formulas —
    * valid because both codecs are lossless. */
  private def p12(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
      .map { id =>
        if (id % 2 == 0) Multimodal.MediaRow(id, "audio/wav", Multimodal.synthWavAsset(id))
        else Multimodal.MediaRow(id, "image/png", Multimodal.synthPngAsset(id))
      }
      .toDF()
    Multimodal.extractFeatures(media).orderBy("doc_id")
  }

  /** Image perceptual dedup ([[graft.pipeline.Multimodal.imageDhash]]):
    * every doc gets a synthesized PNG, every 10th doc additionally a
    * byte-identical copy under a new id — dHash over the DECODED pixels,
    * then exact-hash grouping (canonical = min doc id, the p1 discipline
    * at image level). The planted copies form real groups; the oracle
    * replays the hash from the synthesis formula with no codec. */
  private def p85(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
      .flatMap { id =>
        val base = Multimodal.MediaRow(id, "image/png", Multimodal.synthPngAsset(id))
        if (id % 10 == 0)
          Seq(base, Multimodal.MediaRow(id + 5000000L, "image/png",
            Multimodal.synthPngAsset(id)))
        else Seq(base)
      }
      .toDF()
    // whole-partition window, not groupBy+join-back: the hash relation
    // shuffles ONCE by dhash instead of twice (aggregate + re-join)
    val wd = Window.partitionBy("dhash")
    Multimodal.imageDhash(media)
      .select(col("doc_id"), col("w"), col("h"), col("dhash"),
        min("doc_id").over(wd).as("canonical_id"),
        count(lit(1)).over(wd).as("group_size"))
      .orderBy("doc_id")
  }

  private val imageDhashOracleSql =
    """WITH ids AS (SELECT doc_id, doc_id AS src_id FROM documents
      |             UNION ALL
      |             SELECT doc_id + 5000000, doc_id FROM documents
      |             WHERE doc_id % 10 = 0),
      |dims AS (SELECT doc_id, src_id,
      |           16 + src_id % 8 AS w, 12 + src_id % 5 AS h FROM ids),
      |hx AS (SELECT doc_id, w, h,
      |  array_to_string(list_transform(range(8), y ->
      |    printf('%02x', CAST(list_sum(list_transform(range(8), x ->
      |      CASE WHEN ((src_id*7 + (((x+1)*w)//9)*13 + ((y*h)//8)*29) % 256)
      |              > ((src_id*7 + ((x*w)//9)*13 + ((y*h)//8)*29) % 256)
      |           THEN 1 << x ELSE 0 END)) AS INT))), '') AS dhash
      |  FROM dims),
      |g AS (SELECT dhash, min(doc_id) AS canonical_id,
      |        count(*) AS group_size FROM hx GROUP BY dhash)
      |SELECT hx.doc_id, CAST(hx.w AS INT) AS w, CAST(hx.h AS INT) AS h,
      |  hx.dhash, CAST(g.canonical_id AS BIGINT) AS canonical_id,
      |  CAST(g.group_size AS BIGINT) AS group_size
      |FROM hx JOIN g USING (dhash)
      |ORDER BY doc_id""".stripMargin

  /** Audio perceptual dedup ([[graft.pipeline.Multimodal.audioFingerprint]]):
    * the p85 design on the time axis — 16-window delta-energy
    * fingerprints over decoded WAV samples, planted byte-identical
    * copies, exact-fingerprint grouping; the oracle replays energies
    * from the synthesis formula with no codec. */
  private def p86(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
      .flatMap { id =>
        val base = Multimodal.MediaRow(id, "audio/wav", Multimodal.synthWavAsset(id))
        if (id % 10 == 0)
          Seq(base, Multimodal.MediaRow(id + 5000000L, "audio/wav",
            Multimodal.synthWavAsset(id)))
        else Seq(base)
      }
      .toDF()
    // one dhash-keyed shuffle via a whole-partition window (the p85 shape)
    val wf = Window.partitionBy("fingerprint")
    Multimodal.audioFingerprint(media, nWindows = 16)
      .select(col("doc_id"), col("n_samples"), col("n_windows"),
        col("fingerprint"),
        min("doc_id").over(wf).as("canonical_id"),
        count(lit(1)).over(wf).as("group_size"))
      .orderBy("doc_id")
  }

  private val audioFpOracleSql =
    """WITH ids AS (SELECT doc_id, doc_id AS src_id FROM documents
      |             UNION ALL
      |             SELECT doc_id + 5000000, doc_id FROM documents
      |             WHERE doc_id % 10 = 0),
      |par AS (SELECT doc_id, src_id,
      |          CAST(200 + src_id % 100 AS INT) AS n FROM ids),
      |en AS (SELECT doc_id, n,
      |  list_transform(range(16), w ->
      |    list_sum(list_transform(
      |      range(w * (n // 16),
      |            CASE WHEN w = 15 THEN n ELSE (w + 1) * (n // 16) END),
      |      i -> ((src_id*31 + i*i*7) % 20001 - 10000)
      |           * ((src_id*31 + i*i*7) % 20001 - 10000)))) AS e
      |  FROM par),
      |fp AS (SELECT doc_id, n,
      |  array_to_string(list_transform(range(2), b ->
      |    printf('%02x', CAST(list_sum(list_transform(range(8), j ->
      |      CASE WHEN b*8 + j < 15
      |             AND e[CAST(b*8 + j + 2 AS INT)] > e[CAST(b*8 + j + 1 AS INT)]
      |           THEN 1 << j ELSE 0 END)) AS INT))), '') AS fingerprint
      |  FROM en),
      |g AS (SELECT fingerprint, min(doc_id) AS canonical_id,
      |        count(*) AS group_size FROM fp GROUP BY fingerprint)
      |SELECT fp.doc_id, CAST(fp.n AS INT) AS n_samples,
      |  CAST(16 AS INT) AS n_windows, fp.fingerprint,
      |  CAST(g.canonical_id AS BIGINT) AS canonical_id,
      |  CAST(g.group_size AS BIGINT) AS group_size
      |FROM fp JOIN g USING (fingerprint)
      |ORDER BY doc_id""".stripMargin

  /** Image NEAR-dup pairs ([[graft.pipeline.Multimodal.dhashNearDupPairs]]):
    * every 10th image gets a companion with ONE pixel zeroed — a
    * re-encode p85's exact grouping may miss (the dent flips ≤ 1 hash
    * bit when it lands on the sample grid, 0 otherwise) but banded
    * Hamming matching catches either way. The oracle replays the dented
    * 9×8 grid from the synthesis formula. */
  private def p88(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
      .flatMap { id =>
        val base = Multimodal.MediaRow(id, "image/png", Multimodal.synthPngAsset(id))
        if (id % 10 == 0) {
          val (w, h) = ((16 + id % 8).toInt, (12 + id % 5).toInt)
          Seq(base, Multimodal.MediaRow(id + 5000000L, "image/png",
            Multimodal.encodePng(w, h, (x, y) =>
              if (x == 6 && y == 4) 0
              else ((id * 7 + x * 13 + y * 29) % 256).toInt)))
        } else Seq(base)
      }
      .toDF()
    Multimodal.dhashNearDupPairs(Multimodal.imageDhash(media), maxDist = 3)
      .orderBy("a_id", "b_id")
  }

  private val imageNearDupOracleSql =
    """WITH ids AS (SELECT doc_id, doc_id AS src_id, FALSE AS is_dent
      |             FROM documents
      |             UNION ALL
      |             SELECT doc_id + 5000000, doc_id, TRUE FROM documents
      |             WHERE doc_id % 10 = 0),
      |dims AS (SELECT doc_id, src_id, is_dent,
      |           16 + src_id % 8 AS w, 12 + src_id % 5 AS h FROM ids),
      |grid AS (SELECT doc_id,
      |  list_transform(range(8), y -> list_transform(range(9), x ->
      |    CASE WHEN is_dent AND ((x*w)//9) = 6 AND ((y*h)//8) = 4 THEN 0
      |         ELSE (src_id*7 + ((x*w)//9)*13 + ((y*h)//8)*29) % 256 END))
      |    AS g
      |  FROM dims),
      |hx AS (SELECT doc_id,
      |  array_to_string(list_transform(range(8), y ->
      |    printf('%02x', CAST(list_sum(list_transform(range(8), x ->
      |      CASE WHEN g[CAST(y+1 AS INT)][CAST(x+2 AS INT)]
      |              > g[CAST(y+1 AS INT)][CAST(x+1 AS INT)]
      |           THEN 1 << x ELSE 0 END)) AS INT))), '') AS dhash
      |  FROM grid),
      |bands AS (SELECT doc_id, dhash, b,
      |            substr(dhash, CAST(b*4+1 AS INT), 4) AS bv
      |          FROM (SELECT doc_id, dhash, unnest(range(4)) AS b FROM hx)),
      |pr AS (SELECT DISTINCT a.doc_id AS a_id, bb.doc_id AS b_id,
      |         a.dhash AS a_hash, bb.dhash AS b_hash
      |       FROM bands a JOIN bands bb
      |       ON a.b = bb.b AND a.bv = bb.bv AND a.doc_id < bb.doc_id)
      |SELECT a_id, b_id, CAST(hamming AS INT) AS hamming FROM (
      |  SELECT a_id, b_id, list_sum(list_transform(range(8), i ->
      |    bit_count(xor(('0x' || substr(a_hash, CAST(i*2+1 AS INT), 2))::BIGINT,
      |                  ('0x' || substr(b_hash, CAST(i*2+1 AS INT), 2))::BIGINT))))
      |    AS hamming FROM pr)
      |WHERE hamming <= 3 ORDER BY a_id, b_id""".stripMargin

  /** Image near-dup RESOLUTION
    * ([[graft.pipeline.Multimodal.resolveImageNearDups]]): the p88 pair
    * list composed with connected components into the canonical
    * keep-verdict — the p17 shape for images. Fixture: every 10th doc a
    * one-pixel dent (the p88 companion), every 20th ADDITIONALLY a
    * second dent at a different cell — a 3-image chain whose members
    * must all resolve to one canonical even when the two dents differ
    * from each other by more than they differ from the base. */
  private def p89(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
      .flatMap { id =>
        val (w, h) = ((16 + id % 8).toInt, (12 + id % 5).toInt)
        def dent(off: Long, dx: Int, dy: Int) =
          Multimodal.MediaRow(id + off, "image/png",
            Multimodal.encodePng(w, h, (x, y) =>
              if (x == dx && y == dy) 0
              else ((id * 7 + x * 13 + y * 29) % 256).toInt))
        Seq(Multimodal.MediaRow(id, "image/png", Multimodal.synthPngAsset(id))) ++
          (if (id % 10 == 0) Seq(dent(5000000L, 6, 4)) else Seq.empty) ++
          (if (id % 20 == 0) Seq(dent(6000000L, 2, 1)) else Seq.empty)
      }
      .toDF()
    Multimodal.resolveImageNearDups(media, maxDist = 3).orderBy("doc_id")
  }

  private val imageResolveOracleSql =
    """WITH ids AS (SELECT doc_id, doc_id AS src_id, 0 AS dk FROM documents
      |             UNION ALL
      |             SELECT doc_id + 5000000, doc_id, 1 FROM documents
      |             WHERE doc_id % 10 = 0
      |             UNION ALL
      |             SELECT doc_id + 6000000, doc_id, 2 FROM documents
      |             WHERE doc_id % 20 = 0),
      |dims AS (SELECT doc_id, src_id, dk,
      |           16 + src_id % 8 AS w, 12 + src_id % 5 AS h FROM ids),
      |grid AS (SELECT doc_id,
      |  list_transform(range(8), y -> list_transform(range(9), x ->
      |    CASE WHEN dk = 1 AND ((x*w)//9) = 6 AND ((y*h)//8) = 4 THEN 0
      |         WHEN dk = 2 AND ((x*w)//9) = 2 AND ((y*h)//8) = 1 THEN 0
      |         ELSE (src_id*7 + ((x*w)//9)*13 + ((y*h)//8)*29) % 256 END))
      |    AS g
      |  FROM dims),
      |hx AS (SELECT doc_id,
      |  array_to_string(list_transform(range(8), y ->
      |    printf('%02x', CAST(list_sum(list_transform(range(8), x ->
      |      CASE WHEN g[CAST(y+1 AS INT)][CAST(x+2 AS INT)]
      |              > g[CAST(y+1 AS INT)][CAST(x+1 AS INT)]
      |           THEN 1 << x ELSE 0 END)) AS INT))), '') AS dhash
      |  FROM grid),
      |bands AS (SELECT doc_id, dhash, b,
      |            substr(dhash, CAST(b*4+1 AS INT), 4) AS bv
      |          FROM (SELECT doc_id, dhash, unnest(range(4)) AS b FROM hx)),
      |pr AS (SELECT DISTINCT a.doc_id AS a_id, bb.doc_id AS b_id,
      |         a.dhash AS a_hash, bb.dhash AS b_hash
      |       FROM bands a JOIN bands bb
      |       ON a.b = bb.b AND a.bv = bb.bv AND a.doc_id < bb.doc_id),
      |pairs AS (SELECT a_id, b_id FROM (
      |  SELECT a_id, b_id, list_sum(list_transform(range(8), i ->
      |    bit_count(xor(('0x' || substr(a_hash, CAST(i*2+1 AS INT), 2))::BIGINT,
      |                  ('0x' || substr(b_hash, CAST(i*2+1 AS INT), 2))::BIGINT))))
      |    AS hamming FROM pr)
      |  WHERE hamming <= 3),
      |edges AS (SELECT a_id AS a, b_id AS b FROM pairs
      |          UNION SELECT b_id, a_id FROM pairs),
      |reach AS (
      |  WITH RECURSIVE r(s, t) AS (
      |    SELECT doc_id, doc_id FROM hx
      |    UNION
      |    SELECT r.s, e.b FROM r JOIN edges e ON r.t = e.a)
      |  SELECT * FROM r)
      |SELECT s AS doc_id, min(t) AS cluster_id, s = min(t) AS keep
      |FROM reach GROUP BY s ORDER BY doc_id""".stripMargin

  /** Audio near-dup banded pairs
    * ([[graft.pipeline.Multimodal.audioNearDupPairs]]): 65-window
    * delta-energy fingerprints (64 bits → 4 sixteen-bit bands — the
    * p88 band width, 65k buckets per band, so bucket occupancy stays
    * sub-quadratic at corpus scale), every 10th doc a companion whose
    * WINDOW-5 samples are shifted by +1000 — a localized edit that
    * perturbs one window's energy and flips at most the two adjacent
    * delta bits, so p86's exact-fingerprint grouping misses it while
    * one of the 4 bands is pigeonhole-guaranteed to survive. The
    * oracle replays energies from the synthesis formula. */
  private def p90(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
      .flatMap { id =>
        val base = Multimodal.MediaRow(id, "audio/wav", Multimodal.synthWavAsset(id))
        if (id % 10 == 0) {
          val n = (200 + id % 100).toInt
          val b = n / 65
          val samples = Array.tabulate(n) { i =>
            val v = (((id * 31 + i.toLong * i * 7) % 20001) - 10000).toInt
            if (i >= 5 * b && i < 6 * b) v + 1000 else v
          }
          Seq(base, Multimodal.MediaRow(id + 5000000L, "audio/wav",
            Multimodal.encodeWav(samples, 8000)))
        } else Seq(base)
      }
      .toDF()
    Multimodal.audioNearDupPairs(media, nWindows = 65, maxDist = 3)
      .orderBy("a_id", "b_id")
  }

  private val audioNearDupOracleSql =
    """WITH ids AS (SELECT doc_id, doc_id AS src_id, FALSE AS pert
      |             FROM documents
      |             UNION ALL
      |             SELECT doc_id + 5000000, doc_id, TRUE FROM documents
      |             WHERE doc_id % 10 = 0),
      |par AS (SELECT doc_id, src_id, pert,
      |          CAST(200 + src_id % 100 AS INT) AS n FROM ids),
      |en AS (SELECT doc_id, n,
      |  list_transform(range(65), w ->
      |    list_sum(list_transform(
      |      range(w * (n // 65),
      |            CASE WHEN w = 64 THEN n ELSE (w + 1) * (n // 65) END),
      |      i -> ((src_id*31 + i*i*7) % 20001 - 10000
      |            + CASE WHEN pert AND i >= 5 * (n // 65)
      |                        AND i < 6 * (n // 65) THEN 1000 ELSE 0 END)
      |           * ((src_id*31 + i*i*7) % 20001 - 10000
      |            + CASE WHEN pert AND i >= 5 * (n // 65)
      |                        AND i < 6 * (n // 65) THEN 1000 ELSE 0 END))))
      |    AS e
      |  FROM par),
      |fp AS (SELECT doc_id,
      |  array_to_string(list_transform(range(8), b ->
      |    printf('%02x', CAST(list_sum(list_transform(range(8), j ->
      |      CASE WHEN e[CAST(b*8 + j + 2 AS INT)] > e[CAST(b*8 + j + 1 AS INT)]
      |           THEN 1 << j ELSE 0 END)) AS INT))), '') AS fingerprint
      |  FROM en),
      |bands AS (SELECT doc_id, fingerprint, b,
      |            substr(fingerprint, CAST(b*4+1 AS INT), 4) AS bv
      |          FROM (SELECT doc_id, fingerprint, unnest(range(4)) AS b FROM fp)),
      |pr AS (SELECT DISTINCT a.doc_id AS a_id, bb.doc_id AS b_id,
      |         a.fingerprint AS a_hash, bb.fingerprint AS b_hash
      |       FROM bands a JOIN bands bb
      |       ON a.b = bb.b AND a.bv = bb.bv AND a.doc_id < bb.doc_id)
      |SELECT a_id, b_id, CAST(hamming AS INT) AS hamming FROM (
      |  SELECT a_id, b_id, list_sum(list_transform(range(8), i ->
      |    bit_count(xor(('0x' || substr(a_hash, CAST(i*2+1 AS INT), 2))::BIGINT,
      |                  ('0x' || substr(b_hash, CAST(i*2+1 AS INT), 2))::BIGINT))))
      |    AS hamming FROM pr)
      |WHERE hamming <= 3 ORDER BY a_id, b_id""".stripMargin

  /** Audio near-dup RESOLUTION
    * ([[graft.pipeline.Multimodal.resolveAudioNearDups]]): the p90 pair
    * machinery composed with connected components into the canonical
    * keep-verdict — the p89 shape for audio. Fixture: every 10th doc a
    * window-5 perturbed companion, every 20th ADDITIONALLY a window-9
    * perturbed one; the two companions differ from the base by ≤ 2 bits
    * each but from EACH OTHER by up to 4 — beyond maxDist — so only
    * transitive resolution through the base yields the keep-list. */
  private def p95(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
      .flatMap { id =>
        val n = (200 + id % 100).toInt
        val b = n / 65
        def pert(off: Long, w: Int) = Multimodal.MediaRow(id + off, "audio/wav",
          Multimodal.encodeWav(Array.tabulate(n) { i =>
            val v = (((id * 31 + i.toLong * i * 7) % 20001) - 10000).toInt
            if (i >= w * b && i < (w + 1) * b) v + 1000 else v
          }, 8000))
        Seq(Multimodal.MediaRow(id, "audio/wav", Multimodal.synthWavAsset(id))) ++
          (if (id % 10 == 0) Seq(pert(5000000L, 5)) else Seq.empty) ++
          (if (id % 20 == 0) Seq(pert(6000000L, 9)) else Seq.empty)
      }
      .toDF()
    Multimodal.resolveAudioNearDups(media, nWindows = 65, maxDist = 3)
      .orderBy("doc_id")
  }

  private val audioResolveOracleSql =
    """WITH ids AS (SELECT doc_id, doc_id AS src_id, 0 AS dk FROM documents
      |             UNION ALL
      |             SELECT doc_id + 5000000, doc_id, 1 FROM documents
      |             WHERE doc_id % 10 = 0
      |             UNION ALL
      |             SELECT doc_id + 6000000, doc_id, 2 FROM documents
      |             WHERE doc_id % 20 = 0),
      |par AS (SELECT doc_id, src_id, dk,
      |          CAST(200 + src_id % 100 AS INT) AS n FROM ids),
      |en AS (SELECT doc_id, n,
      |  list_transform(range(65), w ->
      |    list_sum(list_transform(
      |      range(w * (n // 65),
      |            CASE WHEN w = 64 THEN n ELSE (w + 1) * (n // 65) END),
      |      i -> ((src_id*31 + i*i*7) % 20001 - 10000
      |            + CASE WHEN dk = 1 AND i >= 5 * (n // 65)
      |                        AND i < 6 * (n // 65) THEN 1000
      |                   WHEN dk = 2 AND i >= 9 * (n // 65)
      |                        AND i < 10 * (n // 65) THEN 1000
      |                   ELSE 0 END)
      |           * ((src_id*31 + i*i*7) % 20001 - 10000
      |            + CASE WHEN dk = 1 AND i >= 5 * (n // 65)
      |                        AND i < 6 * (n // 65) THEN 1000
      |                   WHEN dk = 2 AND i >= 9 * (n // 65)
      |                        AND i < 10 * (n // 65) THEN 1000
      |                   ELSE 0 END))))
      |    AS e
      |  FROM par),
      |fp AS (SELECT doc_id,
      |  array_to_string(list_transform(range(8), b ->
      |    printf('%02x', CAST(list_sum(list_transform(range(8), j ->
      |      CASE WHEN e[CAST(b*8 + j + 2 AS INT)] > e[CAST(b*8 + j + 1 AS INT)]
      |           THEN 1 << j ELSE 0 END)) AS INT))), '') AS fingerprint
      |  FROM en),
      |bands AS (SELECT doc_id, fingerprint, b,
      |            substr(fingerprint, CAST(b*4+1 AS INT), 4) AS bv
      |          FROM (SELECT doc_id, fingerprint, unnest(range(4)) AS b FROM fp)),
      |pr AS (SELECT DISTINCT a.doc_id AS a_id, bb.doc_id AS b_id,
      |         a.fingerprint AS a_hash, bb.fingerprint AS b_hash
      |       FROM bands a JOIN bands bb
      |       ON a.b = bb.b AND a.bv = bb.bv AND a.doc_id < bb.doc_id),
      |pairs AS (SELECT a_id, b_id FROM (
      |  SELECT a_id, b_id, list_sum(list_transform(range(8), i ->
      |    bit_count(xor(('0x' || substr(a_hash, CAST(i*2+1 AS INT), 2))::BIGINT,
      |                  ('0x' || substr(b_hash, CAST(i*2+1 AS INT), 2))::BIGINT))))
      |    AS hamming FROM pr)
      |  WHERE hamming <= 3),
      |edges AS (SELECT a_id AS a, b_id AS b FROM pairs
      |          UNION SELECT b_id, a_id FROM pairs),
      |reach AS (
      |  WITH RECURSIVE r(s, t) AS (
      |    SELECT doc_id, doc_id FROM fp
      |    UNION
      |    SELECT r.s, e.b FROM r JOIN edges e ON r.t = e.a)
      |  SELECT * FROM r)
      |SELECT s AS doc_id, min(t) AS cluster_id, s = min(t) AS keep
      |FROM reach GROUP BY s ORDER BY doc_id""".stripMargin

  /** Video perceptual near-dup
    * ([[graft.pipeline.Multimodal.videoSeqFingerprint]]): per-sampled-
    * frame dHash folded order-sensitively into a sequence fingerprint,
    * then exact-fingerprint grouping (the p85 shape at video level).
    * Fixture: every 10th doc a RE-ENCODED companion — byte-identical
    * frames in a container with different metadata (fps 8 vs 4), which
    * byte-level dedup provably misses (the payloads differ) while the
    * perceptual fingerprint reads decoded pixels only. The oracle
    * replays each sampled frame's dHash from the synthesis formula. */
  private def p92(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
      .flatMap { id =>
        val base = Multimodal.MediaRow(id, "video/gvid", Multimodal.synthVideoAsset(id))
        if (id % 10 == 0) {
          val (w, h) = ((16 + id % 8).toInt, (12 + id % 5).toInt)
          val frames = (0 until (6 + id % 5).toInt).map(f =>
            Multimodal.encodePng(w, h,
              (x, y) => ((id * 7 + f * 11 + x * 13 + y * 29) % 256).toInt))
          Seq(base, Multimodal.MediaRow(id + 5000000L, "video/gvid",
            Multimodal.encodeVideo(frames, fps = 8)))
        } else Seq(base)
      }
      .toDF()
    val wf = Window.partitionBy("seq_fp")
    Multimodal.videoSeqFingerprint(media, stride = 2)
      .select(col("doc_id"), col("n_frames"), col("n_sampled"), col("seq_fp"),
        min("doc_id").over(wf).as("canonical_id"),
        count(lit(1)).over(wf).as("group_size"))
      .orderBy("doc_id")
  }

  private val videoNearDupOracleSql =
    """WITH ids AS (SELECT doc_id, doc_id AS src_id FROM documents
      |             UNION ALL
      |             SELECT doc_id + 5000000, doc_id FROM documents
      |             WHERE doc_id % 10 = 0),
      |par AS (SELECT doc_id, src_id, 16 + src_id % 8 AS w, 12 + src_id % 5 AS h,
      |          CAST(6 + src_id % 5 AS INT) AS nf FROM ids),
      |fp AS (SELECT doc_id, nf,
      |  CAST(len(list_filter(range(nf), f -> f % 2 = 0)) AS INT) AS n_sampled,
      |  md5(array_to_string(list_transform(list_filter(range(nf), f -> f % 2 = 0), f ->
      |    array_to_string(list_transform(range(8), y ->
      |      printf('%02x', CAST(list_sum(list_transform(range(8), x ->
      |        CASE WHEN (src_id*7 + f*11 + (((x+1)*w)//9)*13 + ((y*h)//8)*29) % 256
      |                > (src_id*7 + f*11 + ((x*w)//9)*13 + ((y*h)//8)*29) % 256
      |             THEN 1 << x ELSE 0 END)) AS INT))), '')), '')) AS seq_fp
      |  FROM par),
      |g AS (SELECT seq_fp, min(doc_id) AS canonical_id,
      |        count(*) AS group_size FROM fp GROUP BY seq_fp)
      |SELECT fp.doc_id, fp.nf AS n_frames, fp.n_sampled, fp.seq_fp,
      |  CAST(g.canonical_id AS BIGINT) AS canonical_id,
      |  CAST(g.group_size AS BIGINT) AS group_size
      |FROM fp JOIN g USING (seq_fp)
      |ORDER BY doc_id""".stripMargin

  /** Image resize ([[graft.pipeline.Multimodal.resizeFeatures]]): every
    * doc's synthesized PNG resampled nearest-neighbor to 8×6, verified by
    * exact integer digests of the resized raster; the oracle replays the
    * resample from the synthesis formula — valid because PNG is
    * lossless. */
  private def p97(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
      .map(id => Multimodal.MediaRow(id, "image/png", Multimodal.synthPngAsset(id)))
      .toDF()
    Multimodal.resizeFeatures(media, outW = 8, outH = 6).orderBy("doc_id")
  }

  private val imageResizeOracleSql =
    """WITH dims AS (SELECT doc_id, 16 + doc_id % 8 AS w, 12 + doc_id % 5 AS h
      |              FROM documents),
      |px AS (SELECT doc_id, w, h,
      |  flatten(list_transform(range(6), y -> list_transform(range(8), x ->
      |    (doc_id*7 + ((x*w)//8)*13 + ((y*h)//6)*29) % 256))) AS p
      |  FROM dims)
      |SELECT doc_id, CAST(w AS INT) AS src_w, CAST(h AS INT) AS src_h,
      |  CAST(8 AS INT) AS out_w, CAST(6 AS INT) AS out_h,
      |  CAST(list_sum(p) AS BIGINT) AS sum_px,
      |  md5(array_to_string(p, ',')) AS px_md5
      |FROM px ORDER BY doc_id""".stripMargin

  /** Tolerant video near-dup pairs
    * ([[graft.pipeline.Multimodal.videoNearDupPairs]]): per-frame dHash
    * bands keyed (frame, band) + exact total-Hamming verify — catches
    * what p92's exact sequence grouping cannot. Fixture: every 10th doc
    * a re-encoded companion with ONE pixel zeroed in ONE sampled frame;
    * its sequence fingerprint differs (p92 misses it) but the total
    * frame distance is ≤ 1 bit. */
  private def p96(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
      .flatMap { id =>
        val base = Multimodal.MediaRow(id, "video/gvid", Multimodal.synthVideoAsset(id))
        if (id % 10 == 0) {
          val (w, h) = ((16 + id % 8).toInt, (12 + id % 5).toInt)
          val frames = (0 until (6 + id % 5).toInt).map(f =>
            Multimodal.encodePng(w, h, (x, y) =>
              if (f == 2 && x == 6 && y == 4) 0
              else ((id * 7 + f * 11 + x * 13 + y * 29) % 256).toInt))
          Seq(base, Multimodal.MediaRow(id + 5000000L, "video/gvid",
            Multimodal.encodeVideo(frames, fps = 8)))
        } else Seq(base)
      }
      .toDF()
    Multimodal.videoNearDupPairs(media, stride = 2, maxTotal = 6)
      .orderBy("a_id", "b_id")
  }

  private val videoNearDupPairsOracleSql =
    """WITH ids AS (SELECT doc_id, doc_id AS src_id, FALSE AS is_dent
      |             FROM documents
      |             UNION ALL
      |             SELECT doc_id + 5000000, doc_id, TRUE FROM documents
      |             WHERE doc_id % 10 = 0),
      |par AS (SELECT doc_id, src_id, is_dent,
      |          16 + src_id % 8 AS w, 12 + src_id % 5 AS h,
      |          CAST(6 + src_id % 5 AS INT) AS nf FROM ids),
      |sf AS (SELECT doc_id, src_id, is_dent, w, h,
      |         CAST(len(list_filter(range(nf), f -> f % 2 = 0)) AS INT) AS ns,
      |         unnest(list_filter(range(nf), f -> f % 2 = 0)) AS f,
      |         unnest(range(len(list_filter(range(nf), f -> f % 2 = 0))))
      |           AS fidx
      |       FROM par),
      |grid AS (SELECT doc_id, ns, fidx,
      |  list_transform(range(8), y -> list_transform(range(9), x ->
      |    CASE WHEN is_dent AND f = 2
      |              AND ((x*w)//9) = 6 AND ((y*h)//8) = 4 THEN 0
      |         ELSE (src_id*7 + f*11 + ((x*w)//9)*13 + ((y*h)//8)*29) % 256
      |    END)) AS g
      |  FROM sf),
      |fh AS MATERIALIZED (SELECT doc_id, ns, fidx,
      |  array_to_string(list_transform(range(8), y ->
      |    printf('%02x', CAST(list_sum(list_transform(range(8), x ->
      |      CASE WHEN g[CAST(y+1 AS INT)][CAST(x+2 AS INT)]
      |              > g[CAST(y+1 AS INT)][CAST(x+1 AS INT)]
      |           THEN 1 << x ELSE 0 END)) AS INT))), '') AS fhash
      |  FROM grid),
      |bands AS (SELECT doc_id, ns, fidx, b,
      |            substr(fhash, CAST(b*4+1 AS INT), 4) AS bv
      |          FROM (SELECT doc_id, ns, fidx, fhash,
      |                  unnest(range(4)) AS b FROM fh)),
      |cand AS (SELECT DISTINCT a.doc_id AS a_id, bb.doc_id AS b_id
      |         FROM bands a JOIN bands bb
      |         ON a.fidx = bb.fidx AND a.b = bb.b AND a.bv = bb.bv
      |            AND a.ns = bb.ns AND a.doc_id < bb.doc_id),
      |tot AS (SELECT c.a_id, c.b_id,
      |          CAST(sum(list_sum(list_transform(range(8), i ->
      |            bit_count(xor(
      |              ('0x' || substr(fa.fhash, CAST(i*2+1 AS INT), 2))::BIGINT,
      |              ('0x' || substr(fb.fhash, CAST(i*2+1 AS INT), 2))::BIGINT)))))
      |            AS INT) AS total_hamming
      |        FROM cand c JOIN fh fa ON fa.doc_id = c.a_id
      |                    JOIN fh fb ON fb.doc_id = c.b_id
      |                              AND fb.fidx = fa.fidx
      |        GROUP BY c.a_id, c.b_id)
      |SELECT a_id, b_id, total_hamming FROM tot
      |WHERE total_hamming <= 6 ORDER BY a_id, b_id""".stripMargin

  /** SHIFT-tolerant video near-dup
    * ([[graft.pipeline.Multimodal.videoShiftNearDupPairs]]): frame-hash
    * shingle candidates + best-offset alignment verify. Fixture: every
    * 10th doc a TRIMMED re-encode — frame 0 dropped, fps 8 — which p92
    * provably misses (different frame-hash sequence) AND p96 provably
    * misses (n_sampled differs, indexes misaligned), while every interior
    * 2-frame shingle survives and the verify aligns nf−1 frames at
    * offset −1 (the copy's frame i is the source's frame i+1). stride 1:
    * shift tolerance needs every frame hashed. */
  private def p98(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
      .flatMap { id =>
        val base = Multimodal.MediaRow(id, "video/gvid", Multimodal.synthVideoAsset(id))
        if (id % 10 == 0) {
          val (w, h) = ((16 + id % 8).toInt, (12 + id % 5).toInt)
          val frames = (1 until (6 + id % 5).toInt).map(f =>
            Multimodal.encodePng(w, h,
              (x, y) => ((id * 7 + f * 11 + x * 13 + y * 29) % 256).toInt))
          Seq(base, Multimodal.MediaRow(id + 5000000L, "video/gvid",
            Multimodal.encodeVideo(frames, fps = 8)))
        } else Seq(base)
      }
      .toDF()
    Multimodal.videoShiftNearDupPairs(media, stride = 1, shingleK = 2,
        minAligned = 4)
      .orderBy("a_id", "b_id")
  }

  private val videoShiftNearDupOracleSql =
    """WITH ids AS (SELECT doc_id, doc_id AS src_id, 0 AS drop0
      |             FROM documents
      |             UNION ALL
      |             SELECT doc_id + 5000000, doc_id, 1 FROM documents
      |             WHERE doc_id % 10 = 0),
      |par AS (SELECT doc_id, src_id, drop0,
      |          16 + src_id % 8 AS w, 12 + src_id % 5 AS h,
      |          CAST(6 + src_id % 5 AS INT) AS nf FROM ids),
      |fr AS (SELECT doc_id, src_id, drop0, w, h,
      |         unnest(range(nf - drop0)) AS fidx
      |       FROM par),
      |fh AS MATERIALIZED (SELECT doc_id, CAST(fidx AS INT) AS fidx,
      |  array_to_string(list_transform(range(8), y ->
      |    printf('%02x', CAST(list_sum(list_transform(range(8), x ->
      |      CASE WHEN (src_id*7 + (fidx+drop0)*11
      |                 + (((x+1)*w)//9)*13 + ((y*h)//8)*29) % 256
      |              > (src_id*7 + (fidx+drop0)*11
      |                 + ((x*w)//9)*13 + ((y*h)//8)*29) % 256
      |           THEN 1 << x ELSE 0 END)) AS INT))), '') AS fhash
      |  FROM fr),
      |sh AS (SELECT a.doc_id, a.fhash || b.fhash AS shingle
      |       FROM fh a JOIN fh b
      |       ON a.doc_id = b.doc_id AND b.fidx = a.fidx + 1),
      |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |         FROM sh a JOIN sh b
      |         ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
      |mt AS (SELECT c.a_id, c.b_id, fb.fidx - fa.fidx AS off,
      |         count(*) AS cnt
      |       FROM cand c
      |       JOIN fh fa ON fa.doc_id = c.a_id
      |       JOIN fh fb ON fb.doc_id = c.b_id AND fb.fhash = fa.fhash
      |       GROUP BY 1, 2, 3),
      |best AS (SELECT a_id, b_id,
      |           max(struct_pack(n := cnt, no := -off)) AS m
      |         FROM mt GROUP BY a_id, b_id)
      |SELECT a_id, b_id, CAST(-(m['no']) AS INT) AS best_offset,
      |  CAST(m['n'] AS BIGINT) AS n_aligned
      |FROM best WHERE m['n'] >= 4 ORDER BY a_id, b_id""".stripMargin

  /** Markup/boilerplate extraction ([[graft.pipeline.Boilerplate.extract]]):
    * each document rendered as tag soup — a nav bar of pure links, the
    * text in 15-word `<p>` blocks, a link-heavy footer — and the jusText
    * rules must drop exactly the nav (3 words, 3 linked: density 1) and
    * the footer (4 words, 2 linked: density 1/2) plus any trailing
    * content chunk under 3 words, keeping everything else. The oracle
    * replays the CHUNKING FORMULA, never the HTML parser — valid because
    * the markup synthesis is lossless over the word stream (the
    * multimodal-oracle discipline). Documents with no words are excluded
    * by both sides. */
  private def p99(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        filter(split(col("text"), " "), w => w =!= "").as("ws"))
      .where(size(col("ws")) > 0)
    val chunks = transform(
      sequence(lit(0), floor((size(col("ws")) - 1) / lit(15)).cast("int")),
      i => concat(lit("<p>"),
        array_join(slice(col("ws"), i * 15 + 1, lit(15)), " "),
        lit("</p>")))
    val html = toks.select(col("doc_id"), concat(
      lit("<html><body><nav><a href=\"#\">Home</a> <a href=\"#\">About</a>" +
        " <a href=\"#\">Contact</a></nav>"),
      array_join(chunks, ""),
      lit("<footer><a href=\"#\">Privacy</a> <a href=\"#\">Terms</a>" +
        " copyright notice</footer></body></html>")).as("html"))
    Boilerplate.extract(html, "doc_id", "html", minWords = 3)
      .orderBy("doc_id")
  }

  private val boilerplateOracleSql =
    """WITH t AS (SELECT doc_id,
      |             list_filter(string_split(text, ' '), x -> x <> '') AS w
      |           FROM documents),
      |tt AS (SELECT doc_id, w, CAST(len(w) AS INT) AS n
      |       FROM t WHERE len(w) > 0),
      |ch AS (SELECT doc_id, n, w,
      |         CAST(unnest(range((n - 1) // 15 + 1)) AS INT) AS i
      |       FROM tt),
      |blk AS (SELECT doc_id, i, w[i*15+1 : i*15+15] AS cw FROM ch),
      |k AS (SELECT doc_id, i, cw, CAST(len(cw) AS INT) AS bw,
      |        len(cw) >= 3 AS keep FROM blk)
      |SELECT doc_id,
      |  CAST(count(*) + 2 AS INT) AS n_blocks,
      |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS INT) AS n_kept,
      |  CAST(sum(CASE WHEN keep THEN bw ELSE 0 END) AS BIGINT) AS kept_words,
      |  md5(COALESCE(string_agg(CASE WHEN keep
      |    THEN array_to_string(cw, ' ') END, ' ' ORDER BY i), ''))
      |    AS clean_hash
      |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Fixed-point logistic regression ([[graft.pipeline.Logistic]]): the
    * trained linear quality filter next to p63's closed-form NB, on the
    * real label lang='en' with 8 hashed buckets + bias, 3 full-batch GD
    * rounds. The oracle unrolls every round as MATERIALIZED CTEs — each
    * weight update replayed exactly in scaled-integer arithmetic. */
  private def p100(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Logistic.trainPredict(
        Tables.documents(s, d).withColumn("y01",
          when(col("lang") === "en", 1).otherwise(0)),
        "doc_id", "text", "y01", nBuckets = 8, rounds = 3, lrMul = 16L)
      .orderBy("doc_id")

  /** One unrolled GD round: gradient rows g_r from the previous weights,
    * then the truncated-toward-zero update into w_r. */
  private def logisticRoundSql(r: Int): String =
    s"""g$r AS MATERIALIZED (
       |  SELECT j, CAST(sum(xj * err) AS BIGINT) AS g FROM (
       |    SELECT unnest(x) AS xj, unnest(range(9)) AS j,
       |      LEAST(GREATEST(list_sum(list_transform(range(9),
       |        k -> x[CAST(k+1 AS INT)] * w[CAST(k+1 AS INT)]))
       |        + 2000000, 0), 4000000) // 4 - 1000000 * y AS err
       |    FROM f, w${r - 1})
       |  GROUP BY j),
       |w$r AS (SELECT list(w[CAST(j+1 AS INT)]
       |         - CASE WHEN g >= 0 THEN g // lrden
       |                ELSE -((-g) // lrden) END ORDER BY j) AS w
       |       FROM g$r, w${r - 1}, n)""".stripMargin

  private val logisticOracleSql =
    s"""WITH t AS (SELECT doc_id,
       |             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
       |             list_filter(string_split(text, ' '), x -> x <> '') AS ws
       |           FROM documents),
       |f AS MATERIALIZED (SELECT doc_id, CAST(y AS BIGINT) AS y,
       |    list_transform(range(8), j ->
       |      CAST(len(list_filter(ws, w ->
       |        list_reduce(list_prepend(0::BIGINT,
       |          list_transform(range(length(w)),
       |            c -> ascii(substr(w, CAST(c + 1 AS INT), 1))::BIGINT)),
       |          (acc, x) -> (acc * 31 + x) % 1000000007) % 8 = j))
       |        AS BIGINT)) || [1::BIGINT] AS x
       |  FROM t),
       |n AS (SELECT CAST(16 * count(*) AS BIGINT) AS lrden FROM f),
       |w0 AS (SELECT [0,0,0,0,0,0,0,0,0]::BIGINT[] AS w),
       |${logisticRoundSql(1)},
       |${logisticRoundSql(2)},
       |${logisticRoundSql(3)}
       |SELECT doc_id, CAST(y AS INT) AS y, score_fp,
       |  CAST(CASE WHEN score_fp * 2 >= 1000000 THEN 1 ELSE 0 END AS INT)
       |    AS pred,
       |  (CASE WHEN score_fp * 2 >= 1000000 THEN 1 ELSE 0 END) = y
       |    AS correct
       |FROM (SELECT doc_id, y,
       |        CAST(LEAST(GREATEST(list_sum(list_transform(range(9),
       |          k -> x[CAST(k+1 AS INT)] * w[CAST(k+1 AS INT)]))
       |          + 2000000, 0), 4000000) // 4 AS BIGINT) AS score_fp
       |      FROM f, w3)
       |ORDER BY doc_id""".stripMargin

  /** Video frame sampling ([[graft.pipeline.Multimodal.videoFrameFeatures]]):
    * GVID containers (length-prefixed real-PNG frames) decoded
    * per-partition at stride 2 — non-sampled frames are index-skipped,
    * never decoded. The oracle reproduces the frame pixel sums from the
    * synthesis formula directly, no codec needed. */
  private def p44(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
      .map(id => Multimodal.MediaRow(id, "video/gvid", Multimodal.synthVideoAsset(id)))
      .toDF()
    Multimodal.videoFrameFeatures(media, stride = 2).orderBy("doc_id")
  }

  /** p23: the whole curation funnel ([[graft.api.CurationPipeline]]) on a
    * corpus with known positives for every stage: documents ∪ near copies
    * (nearCorpus) ∪ exact copies of the doc_id % 31 slice. Benchmark set =
    * the doc_id % 97 slice (self-decontamination, as p21). The oracle
    * recomputes every stage in SQL — md5 exact groups, the p3 minhash
    * bands + Jaccard verify, recursive-CTE connected components, the p21
    * contamination join, the p8 language CASE and p10 quality formula —
    * and the same first-failing-stage precedence. */
  private def p23(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text", "lang")
    val corpus = nearCorpus(s, d).unionByName(
      docs.where(col("doc_id") % 31 === 0)
        .select((col("doc_id") + 2 * IdOffset).as("doc_id"),
          col("text"), col("lang")))
    graft.api.CurationPipeline.curate(corpus,
        docs.where(col("doc_id") % 97 === 0), "doc_id", "text",
        graft.api.CurationPipeline.Config(ngram = 2, numHashes = 64,
          bandRows = 4, minSim = 0.8, decontamNgram = 5,
          maxContamFrac = 0.3, lang = "en", minQuality = 0.3))
      // 'kept' instead of a null reason: keeps the oracle hash-compare off
      // null-vs-NaN normalization entirely
      .withColumn("drop_reason", coalesce(col("drop_reason"), lit("kept")))
      .orderBy("doc_id")
  }

  /** CCNet perplexity bucketing
    * ([[graft.pipeline.TextAnalysis.ccnetBuckets]]): the p22 bigram LM
    * score split into per-language head/middle/tail by value cutoffs read
    * off the perplexity histogram — never an NTILE over a whole
    * language's documents in one task. */
  private def p65(s: SparkSession, d: String): DataFrame =
    TextAnalysis.ccnetBuckets(Tables.documents(s, d), "doc_id", "text",
        "lang", topK = 50, alpha = 0.5)
      .orderBy("doc_id")

  /** Sorted-neighborhood dedup blocking
    * ([[graft.pipeline.Dedup.sortedNeighborhood]]): window 4 over the
    * 12-char lowercase prefix — the sort-adjacency complement to the
    * p3 LSH buckets. */
  private def p66(s: SparkSession, d: String): DataFrame =
    Dedup.sortedNeighborhood(Tables.documents(s, d), "doc_id",
        lower(substring(col("text"), 1, 12)), window = 4)
      .orderBy("a_id", "b_id")

  /** Top principal direction
    * ([[graft.pipeline.Projection.powerIteration]]): 3 power-iteration
    * rounds over the p45 distributed Gram matrix — the eigensolve half
    * of PCA, run on the d×d reduce artifact, not the corpus. */
  private def p67(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Projection.powerIteration(
      graft.pipeline.Projection.gramMatrix(Tables.embeddings(s, d),
        "embedding"), dims = 64, rounds = 3)

  /** Rendezvous-hash sharding
    * ([[graft.pipeline.Sampling.rendezvousShard]]): highest-random-weight
    * placement over 8 shards — consistent placement (≈1/(S+1) keys move
    * on grow) next to p28's mod hashing, computed entirely inside one
    * codegen'd projection. */
  private def p68(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Sampling.rendezvousShard(Tables.documents(s, d),
        "doc_id", nShards = 8)
      .orderBy("doc_id")

  /** PMI co-occurrence ([[graft.pipeline.TextAnalysis.pmiCooccurrence]]):
    * document-level association over the top-30 vocabulary. */
  private def p69(s: SparkSession, d: String): DataFrame =
    TextAnalysis.pmiCooccurrence(Tables.documents(s, d), "doc_id", "text",
        vocabK = 30, minPairs = 2)
      .orderBy("w1", "w2")

  /** HyperBall neighborhood function ([[graft.graph.HyperBall]]) over
    * the trade graph: KMV-sketched ball sizes for r = 0..3 at k = 16 —
    * the effective-diameter / spam-mass primitive, with the sketch made
    * of portable integer hashes so the oracle replays every round. */
  private def p71(s: SparkSession, d: String): DataFrame =
    graft.graph.HyperBall.neighborhood(tradeEdges(s, d), "src", "dst",
        rounds = 3, k = 16)
      .orderBy("node", "r")

  /** The p71 oracle: the KMV merge recurrence unrolled — per round,
    * sketches flow along edges, union with self, distinct, bottom-k by
    * row_number; estimates read msz/θ per round with the kmvIntersect
    * integer estimator. */
  private def hyperballOracleSql(rounds: Int, k: Int): String = {
    val km = (k - 1).toLong * 1000000007L
    val chain = (1 to rounds).map { i =>
      s"""s$i AS MATERIALIZED (SELECT node, ih FROM (
         |  SELECT node, ih, row_number() OVER (PARTITION BY node
         |    ORDER BY ih) AS rn
         |  FROM (SELECT DISTINCT node, ih FROM (
         |    SELECT ed.dst AS node, s.ih FROM ed JOIN s${i - 1} s ON ed.src = s.node
         |    UNION SELECT node, ih FROM s${i - 1})))
         |  WHERE rn <= $k)""".stripMargin
    }.mkString(",\n")
    val ests = (0 to rounds).map { r =>
      s"""SELECT node, $r AS r, count(*) AS msz,
         |  CASE WHEN count(*) < $k THEN count(*)
         |       ELSE $km // max(ih) END AS ball_est
         |FROM s$r GROUP BY node""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $tradeEdgesSqlPrefix,
       |n0 AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
       |hh AS (SELECT node,
       |         ((node % 1000000007) * 2654435761 + 987654321) % 1000000007 AS h
       |       FROM n0),
       |s0 AS MATERIALIZED (SELECT node,
       |        (h * h + h * 1103515245 + 12345) % 1000000007 AS ih
       |      FROM hh),
       |$chain
       |SELECT node, CAST(r AS INT) AS r, CAST(msz AS BIGINT) AS msz,
       |       CAST(ball_est AS BIGINT) AS ball_est
       |FROM ($ests)
       |ORDER BY node, r""".stripMargin
  }

  /** Fellegi–Sunter record-linkage scoring
    * ([[graft.pipeline.RecordLinkage.fellegiSunter]]) over the
    * [[graft.pipeline.Dedup.sortedNeighborhood]] candidates: corpus-
    * estimated u-probabilities, m = 0.95, four fields (lang, source,
    * length bucket, first token) summed in fixed field order. */
  private def p72(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val f = docs.select(col("doc_id"), col("lang"), col("source"),
      expr("n_chars div 100").as("len_bucket"),
      coalesce(get(TextAnalysis.words(col("text")), lit(0)), lit(""))
        .as("first_tok"))
    val pairs = Dedup.sortedNeighborhood(docs, "doc_id",
      lower(substring(col("text"), 1, 12)), window = 4)
    graft.pipeline.RecordLinkage.fellegiSunter(f, "doc_id",
        Seq("lang", "source", "len_bucket", "first_tok"), pairs, m = 0.95)
      .orderBy("a_id", "b_id")
  }

  private val fellegiSunterOracleSql = {
    val fields = Seq("lang", "source", "len_bucket", "first_tok")
    val uCtes = fields.map { f =>
      s"""u_$f AS (SELECT (CAST((SELECT sum(c * c) FROM (
         |    SELECT count(*) AS c FROM f GROUP BY $f)) AS DOUBLE) - n)
         |  / (CAST(n AS DOUBLE) * n - n) AS u FROM cnt)""".stripMargin
    }.mkString(",\n")
    // fixed field order, left-associated adds — the Scala reduce shape
    val score = fields.zipWithIndex.map { case (f, i) =>
      s"""CASE WHEN fa.$f IS NOT DISTINCT FROM fb.$f
         | THEN ln(0.95 / u${i + 1}.u)
         | ELSE ln((1 - 0.95) / (1 - u${i + 1}.u)) END""".stripMargin
    }.mkString(" + ")
    val nAgree = fields.map(f =>
      s"CASE WHEN fa.$f IS NOT DISTINCT FROM fb.$f THEN 1 ELSE 0 END")
      .mkString(" + ")
    val uFrom = fields.zipWithIndex.map { case (f, i) =>
      s"u_$f u${i + 1}" }.mkString(", ")
    s"""WITH f AS (SELECT doc_id, lang, source, n_chars // 100 AS len_bucket,
       |    coalesce(list_filter(string_split(text, ' '), x -> x <> '')[1],
       |             '') AS first_tok
       |  FROM documents),
       |cnt AS (SELECT count(*)::BIGINT AS n FROM f),
       |$uCtes,
       |k AS (SELECT doc_id, substr(lower(text), 1, 12) AS key FROM documents),
       |r AS (SELECT doc_id, key,
       |        row_number() OVER (ORDER BY key, doc_id) AS rn FROM k),
       |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |      FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 3)
       |SELECT p.a_id, p.b_id,
       |  CAST($nAgree AS INT) AS n_agree,
       |  round($score, 6) AS score,
       |  round($score, 6) > 0 AS is_match
       |FROM p JOIN f fa ON fa.doc_id = p.a_id
       |       JOIN f fb ON fb.doc_id = p.b_id, $uFrom
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** Adamic–Adar link prediction ([[graft.graph.LinkPrediction]]) over
    * the trade graph: fixed-point 1/ln(deg) weights, hub cut at 64,
    * pairs with ≥ 2 common neighbors. */
  private def p75(s: SparkSession, d: String): DataFrame =
    graft.graph.LinkPrediction.adamicAdar(tradeEdges(s, d), "src", "dst",
        maxDeg = 64, minCommon = 2)
      .orderBy("a_id", "b_id")

  /** HITS hubs/authorities ([[graft.graph.Hits]]) over the DIRECTED
    * customer→supplier trade graph (the bidirectional form would make
    * hub = authority by symmetry): 2 mutual-reinforcement rounds on the
    * 2²⁰ fixed-point grid, max-normalized with integer division. */
  private def p76(s: SparkSession, d: String): DataFrame = {
    val e0 = Tables.orders(s, d)
      .select(col("o_orderkey"), (col("o_custkey") * 2).as("src"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"),
          (col("l_suppkey") * 2 + 1).as("dst")),
        col("o_orderkey") === col("l_orderkey"))
      .select("src", "dst").distinct()
    graft.graph.Hits.hits(e0, "src", "dst", rounds = 2).orderBy("node")
  }

  /** The p76 oracle: the mutual-reinforcement recurrence unrolled — per
    * round an authority half (edge join, integer sum, max-normalize) and
    * the mirrored hub half. */
  private def hitsOracleSql(rounds: Int): String = {
    val one = 1048576L
    val chain = (1 to rounds).map { r =>
      s"""a${r}r AS (SELECT e0.dst AS node, sum(h${r - 1}.h) AS raw
         |  FROM e0 JOIN h${r - 1} ON e0.src = h${r - 1}.node GROUP BY e0.dst),
         |a${r}f AS (SELECT n.node, coalesce(a${r}r.raw, 0) AS raw
         |  FROM nd n LEFT JOIN a${r}r USING (node)),
         |a${r}m AS (SELECT max(raw) AS m FROM a${r}f),
         |a$r AS MATERIALIZED (SELECT node,
         |  CAST(raw * $one // m AS BIGINT) AS a FROM a${r}f, a${r}m),
         |h${r}r AS (SELECT e0.src AS node, sum(a$r.a) AS raw
         |  FROM e0 JOIN a$r ON e0.dst = a$r.node GROUP BY e0.src),
         |h${r}f AS (SELECT n.node, coalesce(h${r}r.raw, 0) AS raw
         |  FROM nd n LEFT JOIN h${r}r USING (node)),
         |h${r}m AS (SELECT max(raw) AS m FROM h${r}f),
         |h$r AS MATERIALIZED (SELECT node,
         |  CAST(raw * $one // m AS BIGINT) AS h FROM h${r}f, h${r}m)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |nd AS MATERIALIZED (SELECT src AS node FROM e0
       |                    UNION SELECT dst FROM e0),
       |h0 AS (SELECT node, $one::BIGINT AS h FROM nd),
       |$chain
       |SELECT node, round(a$rounds.a / 1048576.0, 6) AS authority,
       |       round(h$rounds.h / 1048576.0, 6) AS hub
       |FROM nd JOIN a$rounds USING (node) JOIN h$rounds USING (node)
       |ORDER BY node""".stripMargin
  }

  /** Retrieval NDCG ([[graft.pipeline.Eval.ndcg]]): the p5 exact cosine
    * ranking scored against the embeddings' class labels as binary
    * relevance — the measurement half of the ANN ladder (p5/p6/p13/p30/
    * p32 trade recall for cost; this is the metric they trade in). */
  private def p73(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val ranked = Similarity.bruteForceTopK(e, e.where(col("vec_id") < 10),
      "vec_id", "embedding", k = 10)
    val lbl = e.select(col("vec_id"), col("label"))
    val withRel = ranked
      .join(lbl.select(col("vec_id").as("query_id"),
        col("label").as("q_label")), "query_id")
      .join(lbl.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), "neighbor_id")
    graft.pipeline.Eval.ndcg(withRel, "query_id", "rank",
        col("q_label") === col("n_label"))
      .orderBy("query_id")
  }

  /** Classifier eval ([[graft.pipeline.Eval.classifierEval]]): per-class
    * precision/recall/F1 of the p63 Naive Bayes language predictions —
    * closing the train → predict → measure loop. */
  private def p74(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Eval.classifierEval(
        graft.pipeline.NaiveBayes.trainPredict(
          Tables.documents(s, d), "doc_id", "text", "lang", vocabK = 50),
        "lang", "pred")
      .orderBy("cls")

  /** Neighborhood function / effective diameter — what HyperBall exists
    * to compute (Boldi–Vigna §1): N(r) = Σ_v |ball_r(v)| per radius and
    * the fraction of the final-round reach, flagging the radii at ≥ 90%
    * (the effective-diameter cut). One tiny per-radius aggregate over
    * the p71 sketch estimates. */
  private def p77(s: SparkSession, d: String): DataFrame = {
    val nb = graft.graph.HyperBall.neighborhood(tradeEdges(s, d),
      "src", "dst", rounds = 3, k = 16)
    val byR = nb.groupBy("r").agg(sum("ball_est").as("n_reach"))
    val tot = byR.agg(max(when(col("r") === 3, col("n_reach"))).as("nmax"))
    byR.crossJoin(broadcast(tot))
      .select(col("r"), col("n_reach"),
        round(col("n_reach").cast("double") / col("nmax"), 6).as("frac"),
        (col("n_reach").cast("double") / col("nmax") >= 0.9).as("reaches90"))
      .orderBy("r")
  }

  private def effDiamOracleSql: String = {
    val hb = hyperballOracleSql(3, 16)
    s"""WITH byr AS (SELECT r, sum(ball_est) AS n_reach
       |             FROM ($hb) GROUP BY r),
       |tot AS (SELECT max(CASE WHEN r = 3 THEN n_reach END) AS nmax FROM byr)
       |SELECT byr.r, CAST(byr.n_reach AS BIGINT) AS n_reach,
       |  round(byr.n_reach::DOUBLE / tot.nmax, 6) AS frac,
       |  byr.n_reach::DOUBLE / tot.nmax >= 0.9 AS reaches90
       |FROM byr, tot ORDER BY r""".stripMargin
  }

  /** Per-dimension z-score standardization
    * ([[graft.pipeline.Projection.standardize]]): fixed-point moment
    * sums → broadcast (d-row) statistics → stateless z map. */
  private def p70(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Projection.standardize(Tables.embeddings(s, d),
        "vec_id", "embedding")
      .orderBy("vec_id", "i")

  val entries: Seq[Q] = Seq(
    Q("p1_exact_dedup", p1,
      Some(s"""WITH corpus AS ($exactCorpusSql),
              |h AS (SELECT doc_id, md5(text) AS text_hash FROM corpus)
              |SELECT doc_id, text_hash,
              |       count(*) OVER (PARTITION BY text_hash) AS group_size,
              |       min(doc_id) OVER (PARTITION BY text_hash) AS canonical_id
              |FROM h
              |QUALIFY count(*) OVER (PARTITION BY text_hash) > 1
              |ORDER BY doc_id""".stripMargin)),
    Q("p2_ngram_jaccard", p2,
      Some(s"""WITH corpus AS ($nearCorpusSql),
              |g AS (SELECT doc_id, lang,
              |        list_distinct(list_transform(range(len(w) - 1),
              |          i -> w[i+1] || ' ' || w[i+2])) AS grams
              |      FROM (SELECT doc_id, lang,
              |              list_filter(string_split(text, ' '), x -> x <> '') AS w
              |            FROM corpus))
              |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              |       round(len(list_intersect(a.grams, b.grams))::DOUBLE /
              |             (len(a.grams) + len(b.grams)
              |              - len(list_intersect(a.grams, b.grams))), 6) AS jaccard
              |FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
              |WHERE round(len(list_intersect(a.grams, b.grams))::DOUBLE /
              |            (len(a.grams) + len(b.grams)
              |             - len(list_intersect(a.grams, b.grams))), 6) >= 0.8
              |ORDER BY a_id, b_id""".stripMargin)),
    Q("p17_dedup_resolve", p17,
      Some(s"""WITH corpus AS ($nearCorpusSql),
              |g AS (SELECT doc_id, lang,
              |        list_distinct(list_transform(range(len(w) - 1),
              |          i -> w[i+1] || ' ' || w[i+2])) AS grams
              |      FROM (SELECT doc_id, lang,
              |              list_filter(string_split(text, ' '), x -> x <> '') AS w
              |            FROM corpus)),
              |pairs AS (
              |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
              |  FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
              |  WHERE round(len(list_intersect(a.grams, b.grams))::DOUBLE /
              |              (len(a.grams) + len(b.grams)
              |               - len(list_intersect(a.grams, b.grams))), 6) >= 0.8),
              |edges AS (SELECT a_id AS a, b_id AS b FROM pairs
              |          UNION SELECT b_id, a_id FROM pairs),
              |reach AS (
              |  WITH RECURSIVE r(s, t) AS (
              |    SELECT doc_id, doc_id FROM corpus
              |    UNION
              |    SELECT r.s, e.b FROM r JOIN edges e ON r.t = e.a)
              |  SELECT * FROM r)
              |SELECT s AS doc_id, min(t) AS cluster_id,
              |       s = min(t) AS keep
              |FROM reach GROUP BY s ORDER BY doc_id""".stripMargin)),
    Q("p3_minhash_lsh", p3,
      Some(s"""WITH corpus AS ($nearCorpusSql),
              |g AS (SELECT doc_id,
              |        list_distinct(list_transform(range(len(w) - 1),
              |          i -> w[i+1] || ' ' || w[i+2])) AS grams
              |      FROM (SELECT doc_id,
              |              list_filter(string_split(text, ' '), x -> x <> '') AS w
              |            FROM corpus)),
              |hh AS (SELECT doc_id, grams,
              |        list_transform(grams, s ->
              |          list_reduce(list_prepend(0::BIGINT,
              |            list_transform(range(length(s)),
              |              c -> ascii(substr(s, CAST(c + 1 AS INT), 1))::BIGINT)),
              |            (acc, x) -> (acc * 31 + x) % 1000000007)) AS hs
              |       FROM g WHERE len(grams) > 0),
              |sig AS (SELECT doc_id,
              |         list_transform(range(64), i -> list_min(list_transform(hs, h ->
              |           ((((2*i+1) * 1103515245) % 1000000007) * h
              |            + (((i+1) * 12345) % 1000000007)) % 1000000007))) AS sig
              |        FROM hh),
              |banded AS (SELECT doc_id,
              |            unnest(list_transform(range(16), t ->
              |              list_reduce(list_prepend((t+1)::BIGINT, sig[t*4+1 : t*4+4]),
              |                (acc, x) -> (acc * 31 + x) % 1000000007))) AS band_key
              |           FROM sig),
              |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
              |         FROM banded a JOIN banded b
              |           ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
              |j AS (SELECT c.a_id, c.b_id,
              |        round(len(list_intersect(ga.grams, gb.grams))::DOUBLE /
              |              (len(ga.grams) + len(gb.grams)
              |               - len(list_intersect(ga.grams, gb.grams))), 6) AS jaccard
              |      FROM cand c JOIN hh ga ON ga.doc_id = c.a_id
              |                  JOIN hh gb ON gb.doc_id = c.b_id)
              |SELECT a_id, b_id, jaccard FROM j WHERE jaccard >= 0.8
              |ORDER BY a_id, b_id""".stripMargin)),
    Q("p4_simhash", p4,
      Some(s"""WITH corpus AS ($nearCorpusSql),
              |w AS (SELECT doc_id,
              |        list_filter(string_split(text, ' '), x -> x <> '') AS ws
              |      FROM corpus),
              |h AS (SELECT doc_id, ${polyMixSql(31, 2654435761L, 987654321L)} AS h1,
              |                     ${polyMixSql(37, 1540483477L, 12345701L)} AS h2
              |      FROM w),
              |sh AS (SELECT doc_id, CAST(
              |        coalesce(list_sum(list_transform(range(30), b -> CASE WHEN
              |          coalesce(list_sum(list_transform(h1,
              |            v -> CASE WHEN ((v >> b) & 1) = 1 THEN 1 ELSE -1 END)), 0) > 0
              |          THEN (1::BIGINT << b) ELSE 0::BIGINT END)), 0)
              |        + coalesce(list_sum(list_transform(range(30), b -> CASE WHEN
              |          coalesce(list_sum(list_transform(h2,
              |            v -> CASE WHEN ((v >> b) & 1) = 1 THEN 1 ELSE -1 END)), 0) > 0
              |          THEN (1::BIGINT << (b + 30)) ELSE 0::BIGINT END)), 0) AS BIGINT) AS sh
              |       FROM h),
              |ch AS (SELECT doc_id, sh, c, (sh >> (c * 15)) & 32767 AS v
              |       FROM sh, unnest([0, 1, 2, 3]) AS t(c)),
              |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
              |                a.sh AS a_sh, b.sh AS b_sh
              |         FROM ch a JOIN ch b
              |           ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id)
              |SELECT a_id, b_id, CAST(bit_count(xor(a_sh, b_sh)) AS INT) AS hamming
              |FROM cand WHERE bit_count(xor(a_sh, b_sh)) <= 3
              |ORDER BY a_id, b_id""".stripMargin)),
    Q("p5_cosine_topk", p5,
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
             |           FROM embeddings WHERE vec_id < 5),
             |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             |        round(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]), 6) AS sim
             |      FROM embeddings e CROSS JOIN q
             |      WHERE e.vec_id <> q.query_id)
             |SELECT query_id, neighbor_id, sim, rank FROM (
             |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             |    ORDER BY sim DESC, neighbor_id) AS INT) AS rank FROM s)
             |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),
    Q("p6_ann_lsh", p6,
      Some(s"""WITH sig AS ($rhSigSql FROM embeddings),
              |c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec, sig AS bucket
              |      FROM sig),
              |q AS (SELECT vec_id AS query_id, embedding AS q_vec,
              |        unnest(list_prepend(sig, list_transform(range(8),
              |          j -> xor(sig, 1::BIGINT << j)))) AS bucket
              |      FROM sig WHERE vec_id < 5),
              |s AS (SELECT q.query_id, c.neighbor_id,
              |        round(list_cosine_similarity(q.q_vec::DOUBLE[],
              |                                     c.c_vec::DOUBLE[]), 6) AS sim
              |      FROM c JOIN q USING (bucket) WHERE c.neighbor_id <> q.query_id)
              |SELECT query_id, neighbor_id, sim, rank FROM (
              |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              |    ORDER BY sim DESC, neighbor_id) AS INT) AS rank FROM s)
              |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),
    Q("p13_ann_ivf", p13,
      // Quantizer training reproduced via the shared ivfCentsSql fragment;
      // candidate scoring reuses the proven list_cosine_similarity round-6
      // pattern from p5/p6.
      Some(s"""WITH ${ivfCentsSql("embeddings")},
              |$ivfProbeSql,
              |s AS (SELECT q.query_id, c.neighbor_id,
              |        round(list_cosine_similarity(q.q_vec::DOUBLE[], c.c_vec::DOUBLE[]), 6) AS sim
              |      FROM qp q JOIN corp c USING (cell) WHERE q.query_id <> c.neighbor_id)
              |SELECT query_id, neighbor_id, sim, rank FROM (
              |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              |    ORDER BY sim DESC, neighbor_id) AS INT) AS rank FROM s)
              |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),
    Q("p30_ann_ivf_sq8", p30,
      // p13's cells + probes, with the corpus side re-encoded to int8
      // (the p27 stats/rng CTEs) and scored on the dequantized codes in
      // the exact double op order of Similarity.ivfSq8TopK.
      Some(s"""WITH ${ivfCentsSql("embeddings")},
              |$ivfProbeSql,
              |$sqRangesSql,
              |dqc AS (SELECT c.neighbor_id, c.cell,
              |          list_transform(range(64), i ->
              |            CASE WHEN his[i+1] > los[i+1] THEN
              |              los[i+1] + CAST(least(greatest(
              |                floor((c.c_vec[i+1]::DOUBLE - los[i+1])
              |                  / (his[i+1] - los[i+1]) * 255 + 0.5), 0), 255) AS INT)::DOUBLE
              |                * (his[i+1] - los[i+1]) / 255
              |            ELSE los[i+1] END) AS dq
              |        FROM corp c, rng),
              |s AS (SELECT q.query_id, d.neighbor_id,
              |        round(list_sum(list_transform(range(64), i ->
              |            q.q_vec[i+1]::DOUBLE * d.dq[i+1]))
              |          / (sqrt(list_sum(list_transform(q.q_vec,
              |               x -> x::DOUBLE * x::DOUBLE)))
              |           * sqrt(list_sum(list_transform(d.dq, x -> x * x)))), 6) AS sim
              |      FROM qp q JOIN dqc d USING (cell)
              |      WHERE q.query_id <> d.neighbor_id)
              |SELECT query_id, neighbor_id, sim, rank FROM (
              |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              |    ORDER BY sim DESC, neighbor_id) AS INT) AS rank FROM s)
              |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),
    Q("p32_ann_ivf_pq", p32,
      // p13's cells + probes with product-quantized inverted lists: the
      // pqCodebookSql chain reproduces trainPq/encode, and scoring is
      // the p30 CTE shape over the reconstructed `dq` vectors.
      Some(s"""WITH ${ivfCentsSql("embeddings")},
              |$ivfProbeSql,
              |$pqCodebookSql,
              |s AS (SELECT q.query_id, d.neighbor_id,
              |        round(list_sum(list_transform(range(64), i ->
              |            q.q_vec[i+1]::DOUBLE * d.dq[i+1]))
              |          / (sqrt(list_sum(list_transform(q.q_vec,
              |               x -> x::DOUBLE * x::DOUBLE)))
              |           * sqrt(list_sum(list_transform(d.dq, x -> x * x)))), 6) AS sim
              |      FROM qp q JOIN pdq d USING (cell)
              |      WHERE q.query_id <> d.neighbor_id)
              |SELECT query_id, neighbor_id, sim, rank FROM (
              |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              |    ORDER BY sim DESC, neighbor_id) AS INT) AS rank FROM s)
              |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),
    Q("p39_dsir", p39, {
      // portable poly31 bucket hash of a string expression (the p3/p4
      // nested-lambda pattern), mod 1024 feature buckets
      def pb(s: String) =
        s"""(list_reduce(list_prepend(0::BIGINT,
           |   list_transform(range(length($s)),
           |     c -> ascii(substr($s, CAST(c + 1 AS INT), 1))::BIGINT)),
           |   (acc, x) -> (acc * 31 + x) % 1000000007) % 1024)""".stripMargin
      Some(s"""WITH base AS (SELECT doc_id, lang,
              |         list_filter(string_split(text, ' '), x -> x <> '') AS ws
              |       FROM documents),
              |feat AS MATERIALIZED (SELECT doc_id, lang,
              |  list_concat(
              |    list_transform(ws, w -> CAST(${pb("w")} AS INT)),
              |    list_transform(range(CASE WHEN len(ws) > 0 THEN len(ws) - 1 ELSE 0 END),
              |      i -> CAST(${pb("(ws[i+1] || ' ' || ws[i+2])")} AS INT))) AS feats
              |  FROM base),
              |cnts AS (SELECT b, sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tc,
              |           count(*) AS rc
              |         FROM (SELECT lang, unnest(feats) AS b FROM feat) GROUP BY b),
              |tot AS (SELECT CAST((SELECT coalesce(sum(tc), 0) FROM cnts) AS DOUBLE) AS nt,
              |               CAST((SELECT coalesce(sum(rc), 0) FROM cnts) AS DOUBLE) AS nr),
              |lw AS (SELECT list(
              |         ln((coalesce(c.tc, 0) + 0.5) / (t.nt + 512.0))
              |         - ln((coalesce(c.rc, 0) + 0.5) / (t.nr + 512.0))
              |         ORDER BY r.range) AS lwl
              |       FROM range(1024) r LEFT JOIN cnts c ON c.b = r.range, tot t),
              |sc AS (SELECT f.doc_id,
              |         round(coalesce(list_sum(list_transform(f.feats, x -> l.lwl[x+1])), 0.0), 6)
              |           AS dsir_logw
              |       FROM feat f, lw l)
              |SELECT doc_id, dsir_logw, rank FROM (
              |  SELECT *, CAST(row_number() OVER (ORDER BY dsir_logw DESC, doc_id) AS INT) AS rank
              |  FROM sc)
              |WHERE rank <= 100 ORDER BY rank""".stripMargin)
    }),
    Q("p38_bm25", p38,
      // float-order parity: partial scores fold in lexicographic term
      // order on both sides (list ORDER BY term ≙ sort_array over the
      // collected (term, part) structs)
      Some("""WITH terms AS (SELECT doc_id, word AS term, count(*) AS tf FROM (
             |    SELECT doc_id, unnest(list_filter(string_split(text, ' '),
             |      x -> x <> '')) AS word FROM documents)
             |  GROUP BY doc_id, word),
             |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
             |       FROM terms GROUP BY doc_id),
             |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
             |dft AS (SELECT term, count(*) AS df FROM terms GROUP BY term),
             |q(query_id, query_text) AS (VALUES
             |  (1, 'table scan fast'), (2, 'spark window agg'),
             |  (3, 'customer query value')),
             |qt AS (SELECT query_id, unnest(list_distinct(list_filter(
             |         string_split(query_text, ' '), x -> x <> ''))) AS term FROM q),
             |p AS (SELECT qt.query_id, t.doc_id, t.term,
             |        ln(1.0 + (s.n::DOUBLE - d.df + 0.5) / (d.df + 0.5))
             |          * t.tf * (1.2 + 1.0)
             |          / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) AS part
             |      FROM terms t JOIN dl l USING (doc_id) JOIN dft d USING (term)
             |           JOIN qt ON qt.term = t.term, stats s),
             |g AS (SELECT query_id, doc_id,
             |        round(list_sum(list(part ORDER BY term)), 6) AS score
             |      FROM p GROUP BY query_id, doc_id)
             |SELECT query_id, doc_id, score, rank FROM (
             |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             |    ORDER BY score DESC, doc_id) AS INT) AS rank FROM g)
             |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),
    Q("p40_tfidf_keywords", p40,
      // rank over the ROUNDED score on both sides (the window's order
      // column is the emitted one), term tie-break
      Some("""WITH toks AS (SELECT doc_id,
             |         list_filter(string_split(text, ' '), x -> x <> '') AS ws
             |       FROM documents),
             |n AS (SELECT count(*) AS n FROM toks WHERE len(ws) > 0),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM (
             |         SELECT doc_id, unnest(ws) AS term FROM toks)
             |       GROUP BY doc_id, term),
             |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
             |s AS (SELECT tf.doc_id, tf.term, tf.tf,
             |        round(tf.tf * (ln((n.n + 1.0) / (dft.df + 1.0)) + 1.0), 6) AS score
             |      FROM tf JOIN dft USING (term), n)
             |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score, rank FROM (
             |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
             |    ORDER BY score DESC, term) AS INT) AS rank FROM s)
             |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),
    Q("p41_random_projection", p41,
      // the implicit ±1 matrix from the quadratically-mixed integer hash
      // (see Projection.signComponent for why the plain Weyl sequence
      // can't be the matrix); fixed-point integer dot, exact /2^20 and
      // /√16 scalings. The sign rows are a 16×64 CTE, not per-cell
      // recomputation.
      Some("""WITH sg AS (SELECT j, list_transform(
             |    list_transform(range(64),
             |      i -> ((j * 4096 + i) * 2654435761 + 987654321) % 1000000007),
             |    a -> CASE WHEN (a * a + a * 1103515245 + 12345) % 1000000007
             |                   >= 500000003 THEN 1 ELSE -1 END) AS s
             |  FROM range(16) t(j))
             |SELECT e.vec_id, CAST(g.j AS INT) AS j,
             |  round(list_sum(list_transform(range(len(e.embedding)), i ->
             |    CAST(floor(e.embedding[CAST(i + 1 AS INT)]::DOUBLE * 1048576 + 0.5) AS BIGINT)
             |      * g.s[CAST(i + 1 AS INT)]))
             |    / 1048576.0 / 4.0, 6) AS val
             |FROM embeddings e, sg g
             |ORDER BY vec_id, j""".stripMargin)),
    Q("p46_pagerank", p46, Some(pagerankOracleSql(5))),
    Q("p47_corpus_drift", p47, Some(driftOracleSql)),
    Q("p48_token_budget_mix", p48, Some(tokenBudgetOracleSql)),
    Q("p49_label_propagation", p49, Some(lpaOracleSql(4))),
    Q("p50_triangles", p50, Some(trianglesOracleSql)),
    Q("p51_weighted_sample", p51, Some(weightedSampleOracleSql)),
    Q("p52_token_entropy", p52, Some(tokenEntropyOracleSql)),
    Q("p53_kcore", p53, Some(kcoreOracleSql(80, 5))),
    Q("p54_bfs", p54, Some(bfsOracleSql(3))),
    Q("p60_unimax_mix", p60, Some(unimaxOracleSql)),
    Q("p61_hybrid_rrf", p61, Some(hybridRrfOracleSql)),
    Q("p62_mmr_diversify", p62, Some(mmrOracleSql(4))),
    Q("p63_naive_bayes", p63, Some(naiveBayesOracleSql)),
    Q("p64_personalized_pagerank", p64, Some(pprOracleSql(5))),
    Q("p59_incremental_dedup", p59,
      // p3's signature/band machinery over the old ∪ new union, with
      // candidates restricted to new×old; exact flag via text equality
      // (≙ the Spark side's md5 equality)
      Some("""WITH ws0 AS (SELECT doc_id, text,
             |          list_filter(string_split(text, ' '), x -> x <> '') AS ws
             |        FROM documents),
             |base AS (
             |  SELECT doc_id, text, 0 AS is_new FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000,
             |         array_to_string(ws[1:greatest(len(ws) - 3, 1)], ' '), 1
             |  FROM ws0 WHERE doc_id % 4 = 0
             |  UNION ALL
             |  SELECT doc_id + 2000000, text, 1 FROM documents
             |  WHERE doc_id % 10 = 0),
             |g AS (SELECT doc_id, is_new, text,
             |        list_distinct(list_transform(range(len(w) - 1),
             |          i -> w[i+1] || ' ' || w[i+2])) AS grams
             |      FROM (SELECT doc_id, is_new, text,
             |              list_filter(string_split(text, ' '), x -> x <> '') AS w
             |            FROM base)),
             |hh AS (SELECT doc_id, is_new, grams,
             |        list_transform(grams, s ->
             |          list_reduce(list_prepend(0::BIGINT,
             |            list_transform(range(length(s)),
             |              c -> ascii(substr(s, CAST(c + 1 AS INT), 1))::BIGINT)),
             |            (acc, x) -> (acc * 31 + x) % 1000000007)) AS hs
             |       FROM g WHERE len(grams) > 0),
             |sig AS (SELECT doc_id, is_new,
             |         list_transform(range(64), i -> list_min(list_transform(hs, h ->
             |           ((((2*i+1) * 1103515245) % 1000000007) * h
             |            + (((i+1) * 12345) % 1000000007)) % 1000000007))) AS sig
             |        FROM hh),
             |banded AS (SELECT doc_id, is_new,
             |            unnest(list_transform(range(16), t ->
             |              list_reduce(list_prepend((t+1)::BIGINT, sig[t*4+1 : t*4+4]),
             |                (acc, x) -> (acc * 31 + x) % 1000000007))) AS band_key
             |           FROM sig),
             |ex AS (SELECT nn.doc_id, min(o.doc_id) AS exact_src
             |       FROM base nn JOIN base o
             |         ON nn.is_new = 1 AND o.is_new = 0 AND nn.text = o.text
             |       GROUP BY nn.doc_id),
             |cand AS (SELECT DISTINCT a.doc_id AS id, b.doc_id AS o_id
             |         FROM banded a JOIN banded b ON a.band_key = b.band_key
             |         WHERE a.is_new = 1 AND b.is_new = 0),
             |j AS (SELECT c.id, c.o_id,
             |        round(len(list_intersect(ga.grams, gb.grams))::DOUBLE /
             |              (len(ga.grams) + len(gb.grams)
             |               - len(list_intersect(ga.grams, gb.grams))), 6) AS jaccard
             |      FROM cand c JOIN hh ga ON ga.doc_id = c.id
             |                  JOIN hh gb ON gb.doc_id = c.o_id),
             |best AS (SELECT id, o_id, jaccard,
             |           row_number() OVER (PARTITION BY id
             |             ORDER BY jaccard DESC, o_id) AS rn
             |         FROM j WHERE jaccard >= 0.8)
             |SELECT nn.doc_id, e.exact_src, b.o_id AS near_src,
             |       b.jaccard AS near_jaccard
             |FROM (SELECT doc_id FROM base WHERE is_new = 1) nn
             |LEFT JOIN ex e ON e.doc_id = nn.doc_id
             |LEFT JOIN best b ON b.id = nn.doc_id AND b.rn = 1
             |ORDER BY nn.doc_id""".stripMargin)),
    Q("p58_kneser_ney", p58,
      // float-order parity: the probability is ONE fixed-shape double
      // expression over integer counts (identical IEEE op order spelled
      // on both sides), and per-doc log-probs fold in POSITION order
      // (sort_array+aggregate ≙ list_sum(list ... ORDER BY pos))
      Some("""WITH t AS (SELECT doc_id,
             |         list_filter(string_split(text, ' '), x -> x <> '') AS ws
             |       FROM documents),
             |tk0 AS (SELECT doc_id, unnest(list_transform(range(len(ws)),
             |          i -> {'pos': i, 'w': ws[CAST(i + 1 AS INT)]})) AS u
             |        FROM t),
             |tok AS (SELECT doc_id, u.pos AS pos, u.w AS w FROM tk0),
             |v AS (SELECT w FROM (
             |        SELECT w, row_number() OVER (ORDER BY count(*) DESC, w) AS rn
             |        FROM tok GROUP BY w) WHERE rn <= 50),
             |m AS (SELECT doc_id, pos,
             |        CASE WHEN w IN (SELECT w FROM v) THEN w ELSE '' END AS tok
             |      FROM tok),
             |bg AS (SELECT doc_id, pos, tok,
             |         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS tok2
             |       FROM m),
             |b AS (SELECT * FROM bg WHERE tok2 IS NOT NULL),
             |cb AS (SELECT tok, tok2, count(*) AS cb FROM b GROUP BY tok, tok2),
             |cu AS (SELECT tok, count(*) AS cu FROM b GROUP BY tok),
             |n1f AS (SELECT tok, count(*) AS n1f FROM cb GROUP BY tok),
             |n1b AS (SELECT tok2, count(*) AS n1b FROM cb GROUP BY tok2),
             |n1t AS (SELECT count(*) AS n1t FROM cb),
             |sc AS (SELECT b.doc_id, b.pos,
             |         ln(greatest(cb.cb::DOUBLE - 0.75, 0.0) / cu.cu
             |            + 0.75 * n1f.n1f / cu.cu
             |              * (n1b.n1b::DOUBLE / n1t.n1t)) AS logp
             |       FROM b JOIN cb USING (tok, tok2) JOIN cu USING (tok)
             |            JOIN n1f USING (tok) JOIN n1b USING (tok2), n1t),
             |agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
             |          list_sum(list(logp ORDER BY pos)) AS lsum
             |        FROM sc GROUP BY doc_id)
             |SELECT d.doc_id,
             |  coalesce(a.n_bigrams, 0) AS n_bigrams,
             |  coalesce(round(a.lsum, 6), 0.0) AS kn_logp,
             |  coalesce(round(exp(-a.lsum / a.n_bigrams), 6), 0.0) AS kn_ppl
             |FROM documents d LEFT JOIN agg a USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),
    Q("p57_containment", p57,
      // blocking is an exactness-preserving optimization, so the oracle
      // brute-forces: probes × corpus exact trigram containment (the
      // result set, not the plan, is the contract)
      Some("""WITH w AS (SELECT doc_id,
             |         list_filter(string_split(text, ' '), x -> x <> '') AS ws
             |       FROM documents),
             |q AS (SELECT doc_id + 1000000 AS q_id, ws[1:20] AS ws
             |      FROM w WHERE doc_id % 5 = 0),
             |qg AS (SELECT q_id, list_distinct(list_transform(range(len(ws) - 2),
             |         i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS grams
             |       FROM q WHERE len(ws) >= 3),
             |cg AS (SELECT doc_id AS c_id,
             |         list_distinct(list_transform(range(len(ws) - 2),
             |           i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS grams
             |       FROM w WHERE len(ws) >= 3),
             |s AS (SELECT q.q_id, c.c_id,
             |        round(len(list_intersect(q.grams, c.grams))::DOUBLE
             |              / len(q.grams), 6) AS containment
             |      FROM qg q, cg c WHERE q.q_id <> c.c_id)
             |SELECT q_id, c_id, containment FROM s
             |WHERE containment >= 0.8 ORDER BY q_id, c_id""".stripMargin)),
    Q("p55_temperature_mix", p55,
      // rate = √(c_min/c_l): division and sqrt are IEEE-correctly-rounded
      // in both engines, so the floor'd threshold is bit-identical (the
      // reason α is fixed at 0.5 — pow is not correctly rounded)
      Some("""WITH sizes AS (SELECT lang, count(*) AS stratum_n
             |               FROM documents GROUP BY lang),
             |t AS (SELECT lang,
             |        CAST(floor(sqrt((SELECT min(stratum_n) FROM sizes)::DOUBLE
             |                        / stratum_n) * 10000) AS BIGINT) AS threshold
             |      FROM sizes)
             |SELECT d.doc_id, d.lang,
             |  CAST((d.doc_id * 2654435761) % 10000 AS BIGINT) AS bucket
             |FROM documents d JOIN t USING (lang)
             |WHERE (d.doc_id * 2654435761) % 10000 < t.threshold
             |ORDER BY doc_id""".stripMargin)),
    Q("p56_url_dedup", p56,
      // step-for-step mirror of Urls.canonicalUrl: every Spark builtin
      // used (split_part, substring, rtrim-with-charset, startswith,
      // array filter/join) has an identically-behaved DuckDB twin
      Some(s"""WITH u AS ($urlCorpusSql),
              |p1 AS (SELECT doc_id, split_part(url, '#', 1) AS nofrag FROM u),
              |p2 AS (SELECT doc_id, nofrag,
              |         split_part(nofrag, '://', 1) AS schemeraw,
              |         substring(nofrag,
              |           length(split_part(nofrag, '://', 1)) + 4) AS rest
              |       FROM p1),
              |p3 AS (SELECT *, split_part(split_part(rest, '/', 1), '?', 1) AS hp
              |       FROM p2),
              |p4 AS (SELECT *, lower(schemeraw) AS scheme,
              |         lower(split_part(hp, ':', 1)) AS host0,
              |         split_part(hp, ':', 2) AS port,
              |         substring(rest, length(hp) + 1) AS pathq
              |       FROM p3),
              |p5 AS (SELECT *,
              |         CASE WHEN starts_with(host0, 'www.')
              |              THEN substring(host0, 5) ELSE host0 END AS host,
              |         split_part(pathq, '?', 1) AS path,
              |         split_part(pathq, '?', 2) AS query
              |       FROM p4),
              |p6 AS (SELECT *,
              |         array_to_string(list_filter(string_split(query, '&'),
              |           x -> x <> '' AND NOT starts_with(x, 'utm_')), '&') AS cq,
              |         CASE WHEN rtrim(path, '/') = '' THEN '/'
              |              ELSE rtrim(path, '/') END AS cpath,
              |         (port <> ''
              |          AND NOT (lower(schemeraw) = 'https' AND port = '443')
              |          AND NOT (lower(schemeraw) = 'http' AND port = '80')) AS keepport
              |       FROM p5),
              |c AS (SELECT doc_id,
              |        CASE WHEN contains(nofrag, '://')
              |                  AND schemeraw <> '' AND host <> ''
              |          THEN scheme || '://' || host ||
              |               CASE WHEN keepport THEN ':' || port ELSE '' END ||
              |               cpath ||
              |               CASE WHEN cq <> '' THEN '?' || cq ELSE '' END
              |        END AS canon_url FROM p6)
              |SELECT doc_id,
              |  split_part(split_part(split_part(canon_url, '://', 2), '/', 1),
              |             ':', 1) AS host,
              |  canon_url,
              |  CAST(CASE WHEN row_number() OVER (PARTITION BY canon_url
              |         ORDER BY doc_id) > 1 THEN 1 ELSE 0 END AS INT) AS is_dup
              |FROM c ORDER BY doc_id""".stripMargin)),
    Q("p45_gram_matrix", p45,
      // fixed-point products, HUGEINT-widened sums, one exact 2^40
      // division back to float units — mirrors the Scala decimal sum
      Some("""WITH q AS (SELECT vec_id,
             |         list_transform(embedding,
             |           x -> CAST(floor(x::DOUBLE * 1048576 + 0.5) AS BIGINT)) AS qv
             |       FROM embeddings),
             |c AS (SELECT t.i AS i, u.j AS j,
             |        qv[CAST(t.i + 1 AS INT)] * qv[CAST(u.j + 1 AS INT)] AS p
             |      FROM q, range(64) t(i), range(64) u(j) WHERE u.j >= t.i)
             |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
             |       round(CAST(sum(p) AS DOUBLE) / 1099511627776.0, 6) AS gram
             |FROM c GROUP BY i, j ORDER BY i, j""".stripMargin)),
    Q("p44_video_frames", p44,
      Some("""WITH v AS (SELECT doc_id, 16 + doc_id % 8 AS w, 12 + doc_id % 5 AS h,
             |              6 + doc_id % 5 AS nf
             |            FROM documents),
             |f AS (SELECT doc_id, w, h, nf, unnest(range(nf)) AS fr FROM v),
             |s AS (SELECT doc_id, w, h, nf, fr,
             |        list_sum(list_transform(range(w * h),
             |          p -> (doc_id*7 + fr*11 + 13*(p % w) + 29*(p // w)) % 256)) AS fsum
             |      FROM f WHERE fr % 2 = 0),
             |a AS (SELECT doc_id, max(nf) AS n_frames, count(*) AS n_sampled,
             |        max(w) AS width, max(h) AS height, sum(fsum) AS sampled_sum,
             |        list(fsum ORDER BY fr) AS sums
             |      FROM s GROUP BY doc_id)
             |SELECT doc_id, CAST(n_frames AS INT) AS n_frames,
             |       CAST(n_sampled AS INT) AS n_sampled,
             |       CAST(width AS INT) AS width, CAST(height AS INT) AS height,
             |       CAST(sampled_sum AS BIGINT) AS sampled_sum,
             |       CAST(coalesce(list_sum(list_transform(range(len(sums) - 1),
             |         i -> abs(sums[i+2] - sums[i+1]))), 0) AS BIGINT) AS motion
             |FROM a ORDER BY doc_id""".stripMargin)),
    Q("p43_paragraph_dedup", p43,
      Some(s"""WITH corpus AS ($nearCorpusSql),
              |t AS (SELECT doc_id,
              |        list_filter(string_split(text, ' '), x -> x <> '') AS ws
              |      FROM corpus),
              |p AS (SELECT doc_id, CAST(i AS INT) AS pos,
              |        array_to_string(ws[CAST(i*12+1 AS INT):CAST(i*12+12 AS INT)], ' ') AS para
              |      FROM (SELECT doc_id, ws, unnest(range((len(ws) + 11) // 12)) AS i
              |            FROM t WHERE len(ws) > 0)),
              |k AS (SELECT doc_id, pos, para,
              |        row_number() OVER (PARTITION BY md5(para)
              |                           ORDER BY doc_id, pos) AS rn
              |      FROM p),
              |tot AS (SELECT doc_id, count(*) AS n_paras FROM p GROUP BY doc_id),
              |reb AS (SELECT doc_id, count(*) AS n_kept,
              |          array_to_string(list(para ORDER BY pos), ' ') AS clean
              |        FROM k WHERE rn = 1 GROUP BY doc_id)
              |SELECT tot.doc_id, CAST(tot.n_paras AS BIGINT) AS n_paras,
              |       CAST(coalesce(reb.n_kept, 0) AS BIGINT) AS n_kept,
              |       coalesce(md5(reb.clean), md5('')) AS clean_hash
              |FROM tot LEFT JOIN reb USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),
    Q("p42_text_normalize", p42,
      Some("""SELECT doc_id,
             |  CAST(length(norm) AS INT) AS norm_len,
             |  md5(norm) AS norm_hash,
             |  norm <> text AS changed
             |FROM (SELECT doc_id, text,
             |        lower(trim(regexp_replace(regexp_replace(
             |          nfc_normalize(text), '[\x00-\x1f\x7f]', ' ', 'g'),
             |          ' +', ' ', 'g'))) AS norm
             |      FROM documents)
             |ORDER BY doc_id""".stripMargin)),
    Q("p36_gopher_rules", p36,
      Some("""WITH w AS (SELECT doc_id,
             |            list_filter(string_split(text, ' '), x -> x <> '') AS ws
             |          FROM documents),
             |m AS (SELECT doc_id,
             |        CAST(len(ws) AS INT) AS n_words,
             |        CAST(coalesce(list_sum(list_transform(ws, x -> length(x))), 0) AS BIGINT)
             |          AS sum_word_len,
             |        CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS INT)
             |          AS alpha_words,
             |        CAST(len(list_filter(ws, x -> list_contains(
             |          ['the','be','to','of','and','that','have','with'], lower(x)))) AS INT)
             |          AS stopword_hits
             |      FROM w)
             |SELECT doc_id, n_words, sum_word_len, alpha_words, stopword_hits,
             |  CASE WHEN n_words > 0 THEN round(sum_word_len / n_words, 6)
             |       ELSE 0.0 END AS mean_word_len,
             |  (n_words >= 10 AND n_words <= 100000
             |   AND sum_word_len >= n_words * 3 AND sum_word_len <= n_words * 10
             |   AND alpha_words * 5 >= n_words * 4 AND stopword_hits >= 2) AS keep
             |FROM m ORDER BY doc_id""".stripMargin)),
    Q("p37_c4_clean", p37,
      Some("""SELECT doc_id,
             |  CAST(length(text) - length(regexp_replace(text, '[.!?]', '', 'g')) AS INT)
             |    AS n_sentences,
             |  regexp_matches(text, '[.!?"'']$') AS ends_terminal,
             |  contains(text, '{') AS has_brace,
             |  (contains(lower(text), 'lorem ipsum') OR contains(lower(text), 'javascript')
             |   OR contains(lower(text), 'terms of use')
             |   OR contains(lower(text), 'privacy policy')) AS has_boilerplate,
             |  (regexp_matches(text, '[.!?"'']$')
             |   AND length(text) - length(regexp_replace(text, '[.!?]', '', 'g')) >= 3
             |   AND NOT contains(text, '{')
             |   AND NOT (contains(lower(text), 'lorem ipsum')
             |            OR contains(lower(text), 'javascript')
             |            OR contains(lower(text), 'terms of use')
             |            OR contains(lower(text), 'privacy policy'))) AS keep
             |FROM documents ORDER BY doc_id""".stripMargin)),
    Q("p35_ann_ivf_pq_res", p35,
      // p32's chain with the residual codebook CTEs; scoring unchanged
      Some(s"""WITH ${ivfCentsSql("embeddings")},
              |$ivfProbeSql,
              |$pqResCodebookSql,
              |s AS (SELECT q.query_id, d.neighbor_id,
              |        round(list_sum(list_transform(range(64), i ->
              |            q.q_vec[i+1]::DOUBLE * d.dq[i+1]))
              |          / (sqrt(list_sum(list_transform(q.q_vec,
              |               x -> x::DOUBLE * x::DOUBLE)))
              |           * sqrt(list_sum(list_transform(d.dq, x -> x * x)))), 6) AS sim
              |      FROM qp q JOIN rpdq d USING (cell)
              |      WHERE q.query_id <> d.neighbor_id)
              |SELECT query_id, neighbor_id, sim, rank FROM (
              |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              |    ORDER BY sim DESC, neighbor_id) AS INT) AS rank FROM s)
              |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),
    Q("p25_semantic_dedup", p25,
      // Reuses p13's proven quantizer CTE (sample 256 lowest-id, seeds =
      // first 16, one Lloyd step, unrounded cosScalar argmax) over the
      // perturbed union, then p17's recursive-CTE connected components
      // over the within-cell cosine pairs.
      Some(s"""WITH u AS (SELECT vec_id, embedding FROM embeddings
              |UNION ALL
              |SELECT vec_id + 1000000,
              |       list_transform(embedding, (x, i) ->
              |         CASE WHEN i = 1 THEN x + 0.01::REAL ELSE x END)
              |FROM embeddings),
              |${ivfCentsSql("u")},
              |corp AS (SELECT u.vec_id, u.embedding,
              |           (SELECT cell FROM (
              |              SELECT cn.cell, ${cosFoldSql("u.embedding", "cn.c")} AS sim FROM cents cn)
              |            ORDER BY sim DESC, cell LIMIT 1) AS cell
              |         FROM u),
              |pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
              |          FROM corp a JOIN corp b
              |            ON a.cell = b.cell AND a.vec_id < b.vec_id
              |          WHERE round(list_cosine_similarity(
              |                  a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.99),
              |edges AS (SELECT a_id AS a, b_id AS b FROM pairs
              |          UNION SELECT b_id, a_id FROM pairs),
              |reach AS (
              |  WITH RECURSIVE r(s, t) AS (
              |    SELECT vec_id, vec_id FROM corp
              |    UNION
              |    SELECT r.s, e.b FROM r JOIN edges e ON r.t = e.a)
              |  SELECT * FROM r),
              |lab AS (SELECT s AS vec_id, min(t) AS cluster_id FROM reach GROUP BY s)
              |SELECT c.vec_id, CAST(c.cell AS INT) AS cell, l.cluster_id,
              |       c.vec_id = l.cluster_id AS keep
              |FROM corp c JOIN lab l USING (vec_id) ORDER BY c.vec_id""".stripMargin)),
    Q("p7_embed_neardup", p7,
      Some(s"""WITH u AS (SELECT vec_id, embedding FROM embeddings
              |UNION ALL
              |SELECT vec_id + 1000000,
              |       list_transform(embedding, (x, i) ->
              |         CASE WHEN i = 1 THEN x + 0.01::REAL ELSE x END)
              |FROM embeddings),
              |sig AS ($rhSigSql FROM u),
              |probe AS (SELECT vec_id AS a_id, embedding AS a_vec,
              |            unnest(list_prepend(sig, list_transform(range(8),
              |              j -> xor(sig, 1::BIGINT << j)))) AS bucket
              |          FROM sig),
              |build AS (SELECT vec_id AS b_id, embedding AS b_vec, sig AS bucket
              |          FROM sig),
              |s AS (SELECT DISTINCT p.a_id, b.b_id,
              |        round(list_cosine_similarity(p.a_vec::DOUBLE[],
              |                                     b.b_vec::DOUBLE[]), 6) AS sim
              |      FROM probe p JOIN build b USING (bucket) WHERE p.a_id < b.b_id)
              |SELECT a_id, b_id, sim FROM s WHERE sim >= 0.99
              |ORDER BY a_id, b_id""".stripMargin)),
    Q("p8_lang_id", p8,
      Some("""WITH w AS (SELECT doc_id,
             |             list_filter(string_split(text, ' '), x -> x <> '') AS ws
             |           FROM documents),
             |r AS (SELECT doc_id,
             |        round(CASE WHEN len(ws) > 0 THEN
             |          len(list_filter(ws, x -> x IN ('the','a','of','to','and','in','is')))::DOUBLE / len(ws)
             |          ELSE 0 END, 6) AS en_ratio,
             |        round(CASE WHEN len(ws) > 0 THEN
             |          len(list_filter(ws, x -> x IN ('der','die','das','und','ist')))::DOUBLE / len(ws)
             |          ELSE 0 END, 6) AS de_ratio,
             |        round(CASE WHEN len(ws) > 0 THEN
             |          len(list_filter(ws, x -> x IN ('le','la','les','et','est')))::DOUBLE / len(ws)
             |          ELSE 0 END, 6) AS fr_ratio
             |      FROM w)
             |SELECT doc_id, en_ratio, de_ratio, fr_ratio,
             |       CASE WHEN greatest(en_ratio, de_ratio, fr_ratio) >= 0.02 THEN
             |         CASE WHEN fr_ratio >= greatest(en_ratio, de_ratio) THEN 'fr'
             |              WHEN en_ratio >= de_ratio THEN 'en' ELSE 'de' END
             |       ELSE 'und' END AS predicted_lang
             |FROM r ORDER BY doc_id""".stripMargin)),
    Q("p9_token_count", p9,
      Some("""SELECT doc_id,
             |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INT) AS ws_tokens,
             |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INT) AS bpeish_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),
    Q("p10_quality_score", p10,
      Some(s"""WITH $qualityFeatureCtes
              |SELECT doc_id, CAST(n_words AS INT) AS n_words, CAST(n_chars AS INT) AS n_chars,
              |  round(awl, 6) AS avg_word_len, round(sr, 6) AS stopword_ratio,
              |  round(pr, 6) AS punct_ratio,
              |  $qualityScoreSql AS quality_score
              |FROM r ORDER BY doc_id""".stripMargin)),
    Q("p11_fingerprint", p11,
      Some("""SELECT doc_id,
             |  md5(array_to_string(list_sort(list_distinct(
             |    list_filter(string_split(text, ' '), x -> x <> ''))), ' ')) AS fingerprint
             |FROM documents ORDER BY doc_id""".stripMargin)),
    Q("p12_multimodal", p12,
      // Features recomputed from the synthesis formulas (the codecs are
      // lossless, so decoded samples equal synthesized ones): wav rows =
      // energy sum + peak over s_i = (id*31 + i^2*7) % 20001 - 10000;
      // png rows = gray sum over (id*7 + x*13 + y*29) % 256 plus the 8x8
      // nearest-neighbor downsample's sum.
      Some("""WITH wav AS (
             |  SELECT doc_id, CAST(200 + doc_id % 100 AS INT) AS n
             |  FROM documents WHERE doc_id % 2 = 0),
             |wavf AS (
             |  SELECT doc_id, 'audio/wav' AS media_type,
             |    CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
             |    8000 AS sample_rate, CAST(n AS BIGINT) AS n_units,
             |    CAST(list_sum(list_transform(range(n), i ->
             |      ((doc_id*31 + i*i*7) % 20001 - 10000)
             |      * ((doc_id*31 + i*i*7) % 20001 - 10000))) AS BIGINT) AS sum_feat,
             |    CAST(list_max(list_transform(range(n), i ->
             |      abs((doc_id*31 + i*i*7) % 20001 - 10000))) AS BIGINT) AS peak_feat
             |  FROM wav),
             |png AS (
             |  SELECT doc_id, CAST(16 + doc_id % 8 AS INT) AS w,
             |         CAST(12 + doc_id % 5 AS INT) AS h
             |  FROM documents WHERE doc_id % 2 = 1),
             |pngf AS (
             |  SELECT doc_id, 'image/png' AS media_type,
             |    w AS width, h AS height, CAST(NULL AS INT) AS sample_rate,
             |    CAST(w AS BIGINT) * h AS n_units,
             |    CAST(list_sum(flatten(list_transform(range(w), x ->
             |      list_transform(range(h), y ->
             |        (doc_id*7 + x*13 + y*29) % 256)))) AS BIGINT) AS sum_feat,
             |    CAST(list_sum(flatten(list_transform(range(8), xx ->
             |      list_transform(range(8), yy ->
             |        (doc_id*7 + ((xx*w)//8)*13 + ((yy*h)//8)*29) % 256)))) AS BIGINT)
             |      AS peak_feat
             |  FROM png)
             |SELECT * FROM wavf UNION ALL SELECT * FROM pngf
             |ORDER BY doc_id""".stripMargin)),
    Q("p14_stratified_sample", p14,
      Some("""WITH sizes AS (SELECT lang, count(*) AS stratum_n
             |               FROM documents GROUP BY lang),
             |t AS (SELECT lang, stratum_n,
             |        (SELECT min(stratum_n) FROM sizes) AS target_n FROM sizes)
             |SELECT d.doc_id, d.lang,
             |  CAST((d.doc_id * 2654435761) % 10000 AS BIGINT) AS bucket
             |FROM documents d JOIN t USING (lang)
             |WHERE ((d.doc_id * 2654435761) % 10000) * t.stratum_n
             |      < t.target_n * 10000
             |ORDER BY doc_id""".stripMargin)),
    Q("p15_seq_pack", p15,
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
             |         AS BIGINT) AS n_tokens
             |  FROM documents),
             |c AS (
             |  SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY source
             |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |    0) AS before FROM t),
             |l AS (
             |  SELECT doc_id, source, n_tokens,
             |    CAST(floor(before / 2048) AS BIGINT) AS local_chunk,
             |    CAST(before % 2048 AS BIGINT) AS "offset" FROM c),
             |b AS (SELECT source, max(local_chunk) + 1 AS n_chunks
             |      FROM l GROUP BY source),
             |bb AS (SELECT source, coalesce(sum(n_chunks) OVER (ORDER BY source
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_base
             |       FROM b)
             |SELECT l.doc_id, l.source, l.n_tokens,
             |  CAST(l.local_chunk + bb.chunk_base AS BIGINT) AS chunk_id, l."offset"
             |FROM l JOIN bb USING (source) ORDER BY doc_id""".stripMargin)),
    Q("p26_chunk_split", p26,
      Some("""WITH w AS (SELECT doc_id,
             |            list_filter(string_split(text, ' '), x -> x <> '') AS ws
             |          FROM documents),
             |c AS (SELECT doc_id, ws,
             |        CASE WHEN len(ws) <= 32 THEN 1
             |             ELSE 1 + (len(ws) - 32 + 23) // 24 END AS nc
             |      FROM w WHERE len(ws) > 0),
             |e AS (SELECT doc_id, unnest(list_transform(range(nc), i ->
             |        {'idx': i,
             |         'toks': ws[CAST(i*24+1 AS INT) : CAST(i*24+32 AS INT)]})) AS ch
             |      FROM c)
             |SELECT doc_id, CAST(ch.idx AS INT) AS chunk_idx,
             |  CAST(ch.idx * 24 AS INT) AS start_tok,
             |  CAST(len(ch.toks) AS INT) AS n_tokens,
             |  md5(array_to_string(ch.toks, ' ')) AS chunk_hash
             |FROM e ORDER BY doc_id, chunk_idx""".stripMargin)),
    Q("p27_int8_quantize", p27,
      Some(s"""WITH $sqRangesSql,
             |enc AS (
             |  SELECT vec_id, embedding, los, his,
             |    list_transform(range(64), i ->
             |      CASE WHEN his[i+1] > los[i+1] THEN
             |        CAST(least(greatest(floor((embedding[i+1]::DOUBLE - los[i+1])
             |                   / (his[i+1] - los[i+1]) * 255 + 0.5), 0), 255) AS INT)
             |      ELSE 0 END) AS codes
             |  FROM embeddings, rng)
             |SELECT vec_id, CAST(codes[1] AS INT) AS code_0,
             |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
             |  md5(array_to_string(codes, ',')) AS codes_hash,
             |  round(list_max(list_transform(range(64), i ->
             |    abs(los[i+1] + codes[i+1]::DOUBLE * (his[i+1] - los[i+1]) / 255
             |        - embedding[i+1]::DOUBLE))), 6) AS max_err
             |FROM enc ORDER BY vec_id""".stripMargin)),
    Q("p28_shard_shuffle", p28,
      Some("""SELECT doc_id,
             |  CAST(((doc_id % 1000000007) * 2654435761) % 1000000007 % 8 AS INT) AS shard,
             |  CAST(row_number() OVER (
             |    PARTITION BY ((doc_id % 1000000007) * 2654435761) % 1000000007 % 8
             |    ORDER BY ((doc_id % 1000000007) * 1540483477 + 12345701)
             |              % 1000000007, doc_id)
             |    - 1 AS BIGINT) AS pos
             |FROM documents ORDER BY doc_id""".stripMargin)),
    Q("p29_domain_cap", p29,
      Some(s"""WITH $qualityFeatureCtes,
              |q AS (SELECT doc_id, source, $qualityScoreSql AS q FROM r),
              |rk AS (SELECT doc_id, source, q,
              |         CAST(row_number() OVER (PARTITION BY source
              |           ORDER BY q DESC, doc_id) AS INT) AS rank
              |       FROM q)
              |SELECT doc_id, source, q, rank FROM rk WHERE rank <= 5
              |ORDER BY source, rank""".stripMargin)),
    Q("p18_span_scrub", p18,
      Some(s"""WITH corpus AS ($nearCorpusSql),
              |w AS (SELECT doc_id,
              |        list_filter(string_split(text, ' '), x -> x <> '') AS ws
              |      FROM corpus),
              |sp AS (SELECT doc_id,
              |         unnest(list_transform(range(((len(ws) - 1) // 10) + 1),
              |           i -> {'idx': i,
              |                 'span': array_to_string(
              |                   ws[CAST(i*10+1 AS INT) : CAST(i*10+10 AS INT)], ' ')})) AS s
              |       FROM w WHERE len(ws) > 0),
              |flat AS (SELECT doc_id, s.idx AS span_idx, s.span AS span,
              |                md5(s.span) AS span_hash FROM sp),
              |freq AS (SELECT span_hash, count(DISTINCT doc_id) AS n_docs
              |         FROM flat GROUP BY span_hash)
              |SELECT doc_id, CAST(count(*) AS INT) AS n_spans,
              |  CAST(count(CASE WHEN n_docs > 1 THEN 1 END) AS INT) AS n_dropped,
              |  md5(coalesce(array_to_string(
              |    list(span ORDER BY span_idx) FILTER (WHERE n_docs = 1),
              |    ' '), '')) AS clean_hash
              |FROM flat JOIN freq USING (span_hash)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    Q("p79_substr_dedup", p79, Some(substrSpansOracleSql)),
    Q("p81_substr_scrub", p81, Some(substrScrubOracleSql)),
    Q("p91_unigram_vocab", p91,
      Some(graft.pipeline.Unigram.oracleSql(4, 12, 200, 5, 2))),
    Q("p94_unigram_tokenize", p94,
      Some(graft.pipeline.Unigram.tokenizeOracleSql(4, 12, 200, 5, 2))),
    Q("p93_substr_contamination", p93, Some(substrContamOracleSql)),
    Q("p82_cdc_chunks", p82, Some(cdcOracleSql)),
    Q("p87_cdc_dedup", p87, Some(cdcDedupOracleSql)),
    Q("p83_roc_auc", p83, Some(rocAucOracleSql)),
    Q("p84_calibration", p84, Some(calibrationOracleSql)),
    Q("p85_image_dhash", p85, Some(imageDhashOracleSql)),
    Q("p86_audio_fingerprint", p86, Some(audioFpOracleSql)),
    Q("p88_image_neardup", p88, Some(imageNearDupOracleSql)),
    Q("p89_image_dedup_resolve", p89, Some(imageResolveOracleSql)),
    Q("p90_audio_neardup", p90, Some(audioNearDupOracleSql)),
    Q("p92_video_neardup", p92, Some(videoNearDupOracleSql)),
    Q("p95_audio_dedup_resolve", p95, Some(audioResolveOracleSql)),
    Q("p96_video_neardup_pairs", p96, Some(videoNearDupPairsOracleSql)),
    Q("p97_image_resize", p97, Some(imageResizeOracleSql)),
    Q("p98_video_shift_neardup", p98, Some(videoShiftNearDupOracleSql)),
    Q("p99_boilerplate_extract", p99, Some(boilerplateOracleSql)),
    Q("p100_logistic_quality", p100, Some(logisticOracleSql)),
    Q("p19_pii_scrub", p19,
      Some(s"""WITH corpus AS ($piiCorpusSql)
              |SELECT doc_id,
              |  CAST(len(regexp_extract_all(text,
              |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails,
              |  CAST(len(regexp_extract_all(text, '\\b\\d{3}-\\d{4}\\b')) AS INT) AS n_phones,
              |  CAST(len(regexp_extract_all(text,
              |    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT) AS n_ips,
              |  md5(regexp_replace(regexp_replace(regexp_replace(text,
              |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
              |    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
              |    '\\b\\d{3}-\\d{4}\\b', '<PHONE>', 'g')) AS clean_hash
              |FROM corpus ORDER BY doc_id""".stripMargin)),
    Q("p24_vocab_induction", p24,
      Some("""WITH w AS (SELECT unnest(list_filter(string_split(text, ' '),
             |                 x -> x <> '')) AS word FROM documents),
             |wc AS (SELECT word, count(*) AS freq FROM w GROUP BY word),
             |tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM wc),
             |top AS (SELECT word, freq FROM wc
             |        ORDER BY freq DESC, word LIMIT 500),
             |r AS (SELECT word, freq,
             |        CAST(row_number() OVER
             |          (ORDER BY freq DESC, word) AS INT) AS rank,
             |        CAST(sum(freq) OVER (ORDER BY freq DESC, word
             |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             |      FROM top)
             |SELECT rank, word, freq, round(cum * 1.0 / total, 6) AS cum_coverage
             |FROM r, tot ORDER BY rank""".stripMargin)),
    Q("p31_bpe_vocab", p31,
      // the training loop unrolled into one CTE chain per round — see
      // Bpe.oracleSql for why string replace == the greedy merge
      Some(graft.pipeline.Bpe.oracleSql(numMerges = 12))),
    Q("p33_bpe_encode", p33,
      Some(graft.pipeline.Bpe.encodeOracleSql(numMerges = 12))),
    Q("p78_bpe_tokenize", p78,
      Some(graft.pipeline.Bpe.corpusOracleSql(numMerges = 12))),
    Q("p80_bpe_pack", p80,
      Some(graft.pipeline.Bpe.packOracleSql(numMerges = 12, budget = 2048))),
    Q("p34_kmeans", p34,
      Some(graft.pipeline.Clustering.kmeansOracleSql(k = 8, iters = 3, dims = 64))),
    Q("p22_perplexity", p22,
      Some("""WITH w AS (SELECT doc_id,
             |            list_filter(string_split(text, ' '), x -> x <> '') AS ws
             |          FROM documents),
             |tok AS (SELECT doc_id, t.pos AS pos, t.w AS w FROM (
             |          SELECT doc_id, unnest(list_transform(range(len(ws)),
             |            i -> {'pos': i, 'w': ws[i+1]})) AS t
             |          FROM w)),
             |uni AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
             |vocab AS (SELECT w FROM uni ORDER BY c DESC, w LIMIT 50),
             |mapped AS (SELECT t.doc_id, t.pos,
             |             CASE WHEN v.w IS NOT NULL THEN t.w ELSE '' END AS tok
             |           FROM tok t LEFT JOIN vocab v USING (w)),
             |big AS (SELECT doc_id, tok,
             |          lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS tok2
             |        FROM mapped),
             |bi AS (SELECT * FROM big WHERE tok2 IS NOT NULL),
             |bc AS (SELECT tok, tok2, count(*) AS cb FROM bi GROUP BY tok, tok2),
             |cu AS (SELECT tok, count(*) AS cuc FROM mapped GROUP BY tok),
             |sc AS (SELECT bi.doc_id,
             |         ln((bc.cb + 0.5) / (cu.cuc + 0.5 * 51)) AS logp
             |       FROM bi JOIN bc USING (tok, tok2) JOIN cu USING (tok)),
             |agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
             |          round(exp(-avg(logp)), 6) AS perplexity
             |        FROM sc GROUP BY doc_id)
             |SELECT d.doc_id, CAST(coalesce(a.n_bigrams, 0) AS INT) AS n_bigrams,
             |       coalesce(a.perplexity, 0.0) AS perplexity
             |FROM documents d LEFT JOIN agg a USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),
    Q("p21_contamination", p21,
      Some("""WITH w AS (SELECT doc_id,
             |            list_filter(string_split(text, ' '), x -> x <> '') AS ws
             |          FROM documents),
             |g AS (SELECT doc_id,
             |        CASE WHEN len(ws) >= 5 THEN
             |          list_distinct(list_transform(range(len(ws) - 4),
             |            i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
             |                 || ' ' || ws[i+4] || ' ' || ws[i+5]))
             |        ELSE []::VARCHAR[] END AS grams
             |      FROM w),
             |bset AS (SELECT DISTINCT unnest(grams) AS gram FROM g
             |         WHERE doc_id % 97 = 0),
             |cg AS (SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram
             |       FROM g),
             |hits AS (SELECT cg.doc_id, cg.n_grams,
             |           count(b.gram) AS n_contaminated
             |         FROM cg LEFT JOIN bset b USING (gram)
             |         GROUP BY cg.doc_id, cg.n_grams)
             |SELECT d.doc_id,
             |  CAST(coalesce(h.n_grams, 0) AS INT) AS n_grams,
             |  CAST(coalesce(h.n_contaminated, 0) AS INT) AS n_contaminated,
             |  coalesce(CASE WHEN h.n_grams > 0 THEN
             |    round(h.n_contaminated::DOUBLE / h.n_grams, 6) END, 0.0)
             |    AS contaminated_frac,
             |  coalesce(CASE WHEN h.n_grams > 0 THEN
             |    round(h.n_contaminated::DOUBLE / h.n_grams, 6) END, 0.0) >= 0.3
             |    AS flagged
             |FROM documents d LEFT JOIN hits h USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),
    Q("p20_rep_signals", p20,
      Some("""WITH w AS (SELECT doc_id,
             |            list_filter(string_split(text, ' '), x -> x <> '') AS ws
             |          FROM documents),
             |base AS (SELECT doc_id, ws,
             |           coalesce(list_sum(list_transform(ws, x -> length(x)::BIGINT)), 0)
             |             AS n_chars
             |         FROM w),
             |g2 AS (SELECT doc_id, n_chars, 2 AS n,
             |         unnest(list_transform(range(len(ws) - 1),
             |           i -> {'g': ws[i+1] || ' ' || ws[i+2],
             |                 'len': length(ws[i+1]) + length(ws[i+2])})) AS s
             |       FROM base WHERE len(ws) >= 2),
             |g3 AS (SELECT doc_id, n_chars, 3 AS n,
             |         unnest(list_transform(range(len(ws) - 2),
             |           i -> {'g': ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3],
             |                 'len': length(ws[i+1]) + length(ws[i+2]) + length(ws[i+3])})) AS s
             |       FROM base WHERE len(ws) >= 3),
             |u AS (SELECT * FROM g2 UNION ALL SELECT * FROM g3),
             |pg AS (SELECT doc_id, n_chars, n, s.g AS g,
             |         count(*) AS occ, max(s.len) AS len
             |       FROM u GROUP BY doc_id, n_chars, n, s.g),
             |pd AS (SELECT doc_id, n_chars,
             |         max(CASE WHEN n = 2 THEN occ * len END) AS top_2,
             |         sum(CASE WHEN n = 2 AND occ > 1 THEN occ * len ELSE 0 END) AS dup_2,
             |         max(CASE WHEN n = 3 THEN occ * len END) AS top_3,
             |         sum(CASE WHEN n = 3 AND occ > 1 THEN occ * len ELSE 0 END) AS dup_3
             |       FROM pg GROUP BY doc_id, n_chars)
             |SELECT d.doc_id,
             |  coalesce(CASE WHEN pd.n_chars > 0 THEN
             |    round(least(coalesce(top_2, 0)::DOUBLE / pd.n_chars, 1.0), 6) END, 0.0)
             |    AS top_2gram_frac,
             |  coalesce(CASE WHEN pd.n_chars > 0 THEN
             |    round(least(dup_2::DOUBLE / pd.n_chars, 1.0), 6) END, 0.0) AS dup_2gram_frac,
             |  coalesce(CASE WHEN pd.n_chars > 0 THEN
             |    round(least(coalesce(top_3, 0)::DOUBLE / pd.n_chars, 1.0), 6) END, 0.0)
             |    AS top_3gram_frac,
             |  coalesce(CASE WHEN pd.n_chars > 0 THEN
             |    round(least(dup_3::DOUBLE / pd.n_chars, 1.0), 6) END, 0.0) AS dup_3gram_frac
             |FROM documents d LEFT JOIN pd USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),
    Q("p16_winnow", p16,
      // grams: hash chars j+1..j+k; windows: min over grams [i, i+w)
      Some("""WITH g AS (SELECT doc_id, text, length(text) AS n FROM documents),
             |fp AS (
             |  SELECT doc_id,
             |    CASE WHEN n >= 8 THEN
             |      list_sort(list_distinct(list_transform(range(n - 5 - 4 + 2),
             |        i -> list_min(list_transform(range(i, i + 4),
             |          j -> list_reduce(
             |            list_prepend(0::BIGINT,
             |              list_transform(range(5),
             |                q -> ascii(substr(text, CAST(j + q + 1 AS INT), 1))::BIGINT)),
             |            (acc, x) -> (acc * 31 + x) % 1000000007))))))
             |    ELSE []::BIGINT[] END AS fps
             |  FROM g)
             |SELECT doc_id, array_to_string(fps, '-') AS fingerprint
             |FROM fp ORDER BY doc_id""".stripMargin)),
    Q("p23_curation_funnel", p23,
      Some(s"""WITH corpus AS (
              |  $nearCorpusSql
              |  UNION ALL
              |  SELECT doc_id + 2000000, text, lang FROM documents
              |  WHERE doc_id % 31 = 0),
              |ex AS (SELECT doc_id, md5(text) AS h FROM corpus),
              |exg AS (SELECT doc_id,
              |          count(*) OVER (PARTITION BY h) AS gs,
              |          min(doc_id) OVER (PARTITION BY h) AS canon
              |        FROM ex),
              |kc AS (SELECT c.doc_id, c.text
              |       FROM corpus c JOIN exg USING (doc_id)
              |       WHERE NOT (exg.gs > 1 AND c.doc_id <> exg.canon)),
              |g AS (SELECT doc_id,
              |        list_distinct(list_transform(range(len(w) - 1),
              |          i -> w[i+1] || ' ' || w[i+2])) AS grams
              |      FROM (SELECT doc_id,
              |              list_filter(string_split(text, ' '), x -> x <> '') AS w
              |            FROM kc)),
              |hh AS (SELECT doc_id, grams,
              |        list_transform(grams, s ->
              |          list_reduce(list_prepend(0::BIGINT,
              |            list_transform(range(length(s)),
              |              c -> ascii(substr(s, CAST(c + 1 AS INT), 1))::BIGINT)),
              |            (acc, x) -> (acc * 31 + x) % 1000000007)) AS hs
              |       FROM g WHERE len(grams) > 0),
              |sig AS (SELECT doc_id,
              |         list_transform(range(64), i -> list_min(list_transform(hs, h ->
              |           ((((2*i+1) * 1103515245) % 1000000007) * h
              |            + (((i+1) * 12345) % 1000000007)) % 1000000007))) AS sig
              |        FROM hh),
              |banded AS (SELECT doc_id,
              |            unnest(list_transform(range(16), t ->
              |              list_reduce(list_prepend((t+1)::BIGINT, sig[t*4+1 : t*4+4]),
              |                (acc, x) -> (acc * 31 + x) % 1000000007))) AS band_key
              |           FROM sig),
              |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
              |         FROM banded a JOIN banded b
              |           ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
              |j AS (SELECT c.a_id, c.b_id,
              |        round(len(list_intersect(ga.grams, gb.grams))::DOUBLE /
              |              (len(ga.grams) + len(gb.grams)
              |               - len(list_intersect(ga.grams, gb.grams))), 6) AS jaccard
              |      FROM cand c JOIN hh ga ON ga.doc_id = c.a_id
              |                  JOIN hh gb ON gb.doc_id = c.b_id),
              |edges AS (SELECT a_id AS a, b_id AS b FROM j WHERE jaccard >= 0.8
              |          UNION SELECT b_id, a_id FROM j WHERE jaccard >= 0.8),
              |reach AS (
              |  WITH RECURSIVE r(s, t) AS (
              |    SELECT doc_id, doc_id FROM kc
              |    UNION
              |    SELECT r.s, e.b FROM r JOIN edges e ON r.t = e.a)
              |  SELECT * FROM r),
              |comp AS (SELECT s AS doc_id, min(t) AS comp FROM reach GROUP BY s),
              |surv AS (SELECT kc.doc_id, kc.text
              |         FROM kc JOIN comp m ON kc.doc_id = m.doc_id
              |         WHERE m.comp = kc.doc_id),
              |w2 AS (SELECT doc_id, text,
              |         list_filter(string_split(text, ' '), x -> x <> '') AS ws
              |       FROM surv),
              |lq AS (SELECT doc_id,
              |  round(CASE WHEN len(ws) > 0 THEN
              |    len(list_filter(ws, x -> x IN ('the','a','of','to','and','in','is')))::DOUBLE / len(ws)
              |    ELSE 0 END, 6) AS en_ratio,
              |  round(CASE WHEN len(ws) > 0 THEN
              |    len(list_filter(ws, x -> x IN ('der','die','das','und','ist')))::DOUBLE / len(ws)
              |    ELSE 0 END, 6) AS de_ratio,
              |  round(CASE WHEN len(ws) > 0 THEN
              |    len(list_filter(ws, x -> x IN ('le','la','les','et','est')))::DOUBLE / len(ws)
              |    ELSE 0 END, 6) AS fr_ratio,
              |  len(ws) AS n_words, length(text) AS n_chars,
              |  len(list_filter(ws, x -> x IN ('the','a','of','to','and','in','is'))) AS stop_hits,
              |  len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS punct_hits,
              |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INT) AS n_tokens
              |  FROM w2),
              |sigs AS (SELECT doc_id, n_tokens,
              |  CASE WHEN greatest(en_ratio, de_ratio, fr_ratio) >= 0.02 THEN
              |    CASE WHEN fr_ratio >= greatest(en_ratio, de_ratio) THEN 'fr'
              |         WHEN en_ratio >= de_ratio THEN 'en' ELSE 'de' END
              |  ELSE 'und' END AS lang,
              |  round(greatest(0.0, least(1.0,
              |    least(n_words / 100.0, 1.0) * 0.4
              |    + least((CASE WHEN n_words > 0 THEN stop_hits::DOUBLE / n_words ELSE 0 END) * 5.0, 1.0) * 0.3
              |    + least((CASE WHEN n_words > 0 THEN (n_chars - (n_words - 1))::DOUBLE / n_words ELSE 0 END) / 8.0, 1.0) * 0.3
              |    - (CASE WHEN n_chars > 0 THEN punct_hits::DOUBLE / n_chars ELSE 0 END))), 6) AS quality_score
              |  FROM lq),
              |cgr AS (SELECT doc_id,
              |        CASE WHEN len(ws) >= 5 THEN
              |          list_distinct(list_transform(range(len(ws) - 4),
              |            i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
              |                 || ' ' || ws[i+4] || ' ' || ws[i+5]))
              |        ELSE []::VARCHAR[] END AS grams
              |      FROM w2),
              |bset AS (SELECT DISTINCT unnest(CASE WHEN len(bw) >= 5 THEN
              |          list_transform(range(len(bw) - 4),
              |            i -> bw[i+1] || ' ' || bw[i+2] || ' ' || bw[i+3]
              |                 || ' ' || bw[i+4] || ' ' || bw[i+5])
              |          ELSE []::VARCHAR[] END) AS gram
              |        FROM (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS bw
              |              FROM documents WHERE doc_id % 97 = 0)),
              |cg2 AS (SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram FROM cgr),
              |hits AS (SELECT cg2.doc_id, cg2.n_grams, count(b.gram) AS n_contaminated
              |         FROM cg2 LEFT JOIN bset b USING (gram)
              |         GROUP BY cg2.doc_id, cg2.n_grams),
              |contam AS (SELECT c.doc_id,
              |  coalesce(CASE WHEN h.n_grams > 0 THEN
              |    round(h.n_contaminated::DOUBLE / h.n_grams, 6) END, 0.0)
              |    AS contaminated_frac
              |  FROM surv c LEFT JOIN hits h USING (doc_id)),
              |fin AS (SELECT c.doc_id,
              |  CASE WHEN m.comp IS NULL THEN c.doc_id ELSE m.comp END AS cluster_id,
              |  ct.contaminated_frac, s2.lang, s2.n_tokens, s2.quality_score,
              |  CASE WHEN e2.gs > 1 AND c.doc_id <> e2.canon THEN 'exact_duplicate'
              |       WHEN m.comp IS NOT NULL AND m.comp <> c.doc_id THEN 'near_duplicate'
              |       WHEN ct.contaminated_frac >= 0.3 THEN 'contaminated'
              |       WHEN s2.lang <> 'en' THEN 'wrong_language'
              |       WHEN s2.quality_score < 0.3 THEN 'low_quality'
              |       ELSE 'kept' END AS drop_reason
              |  FROM corpus c
              |  JOIN exg e2 USING (doc_id)
              |  LEFT JOIN comp m USING (doc_id)
              |  LEFT JOIN contam ct USING (doc_id)
              |  LEFT JOIN sigs s2 USING (doc_id))
              |SELECT doc_id, cluster_id, contaminated_frac, lang, n_tokens,
              |       quality_score, drop_reason, drop_reason = 'kept' AS keep
              |FROM fin ORDER BY doc_id""".stripMargin)),
    Q("p71_hyperball", p71, Some(hyperballOracleSql(3, 16))),
    Q("p72_fellegi_sunter", p72, Some(fellegiSunterOracleSql)),
    Q("p73_ndcg", p73,
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
             |            label AS q_label
             |          FROM embeddings WHERE vec_id < 10),
             |s AS (SELECT q.query_id, e.vec_id AS neighbor_id, q.q_label,
             |        e.label AS n_label,
             |        round(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]), 6) AS sim
             |      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
             |r AS (SELECT query_id,
             |        CASE WHEN q_label = n_label THEN 1 ELSE 0 END AS rel, rank
             |      FROM (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             |              ORDER BY sim DESC, neighbor_id) AS INT) AS rank FROM s)
             |      WHERE rank <= 10),
             |g AS (SELECT query_id, CAST(sum(rel) AS INT) AS n_rel,
             |        list_sum(list(rel::DOUBLE / (ln(rank + 1.0) / ln(2.0))
             |          ORDER BY rank)) AS dcg
             |      FROM r GROUP BY query_id)
             |SELECT query_id, n_rel, round(dcg, 6) AS dcg,
             |  round(CASE WHEN n_rel > 0 THEN dcg / list_sum(
             |    list_transform(range(1, n_rel + 1),
             |      i -> 1.0 / (ln(i + 1.0) / ln(2.0))))
             |    ELSE 0.0 END, 6) AS ndcg
             |FROM g ORDER BY query_id""".stripMargin)),
    Q("p74_classifier_eval", p74, Some(classifierEvalOracleSql)),
    Q("p76_hits", p76, Some(hitsOracleSql(2))),
    Q("p77_effective_diameter", p77, Some(effDiamOracleSql)),
    Q("p75_adamic_adar", p75,
      Some(s"""WITH $tradeEdgesSqlPrefix,
              |deg AS (SELECT src, count(*) AS deg FROM ed GROUP BY src),
              |ez AS (SELECT ed.src AS z, ed.dst AS nbr,
              |         CAST(floor(1048576.0 / ln(deg.deg::DOUBLE)) AS BIGINT) AS w
              |       FROM ed JOIN deg USING (src)
              |       WHERE deg.deg BETWEEN 2 AND 64),
              |p AS (SELECT a.nbr AS a_id, b.nbr AS b_id,
              |        count(*) AS common, sum(a.w) AS w_fix
              |      FROM ez a JOIN ez b ON a.z = b.z AND a.nbr < b.nbr
              |      GROUP BY a.nbr, b.nbr HAVING count(*) >= 2)
              |SELECT a_id, b_id, CAST(common AS BIGINT) AS common,
              |       round(CAST(w_fix AS DOUBLE) / 1048576.0, 6) AS aa
              |FROM p ORDER BY a_id, b_id""".stripMargin)),
    Q("p70_embed_standardize", p70,
      // fixed-point moment sums (HUGEINT in DuckDB = decimal in Spark),
      // then the identical two-division mean / E[q²]−E[q]² / z shape
      Some("""WITH q AS (SELECT vec_id,
             |         list_transform(embedding,
             |           x -> CAST(floor(x::DOUBLE * 1048576 + 0.5) AS BIGINT)) AS qv
             |       FROM embeddings),
             |e AS (SELECT vec_id, i, qv[CAST(i + 1 AS INT)] AS q
             |      FROM q, range(64) t(i)),
             |m AS (SELECT i, sum(q) AS s1, sum(q * q) AS s2, count(*) AS n
             |      FROM e GROUP BY i),
             |v AS (SELECT i,
             |        CAST(s1 AS DOUBLE) / 1048576.0 / n AS mean,
             |        CAST(s2 AS DOUBLE) / 1099511627776.0 / n AS msq
             |      FROM m),
             |vv AS (SELECT i, mean, msq - mean * mean AS var FROM v)
             |SELECT e.vec_id, CAST(e.i AS INT) AS i,
             |  round(CASE WHEN vv.var > 0 THEN
             |    (e.q / 1048576.0 - vv.mean) / sqrt(vv.var) ELSE 0.0 END, 6) AS z
             |FROM e JOIN vv USING (i) ORDER BY vec_id, i""".stripMargin)),
    Q("p65_ccnet_buckets", p65,
      // p22's perplexity core, then histogram-cumulate → integer-exact
      // tercile thresholds ((n+2)//3, (2n+2)//3) → value-compare buckets
      Some("""WITH w AS (SELECT doc_id,
             |            list_filter(string_split(text, ' '), x -> x <> '') AS ws
             |          FROM documents),
             |tok AS (SELECT doc_id, t.pos AS pos, t.w AS w FROM (
             |          SELECT doc_id, unnest(list_transform(range(len(ws)),
             |            i -> {'pos': i, 'w': ws[i+1]})) AS t
             |          FROM w)),
             |uni AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
             |vocab AS (SELECT w FROM uni ORDER BY c DESC, w LIMIT 50),
             |mapped AS (SELECT t.doc_id, t.pos,
             |             CASE WHEN v.w IS NOT NULL THEN t.w ELSE '' END AS tok
             |           FROM tok t LEFT JOIN vocab v USING (w)),
             |big AS (SELECT doc_id, tok,
             |          lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS tok2
             |        FROM mapped),
             |bi AS (SELECT * FROM big WHERE tok2 IS NOT NULL),
             |bc AS (SELECT tok, tok2, count(*) AS cb FROM bi GROUP BY tok, tok2),
             |cu AS (SELECT tok, count(*) AS cuc FROM mapped GROUP BY tok),
             |sc AS (SELECT bi.doc_id,
             |         ln((bc.cb + 0.5) / (cu.cuc + 0.5 * 51)) AS logp
             |       FROM bi JOIN bc USING (tok, tok2) JOIN cu USING (tok)),
             |agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
             |          round(exp(-avg(logp)), 6) AS perplexity
             |        FROM sc GROUP BY doc_id),
             |ppl AS (SELECT d.doc_id, d.lang,
             |          CAST(coalesce(a.n_bigrams, 0) AS INT) AS n_bigrams,
             |          coalesce(a.perplexity, 0.0) AS perplexity
             |        FROM documents d LEFT JOIN agg a USING (doc_id)),
             |hist AS (SELECT lang, perplexity, count(*) AS c
             |         FROM ppl GROUP BY lang, perplexity),
             |cum AS (SELECT lang, perplexity,
             |          sum(c) OVER (PARTITION BY lang ORDER BY perplexity) AS cum
             |        FROM hist),
             |n AS (SELECT lang, count(*) AS n FROM ppl GROUP BY lang),
             |cuts AS (SELECT cum.lang,
             |           min(CASE WHEN cum >= (n + 2) // 3 THEN perplexity END) AS cut1,
             |           min(CASE WHEN cum >= (2 * n + 2) // 3 THEN perplexity END) AS cut2
             |         FROM cum JOIN n USING (lang) GROUP BY cum.lang)
             |SELECT p.doc_id, p.lang, p.n_bigrams, p.perplexity,
             |  CASE WHEN p.perplexity <= c.cut1 THEN 'head'
             |       WHEN p.perplexity <= c.cut2 THEN 'middle'
             |       ELSE 'tail' END AS bucket
             |FROM ppl p JOIN cuts c USING (lang) ORDER BY doc_id""".stripMargin)),
    Q("p66_sorted_neighborhood", p66,
      Some("""WITH k AS (SELECT doc_id, substr(lower(text), 1, 12) AS key
             |           FROM documents),
             |r AS (SELECT doc_id, key,
             |        row_number() OVER (ORDER BY key, doc_id) AS rn
             |      FROM k)
             |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |       a.key AS a_key, b.key AS b_key,
             |       CAST(b.rn - a.rn AS INT) AS rank_dist
             |FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 3
             |ORDER BY a_id, b_id""".stripMargin)),
    Q("p67_pca_power", p67,
      // the p45 gram CTE symmetrized, then 3 unrolled matvec+normalize
      // rounds; every double sum folds in explicit index order and every
      // round re-rounds to 9, mirroring the Scala ordered-fold exactly
      Some("""WITH q AS (SELECT vec_id,
             |         list_transform(embedding,
             |           x -> CAST(floor(x::DOUBLE * 1048576 + 0.5) AS BIGINT)) AS qv
             |       FROM embeddings),
             |c AS (SELECT t.i AS i, u.j AS j,
             |        qv[CAST(t.i + 1 AS INT)] * qv[CAST(u.j + 1 AS INT)] AS p
             |      FROM q, range(64) t(i), range(64) u(j) WHERE u.j >= t.i),
             |g AS (SELECT i, j,
             |        round(CAST(sum(p) AS DOUBLE) / 1099511627776.0, 6) AS gram
             |      FROM c GROUP BY i, j),
             |fm AS (SELECT i, j, gram FROM g
             |       UNION ALL
             |       SELECT j AS i, i AS j, gram FROM g WHERE i <> j),
             |r1 AS (SELECT i, round(list_sum(list(gram * 0.125 ORDER BY j)), 9) AS raw
             |       FROM fm GROUP BY i),
             |n1 AS (SELECT round(sqrt(list_sum(list(raw * raw ORDER BY i))), 9) AS nrm
             |       FROM r1),
             |v1 AS (SELECT i AS k, round(raw / nrm, 9) AS v FROM r1, n1),
             |r2 AS (SELECT f.i, round(list_sum(list(f.gram * v.v ORDER BY f.j)), 9) AS raw
             |       FROM fm f JOIN v1 v ON v.k = f.j GROUP BY f.i),
             |n2 AS (SELECT round(sqrt(list_sum(list(raw * raw ORDER BY i))), 9) AS nrm
             |       FROM r2),
             |v2 AS (SELECT i AS k, round(raw / nrm, 9) AS v FROM r2, n2),
             |r3 AS (SELECT f.i, round(list_sum(list(f.gram * v.v ORDER BY f.j)), 9) AS raw
             |       FROM fm f JOIN v2 v ON v.k = f.j GROUP BY f.i),
             |n3 AS (SELECT round(sqrt(list_sum(list(raw * raw ORDER BY i))), 9) AS nrm
             |       FROM r3),
             |v3 AS (SELECT i AS k, round(raw / nrm, 9) AS v, nrm FROM r3, n3)
             |SELECT CAST(k AS INT) AS i, v AS component, nrm AS lambda
             |FROM v3 ORDER BY i""".stripMargin)),
    Q("p68_hrw_shard", p68,
      Some("""WITH s AS (SELECT doc_id, unnest(range(8)) AS s FROM documents),
             |a AS (SELECT doc_id, s,
             |        ((doc_id % 1000000007) * 2654435761 + s * 40503
             |         + 987654321) % 1000000007 AS a
             |      FROM s),
             |w AS (SELECT doc_id, s,
             |        (a * a + a * 1103515245 + 12345) % 1000000007 AS wt
             |      FROM a)
             |SELECT doc_id, CAST(s AS INT) AS shard, wt AS weight FROM (
             |  SELECT *, row_number() OVER (PARTITION BY doc_id
             |    ORDER BY wt DESC, s DESC) AS rn FROM w)
             |WHERE rn = 1 ORDER BY doc_id""".stripMargin)),
    Q("p69_pmi_cooccur", p69,
      Some("""WITH t AS (SELECT doc_id,
             |            list_filter(string_split(text, ' '), x -> x <> '') AS ws
             |          FROM documents),
             |allw AS (SELECT unnest(ws) AS w FROM t),
             |vocab AS (SELECT w FROM (
             |    SELECT w, count(*) AS c FROM allw GROUP BY w
             |    ORDER BY c DESC, w LIMIT 30)),
             |dw AS (SELECT DISTINCT doc_id, w FROM (
             |    SELECT doc_id, unnest(ws) AS w FROM t)),
             |iv AS (SELECT doc_id, w FROM dw JOIN vocab USING (w)),
             |cw AS (SELECT w, count(*) AS cw FROM iv GROUP BY w),
             |n AS (SELECT count(*) AS n FROM documents),
             |p AS (SELECT a.w AS w1, b.w AS w2, count(*) AS cab
             |      FROM iv a JOIN iv b ON a.doc_id = b.doc_id AND a.w < b.w
             |      GROUP BY a.w, b.w HAVING count(*) >= 2)
             |SELECT w1, w2, cab, c1.cw AS c1, c2.cw AS c2,
             |  round(ln(n.n::DOUBLE * cab / (c1.cw * c2.cw)), 6) AS pmi
             |FROM p JOIN cw c1 ON c1.w = p.w1 JOIN cw c2 ON c2.w = p.w2, n
             |ORDER BY w1, w2""".stripMargin)),
  )
}
