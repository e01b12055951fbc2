package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{EventTime, GraftFunctions}
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.StreamingIngest
import graft.operators.Skew.spread

/** Similarity query/oracle registry — one slice of the driver contract
  * surface, split out of the former 15k-line SparkEntry monolith so a
  * duplicated query-name literal can never silently shadow a pair out
  * of the sweep again (the round-17 q_text_chunks incident).
  * Each query's lambda, fixtures and oracle text live here; a helper
  * that a streaming twin or another family also uses is
  * `private[registry]` in its batch query's registry. Composed — with
  * a cross-registry duplicate guard — in [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]]. */
private[graft] object SimilarityRegistry extends QueryRegistry {

  /** text-chunks oracle: the same window-start generation, redundancy
    * filter, tail arithmetic, and slice rebuild in SQL. */
  private val textChunksOracleSql: String =
        """WITH tk AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
      |  FROM documents),
      |st AS (
      |  SELECT doc_id, tk, len(tk) AS n,
      |    unnest(range(0, len(tk), 24)) AS s
      |  FROM tk WHERE len(tk) > 0),
      |keep AS (
      |  SELECT doc_id, tk, n, s,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1
      |      AS chunk_id
      |  FROM st WHERE s = 0 OR s - 24 + 32 < n)
      |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
      |  CAST(s AS BIGINT) AS start_tok,
      |  CAST(least(32, n - s) AS BIGINT) AS n_tok,
      |  array_to_string(tk[s+1:s+32], ' ') AS chunk_text
      |FROM keep ORDER BY doc_id, chunk_id""".stripMargin

  /** rag-pipeline oracle: the full chain replayed — 32/24 sliding
    * chunks, the fixed-arithmetic hashed embedding (integer components,
    * so the double cosine is bit-identical cross-engine), exact top-10
    * with (cosine desc, neighbor) ties, the key-derived relevance
    * grades, and the frozen-ppm nDCG table. ann_ok replays TRUE — the
    * engine-side IVF-PQ persistence + recall gate must hold or the hash
    * fails. */
  private val ragPipelineOracleSql: String =
        """WITH tk AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
      |  FROM documents),
      |ch AS (
      |  SELECT doc_id, source, CAST(j AS BIGINT) AS chunk_id,
      |    list_transform(
      |      tk[24*j + 1:least(24*j + 32, len(tk))], w -> lower(w)) AS ctk
      |  FROM tk, LATERAL (SELECT unnest(range(0, ((len(tk) - 1) // 24) + 1)) AS j) r
      |  WHERE len(tk) > 0 AND (j = 0 OR 24*j + 8 < len(tk))),
      |emb AS (
      |  SELECT doc_id, source, chunk_id,
      |    doc_id * 4096 + chunk_id AS vec_id,
      |    list_transform(range(0, 16), b ->
      |      list_sum(list_transform(ctk, t ->
      |        CASE WHEN (3*length(t) + 7*unicode(t)
      |                   + 13*unicode(substring(t, length(t), 1))) % 16 = b
      |          THEN CASE WHEN (length(t) + unicode(t)) % 2 = 0
      |               THEN 1.0 ELSE -1.0 END
      |          ELSE 0.0 END))) AS v
      |  FROM ch),
      |scored AS (
      |  SELECT q.vec_id AS query, q.doc_id AS qdoc, q.source AS qsrc,
      |    c.vec_id AS neighbor_id, c.doc_id AS cdoc,
      |    c.chunk_id AS cchunk, c.source AS csrc,
      |    list_sum(list_transform(list_zip(q.v, c.v),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
      |         * sqrt(list_sum(list_transform(c.v, x -> x * x)))) AS cos
      |  FROM emb q JOIN emb c
      |    ON NOT (c.doc_id % 25 = 7 AND c.chunk_id = 0)
      |  WHERE q.doc_id % 25 = 7 AND q.chunk_id = 0
      |    AND list_sum(list_transform(q.v, x -> x * x)) > 0
      |    AND list_sum(list_transform(c.v, x -> x * x)) > 0),
      |ranked AS (
      |  SELECT query, rank, rel FROM (
      |    SELECT query, neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY query
      |        ORDER BY cos DESC, neighbor_id) AS rank,
      |      CASE WHEN qdoc = cdoc THEN
      |             (CASE WHEN cchunk = 1 THEN 3 ELSE 2 END)
      |           WHEN qsrc = csrc THEN 1 ELSE 0 END AS rel
      |    FROM scored) t
      |  WHERE rank <= 10),
      |disc(r, d) AS (VALUES (1, 1000000), (2, 630930), (3, 500000),
      |  (4, 430677), (5, 386853), (6, 356207), (7, 333333), (8, 315465),
      |  (9, 301030), (10, 289065)),
      |ideal AS (
      |  SELECT query, rank, rel,
      |    ROW_NUMBER() OVER (PARTITION BY query
      |      ORDER BY rel DESC, rank ASC) AS irank
      |  FROM ranked),
      |agg AS (
      |  SELECT query, COUNT(*) AS n_ranked,
      |    CAST(SUM(rel * ds.d) AS BIGINT) AS dcg_ppm,
      |    CAST(SUM(rel * di.d) AS BIGINT) AS idcg_ppm
      |  FROM ideal JOIN disc ds ON ds.r = rank JOIN disc di ON di.r = irank
      |  GROUP BY query)
      |SELECT query, n_ranked, dcg_ppm, idcg_ppm,
      |  CASE WHEN idcg_ppm > 0
      |    THEN CAST((1000000 * dcg_ppm) // idcg_ppm AS BIGINT)
      |    ELSE NULL END AS ndcg_ppm,
      |  TRUE AS ann_ok
      |FROM agg ORDER BY query""".stripMargin

  /** The rank-shape half of the retrieval contract, shared by the ANN
    * verify siblings and the round-14 headliner folds: scores
    * non-increasing in rank, ranks contiguous AND distinct (min==1 &&
    * max==count alone would pass a duplicate-plus-gap pattern like
    * {1,2,2,4}). Violations frame (query_id, rank, issue). */
  private def rankShapeViolations(res: DataFrame, scoreCol: String): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    val badOrder = res
      .withColumn("__prev", lag(col(scoreCol), 1).over(w))
      .filter(col("__prev").isNotNull && col(scoreCol) > col("__prev"))
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        lit("rank_not_monotone").as("issue"))
    val badSeq = res.groupBy(col("query_id"))
      .agg(count(lit(1)).as("__n"), min(col("rank")).as("__lo"),
        max(col("rank")).as("__hi"), countDistinct(col("rank")).as("__d"))
      .filter(!(col("__lo") === 1 && col("__hi") === col("__n") &&
        col("__d") === col("__n")))
      .select(col("query_id"), lit(null).cast("long").as("rank"),
        lit("rank_gap").as("issue"))
    badOrder.unionByName(badSeq)
  }

  /** Round-14 ANN headliner fold: per query, the result count plus
    * "no contract violation touched this query" — WHICH neighbors the
    * probes reach stays engine-internal (and in the API); what the
    * driver gates is the deterministic retrieval contract. */
  private def annContract(res: DataFrame, viol: DataFrame): DataFrame =
    res.groupBy(col("query_id")).agg(count(lit(1)).as("n_results"))
      .join(viol.select(col("query_id")).distinct()
        .withColumn("__bad", lit(true)), Seq("query_id"), "left")
      .select(col("query_id"), col("n_results"),
        col("__bad").isNull.as("contract_ok"))
      .orderBy(col("query_id"))

  /** Cosine over float-array columns with built-in HOFs (zip_with +
    * aggregate, left-to-right double accumulation — the same order as the
    * native FloatVecDot expression, so results are bit-identical). */
  private[registry] def builtinCosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column = aggregate(
      zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    def norm(x: Column): Column = sqrt(aggregate(
      transform(x, p => p.cast("double") * p.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    dot(a, b) / (norm(a) * norm(b))
  }

  /** SUB-BLOCK-GROUPED cosine with built-in HOFs — the exact accumulation
    * order of [[operators.ProductQuantize.adcTopK]]'s scorer (flat
    * left-to-right within each dsub block, blocks added in order), so the
    * recompute is bit-identical to the UDF's doubles. A flat whole-vector
    * fold would differ in the last ulp (float addition is non-associative)
    * and flip 6dp rounding on boundary values. */
  private def builtinBlockCosine(a: Column, b: Column, m: Int, dsub: Int): Column = {
    def blockDot(i: Int, x: Column, y: Column): Column = aggregate(
      zip_with(slice(x, i * dsub + 1, dsub), slice(y, i * dsub + 1, dsub),
        (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val num = (0 until m).map(i => blockDot(i, a, b)).reduce(_ + _)
    val qn = (0 until m).map(i => blockDot(i, a, a)).reduce(_ + _)
    val cn = (0 until m).map(i => blockDot(i, b, b)).reduce(_ + _)
    num / (sqrt(qn) * sqrt(cn))
  }

  /** Double-precision cosine between two embedding columns in DuckDB list
    * math — the exact sequential-accumulation form that is bit-identical to
    * the Spark native expression (NOT list_cosine_similarity: float32). */
  private def cosineSql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |         * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  /** Full SQL re-derivation of the hyperplane-LSH top-k: the seed-7 gaussian
    * planes are data-INDEPENDENT constants, so the oracle embeds them as
    * literals and recomputes signature bits, band buckets, candidate join,
    * and the exact cosine rerank — an independent DuckDB implementation of
    * the whole approximate pipeline, hash-compared end-to-end. Sign bits
    * agree because the dot products are bit-identical doubles. */
  private lazy val lshTopkOracleSql: String = {
    val planes = operators.Similarity.hyperplanesFor(64)
    val bits = operators.Similarity.SignatureBits
    val bands = operators.Similarity.Bands
    val rows = bits / bands
    val mask = (1 << rows) - 1
    val sigTerms = planes.zipWithIndex.map { case (p, i) =>
      val arr = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_sum(list_transform(list_zip(embedding, $arr), x -> CAST(x[1] AS DOUBLE) * x[2])) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n      + ")
    s"""WITH sigs AS (
       |  SELECT vec_id, $sigTerms AS sig FROM embeddings
       |),
       |bucketed AS (
       |  SELECT vec_id, b.band, (sig >> (b.band * $rows)) & $mask AS bucket
       |  FROM sigs, (SELECT unnest(range(0, $bands)) AS band) b
       |),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM bucketed q JOIN bucketed c ON q.band = c.band AND q.bucket = c.bucket
       |  WHERE q.vec_id < 16 AND q.vec_id <> c.vec_id
       |),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    ${cosineSql("q.embedding", "c.embedding")} AS cosine
       |  FROM cand
       |  JOIN embeddings q ON q.vec_id = query_id
       |  JOIN embeddings c ON c.vec_id = neighbor_id
       |)
       |SELECT query_id, rank, neighbor_id, ROUND(cosine, 6) AS cosine FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored) t
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** Retrieval contract frame: the 16 fixture queries, k = 10 results
    * each, contract clean — shared by the three approximate-ANN folds
    * and (as `stream_eq_batch`) the serving twin. */
  private[registry] def annContractOracleSql(flagName: String): String =
    s"""SELECT vec_id AS query_id, CAST(10 AS BIGINT) AS n_results,
      |  TRUE AS $flagName
      |FROM embeddings WHERE vec_id < 16 ORDER BY query_id""".stripMargin

  /** The bitext "source language" side: a sampled, deterministically
    * perturbed copy of the embedding corpus — component vec_id % dim
    * clobbered to 1.0 (the translation-noise analogue: near its
    * original, identical to nothing). Shared by the exact miner and the
    * IVF serving gate so both paths mine the same frame. */
  private[registry] def bitextSrc(emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    emb.filter(col("vec_id") % 17 === 0)
      .withColumn("embedding",
        transform(col("embedding").cast("array<float>"), (v, i) =>
          when(i.cast("long") ===
              pmod(col("vec_id"), size(col("embedding")).cast("long")),
            lit(1.0f)).otherwise(v)))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Sliding-window RAG chunks: 32-token windows advancing by 24
    // (8-token overlap), tail kept as a shorter final chunk, redundant
    // trailing windows skipped — the embedding-prep layout. Original
    // case preserved (chunks get quoted back to users). Per-row
    // higher-order array ops, zero shuffle. (Round-17 rename: this
    // entry used to collide with the chars-based q_text_chunks under
    // ONE duplicated map key, which silently shadowed it out of the
    // whole correctness sweep — Scala Map literals keep the last
    // binding. The names are now distinct and both queries run.)
    "q_rag_chunks" -> ((s, dir) =>
      operators.TextExtract.slidingChunks(
          spread(t(s, dir, "documents")).select(col("doc_id"), col("text")),
          "doc_id", "text", chunkSize = 32, overlap = 8)
        .orderBy(col("doc_id"), col("chunk_id"))),


    // RAG RETRIEVAL CAPSTONE — the front's pieces chained end-to-end the
    // way q_crawl_pipeline caps the crawl: sliding-window chunks (32/8)
    // → fixed-arithmetic hashed-feature embeddings (dim 16, integer
    // components — SQL-replayable by construction) → EXACT cosine top-10
    // per query chunk (docs %25==7, chunk 0) → graded relevance
    // (same doc: adjacent 3 / other 2; same source 1) → frozen-ppm
    // nDCG@10. The DuckDB oracle replays that whole chain
    // value-for-value. ann_ok folds the SERVING path in: an IVF-PQ index
    // trained on the same chunk embeddings, PERSISTED AND RELOADED, must
    // return 10 results per query with mean recall@10 vs the exact
    // ranking above the spec floor — at 100 TB the brute force is the
    // eval-scale baseline and the cell-pruned two-stage path serves.
    "q_rag_pipeline" -> ((s, dir) => {
      val modelPath = Scratch.path(dir, "rag_model")
      val docs = spread(t(s, dir, "documents"))
      // chunk keys pack (doc, chunk) into one numeric total order; the
      // fixture corpus tops out far below 4096 chunks per document
      val emb = Materialize(operators.TextExtract.slidingChunks(
          docs.select(col("doc_id"), col("text")),
          "doc_id", "text", chunkSize = 32, overlap = 8)
        .select((col("doc_id") * 4096L + col("chunk_id")).as("vec_id"),
          col("doc_id"), col("chunk_id"),
          operators.Similarity.hashedEmbedding(col("chunk_text"), 16)
            .as("embedding"))) // five consumers: exact, 2×train, index, rerank
      val isQ = pmod(col("doc_id"), lit(25)) === 7 && col("chunk_id") === 0L
      val queries = emb.filter(isQ)
      val corpus = emb.filter(!isQ)
      // feeds ndcg and the recall gate
      val exact = Materialize(
        operators.Similarity.cosineTopK(queries, corpus, k = 10))
      val srcs = docs.select(col("doc_id"), col("source"))
      val ranked = exact
        .withColumn("qdoc", expr("query_id div 4096"))
        .withColumn("cdoc", expr("neighbor_id div 4096"))
        .withColumn("cchunk", pmod(col("neighbor_id"), lit(4096L)))
        .join(broadcast(srcs.select(col("doc_id").as("qdoc"),
          col("source").as("qsrc"))), Seq("qdoc"))
        .join(broadcast(srcs.select(col("doc_id").as("cdoc"),
          col("source").as("csrc"))), Seq("cdoc"))
        .withColumn("rel",
          when(col("qdoc") === col("cdoc"),
            when(col("cchunk") === 1L, lit(3L)).otherwise(lit(2L)))
            .when(col("qsrc") === col("csrc"), lit(1L)).otherwise(lit(0L)))
        .select(col("query_id").as("query"), col("rank"), col("rel"))
      val ndcg = operators.Eval.ndcgAtK(ranked, "query", "rank", "rel",
        k = 10)
      // serving path: train → persist → reload → retrieve → recall gate.
      // Index and search knobs SCALE with the corpus
      // ([[operators.IvfPq.servingKnobs]]: cells ≈ √n, probe a quarter,
      // shortlist ≈ n/64) — the round-18 sweep showed the old fixed
      // (16 cells, nprobe 4, shortlist 32) decaying from 0.685 recall at
      // sf0.01 to 0.46 at sf0.1, while the scaled point holds ≥ 0.86 at
      // both; the in-query floor is 0.8 accordingly (BASELINE.md table).
      val (cells, nprobe, shortlist) =
        operators.IvfPq.servingKnobs(emb.count())
      val ivf = operators.IvfIndex.train(emb, "vec_id", "embedding",
        k = cells)
      val pq = operators.ProductQuantize.train(emb, "vec_id", "embedding",
        m = 4, k = 16)
      operators.IvfPq.saveModels(s, modelPath, ivf, pq)
      val (livf, lpq) = operators.IvfPq.loadModels(s, modelPath)
      val ann = Materialize(operators.IvfPq.topK(queries, corpus, livf, lpq, k = 10,
        nprobe = nprobe, shortlist = shortlist))
      val annCnt = ann.groupBy(col("query_id")).agg(count(lit(1)).as("__n"))
      val meanOk = exact.select(col("query_id"), col("neighbor_id"))
        .join(ann.select(col("query_id"), col("neighbor_id"),
          lit(1L).as("__hit")), Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg((sum(coalesce(col("__hit"), lit(0L))).cast("double") /
          count(lit(1)).cast("double")).as("__recall"))
        .agg(avg(col("__recall")).as("__m"))
        .select((col("__m") >= lit(0.8)).as("__mean_ok"))
      ndcg.join(annCnt.withColumnRenamed("query_id", "query"),
          Seq("query"), "left")
        .crossJoin(broadcast(meanOk)) // one-row total, the sanctioned shape
        .select(col("query"), col("n_ranked"), col("dcg_ppm"),
          col("idcg_ppm"), col("ndcg_ppm"),
          (coalesce(col("__n"), lit(0L)) === 10L && col("__mean_ok"))
            .as("ann_ok"))
        .orderBy(col("query"))
    }),


    // int8 scalar quantization: per-dim codebook from ONE bounded
    // aggregate, codes via pure codegen transform — the 4x scan/shuffle
    // cut of an IVF-SQ vector pipeline; exploded to scalar rows so the
    // hash gate compares every code.
    "q_vec_quantize" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (lo, hi) = operators.VectorQuantize.trainMinMax(emb, "embedding")
      operators.VectorQuantize.quantize(emb.filter(col("vec_id") < 160), "embedding", lo, hi)
        .select(col("vec_id"), posexplode(col("qcode")).as(Seq("dim", "code")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          col("code").cast("long").as("code"))
        .orderBy(col("vec_id"), col("dim"))
    }),


    "q_sim_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.cosineTopK(emb.filter(col("vec_id") < 16), emb, k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),


    "q_sim_topk_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshCosineTopK(emb.filter(col("vec_id") < 16), emb, k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),


    // Hard-negative mining: nearest neighbors with a DIFFERENT label —
    // contrastive-training data. Same broadcast-bounded-queries shape as
    // q_sim_topk; label mismatch filtered before any dot product runs.
    "q_mine_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb.filter(col("vec_id") < 16), emb, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),


    // Margin-based BITEXT MINING (Artetxe & Schwenk — the CCMatrix/NLLB
    // parallel-corpus miner): the "source language" side is a sampled,
    // deterministically perturbed copy of the embedding corpus (component
    // vec_id % dim clobbered to 1.0 — the translation-noise analogue:
    // near its original, identical to nothing), the "target" side is the
    // corpus itself; candidates score by cosine RATIO to each side's
    // k-NN average (hubness cancels), best margin per src wins, accepted
    // above 1.05. The oracle replays perturbation, cosines, both k-NN
    // rankings, and the integer margin division value-for-value. The
    // exact S×T cross is the labeled-oracle path bounded by the src
    // sample (the q_rag_pipeline discipline); at scale the cross swaps
    // for IVF-PQ shortlists feeding the same margin arithmetic.
    "q_bitext_mine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bitextMine(bitextSrc(emb), emb, k = 4,
          minMarginPpm = 1050000L)
        .orderBy(col("src_id"))
    }),


    // The miner's SERVING path, agreement-gated in-query: the same
    // margin arithmetic (Similarity.marginMine — literally the shared
    // code) runs over IVF-shortlist candidates instead of the full S×T
    // cross — the shape an at-scale run ships, where the corpus side is
    // too large to cross even against a sampled src side. Mined picks
    // are engine-internal (which tgt the probes reach depends on the
    // trained cells), so the gated output is the violation frame:
    // (a) every exact-path src must survive into the IVF path;
    // (b) best-tgt agreement with the exact miner must hold the
    // spec-measured floor. Oracle = empty relation.
    "q_bitext_ivf_verify" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val emb = t(s, dir, "embeddings")
      val src = bitextSrc(emb)
      val exact = Materialize(Similarity.bitextMine(src, emb, k = 4,
        minMarginPpm = 1050000L))
      // corpus-SCALED serving knobs (the q_rag_pipeline lesson: fixed
      // knobs decay with corpus growth; scaled ones hold — probed
      // agreement 0.933 at sf0.01 / 0.949 at sf0.1 vs the 0.9 floor)
      val (cells, nprobe, shortlist) =
        operators.IvfPq.servingKnobs(emb.count())
      val model = operators.IvfIndex.train(emb, "vec_id", "embedding",
        k = cells)
      // src ids collide with corpus ids (the true pair IS (i, i)) and
      // topK excludes query_id == neighbor_id self-matches — shift the
      // query ids out of the corpus id space, then map back
      val short = operators.IvfIndex.topK(
        src.withColumn("vec_id", col("vec_id") + lit(1000000L)),
        emb, model, k = shortlist, nprobe = nprobe)
      val scored = short.select(
        (col("query_id") - lit(1000000L)).as("src_id"),
        col("neighbor_id").as("tgt_id"),
        round(col("cosine") * 1e6).cast("long").as("c_ppm"))
      val mined = Materialize(Similarity.marginMine(scored, k = 4,
        minMarginPpm = 1050000L))
      val badShape = exact.select(col("src_id"))
        .except(mined.select(col("src_id")))
        .select(col("src_id"), lit("src_missing_from_ivf_path").as("issue"))
      val agree = exact.select(col("src_id"), col("tgt_id").as("__te"))
        .join(mined.select(col("src_id"), col("tgt_id").as("__ti")),
          Seq("src_id"), "left")
        .agg(avg(when(col("__ti") === col("__te"), 1.0).otherwise(0.0))
          .as("__a"))
      val badAgree = agree.filter(col("__a") < 0.9)
        .select(lit(null).cast("long").as("src_id"),
          lit("agreement_below_floor").as("issue"))
      badShape.unionByName(badAgree).orderBy(col("src_id"), col("issue"))
    }),


    // MMR diversity re-rank over the exact top-12 candidates: greedy
    // λ·rel − (1−λ)·max-sim-to-selected with λ = 0.7, k = 5. The entire
    // iterative selection is hash-oracled: relevance and pairwise sims
    // are micro-quantized (round(cos·10⁶)) BEFORE the greedy, the
    // objective is integer arithmetic, and the oracle replays the loop
    // as a recursive CTE carrying (candidate lists, pairwise sim matrix,
    // selected positions) per query.
    "q_sim_mmr" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.mmrRerank(emb.filter(col("vec_id") < 16), emb,
          k = 5, topN = 12)
        .orderBy(col("query_id"), col("step"))
    }),


    // Approximate IVF retrieval (nprobe = 4 of 16 cells): WHICH
    // neighbors the probes reach is engine-internal, so the gated output
    // is the per-query contract frame — k results, every emitted cosine
    // equal to the builtin recompute, monotone contiguous ranks
    // (round-14 fold; the neighbor lists stay in the API, the lossless
    // nprobe=16 twin q_sim_topk_ivf_full keeps the full value oracle).
    "q_sim_topk_ivf" -> ((s, dir) => {
      val embT = t(s, dir, "embeddings")
      val emb = embT.select(col("vec_id"),
        col("embedding").cast("array<float>").as("v"))
      val model = operators.IvfIndex.train(embT, "vec_id", "embedding", k = 16)
      val res = Materialize(operators.IvfIndex.topK(embT.filter(col("vec_id") < 16),
        embT, model, k = 10, nprobe = 4))
      val badScore = res
        .join(emb.select(col("vec_id").as("query_id"), col("v").as("__q")),
          Seq("query_id"), "left")
        .join(emb.select(col("vec_id").as("neighbor_id"), col("v").as("__c")),
          Seq("neighbor_id"), "left")
        .withColumn("__rc", round(builtinCosine(col("__q"), col("__c")), 6))
        .filter(col("__rc").isNull || col("__rc") =!= col("cosine") ||
          col("query_id") === col("neighbor_id"))
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          lit("cosine_mismatch_or_self").as("issue"))
      annContract(res, badScore.unionByName(rankShapeViolations(res, "cosine")))
    }),


    // Verification-property sibling for the approximate IVF top-k: (a) each
    // emitted neighbor's cosine, re-scored from raw embeddings with the
    // built-in HOF path, must equal the emitted 6dp value and must not be a
    // self-match; (b) per query, cosine must be non-increasing in rank;
    // (c) per query, ranks must be the contiguous sequence 1..n. What stays
    // approximate (and sanctioned) is only WHICH neighbors the probes
    // reach. Violations only; oracle = empty relation.
    "q_sim_topk_ivf_verify" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("v"))
      val model = operators.IvfIndex.train(
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 16)
      val res = Materialize(operators.IvfIndex.topK(
        t(s, dir, "embeddings").filter(col("vec_id") < 16),
        t(s, dir, "embeddings"), model, k = 10, nprobe = 4))
      // three checks read `res`; the IVF join runs once
      // LEFT joins + null clause (dangling ids / null recomputes are
      // violations); rank contiguity additionally requires DISTINCT ranks —
      // min==1 && max==count alone would pass a duplicate-plus-gap pattern
      // like {1,2,2,4}.
      val badScore = res
        .join(emb.select(col("vec_id").as("query_id"), col("v").as("__q")),
          Seq("query_id"), "left")
        .join(emb.select(col("vec_id").as("neighbor_id"), col("v").as("__c")),
          Seq("neighbor_id"), "left")
        .withColumn("__rc", round(builtinCosine(col("__q"), col("__c")), 6))
        .filter(col("__rc").isNull || col("__rc") =!= col("cosine") ||
          col("query_id") === col("neighbor_id"))
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          lit("cosine_mismatch_or_self").as("issue"))
      badScore.unionByName(rankShapeViolations(res, "cosine"))
        .orderBy(col("query_id"), col("rank"), col("issue"))
    }),


    // Product-quantization ADC top-k (Jégou et al., TPAMI'11): the corpus
    // side streams 8-byte codes, not 256-byte vectors — the memory-
    // compression half of billion-scale ANN. Codebooks are engine-internal
    // (per-block k-means), so the gated output is the per-query contract
    // frame (k results, ADC score ≡ decoded-vector recompute, monotone
    // contiguous ranks) — round-14 fold; the neighbor lists stay in the
    // API and recall vs the oracled exact q_sim_topk is spec-asserted in
    // PqSpec.
    "q_sim_topk_pq" -> ((s, dir) => {
      val emb = spread(t(s, dir, "embeddings"))
      val model = operators.ProductQuantize.train(emb, "vec_id", "embedding",
        m = 16, k = 64)
      val enc = Materialize(operators.ProductQuantize.encode(
        emb.select(col("vec_id"), col("embedding")), "embedding", model))
      val res = Materialize(operators.ProductQuantize.adcTopKEncoded(
        emb.filter(col("vec_id") < 16),
        enc.select(col("vec_id").as("neighbor_id"), col("pq_code")),
        model, k = 10))
      val dec = operators.ProductQuantize.decodeCol(enc, "pq_code", model)
        .select(col("vec_id").as("neighbor_id"), col("pq_decoded").as("__dv"))
      val badScore = res
        .join(emb.select(col("vec_id").as("query_id"),
          col("embedding").cast("array<float>").as("__q")), Seq("query_id"), "left")
        .join(dec, Seq("neighbor_id"), "left")
        .withColumn("__rc",
          round(builtinBlockCosine(col("__q"), col("__dv"), model.m, model.dsub), 6))
        .filter(col("__rc").isNull || col("__rc") =!= col("score") ||
          col("query_id") === col("neighbor_id"))
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          lit("score_mismatch_or_self").as("issue"))
      annContract(res, badScore.unionByName(rankShapeViolations(res, "score")))
    }),


    // Verification-property sibling: (a) each emitted score re-derived
    // from the reconstruction (decode of the code) via the mirrored
    // block-grouped HOF cosine must equal the emitted 6dp value, with
    // dangling ids / null recomputes flagged; (b) scores non-increasing in
    // rank; (c) ranks contiguous AND distinct. Violations only; oracle =
    // empty relation.
    "q_sim_topk_pq_verify" -> ((s, dir) => {
      val emb = spread(t(s, dir, "embeddings"))
      val model = operators.ProductQuantize.train(emb, "vec_id", "embedding",
        m = 16, k = 64)
      // ONE k-means-assignment pass over the corpus feeds both the search
      // and the decoded-vector side (the production codes-at-ingest shape)
      val enc = Materialize(operators.ProductQuantize.encode(
        emb.select(col("vec_id"), col("embedding")), "embedding", model))
      val res = Materialize(operators.ProductQuantize.adcTopKEncoded(
        emb.filter(col("vec_id") < 16),
        enc.select(col("vec_id").as("neighbor_id"), col("pq_code")),
        model, k = 10)) // three checks read it; scoring runs once
      val dec = operators.ProductQuantize.decodeCol(enc, "pq_code", model)
        .select(col("vec_id").as("neighbor_id"), col("pq_decoded").as("__dv"))
      val badScore = res
        .join(emb.select(col("vec_id").as("query_id"),
          col("embedding").cast("array<float>").as("__q")), Seq("query_id"), "left")
        .join(dec, Seq("neighbor_id"), "left")
        .withColumn("__rc",
          round(builtinBlockCosine(col("__q"), col("__dv"), model.m, model.dsub), 6))
        .filter(col("__rc").isNull || col("__rc") =!= col("score") ||
          col("query_id") === col("neighbor_id"))
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          lit("score_mismatch_or_self").as("issue"))
      badScore.unionByName(rankShapeViolations(res, "score"))
        .orderBy(col("query_id"), col("rank"), col("issue"))
    }),


    // IVF with nprobe = k probes every inverted list, so the result provably
    // equals exact brute-force top-k — a DuckDB-oracled row proving the whole
    // IVF machinery (train→assign→probe→rerank) is lossless end-to-end. The
    // nprobe=4 variant above stays the approximate headline (recall-spec'd).
    "q_sim_topk_ivf_full" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = operators.IvfIndex.train(emb, "vec_id", "embedding", k = 16)
      operators.IvfIndex.topK(emb.filter(col("vec_id") < 16), emb, model,
        k = 10, nprobe = 16)
        .orderBy(col("query_id"), col("rank"))
    }),


    // IVF→PQ two-stage retrieval (Jégou TPAMI'11 IVFADC): probe nprobe
    // cells, ADC-score the probed CODES, exact-cosine re-rank only the
    // short list — the billion-scale serving shape composing the two
    // verified halves. Which neighbors the probes reach is approximate,
    // so the gated output is the per-query contract frame (k results,
    // re-ranked cosines ≡ raw-vector recompute, monotone contiguous
    // ranks) — round-14 fold; neighbor lists in the API, the recall
    // floor stays in the _verify sibling.
    "q_sim_topk_ivfpq" -> ((s, dir) => {
      val embT = t(s, dir, "embeddings")
      val emb = embT.select(col("vec_id"),
        col("embedding").cast("array<float>").as("v"))
      val ivf = operators.IvfIndex.train(embT, "vec_id", "embedding", k = 16)
      val pq = operators.ProductQuantize.train(embT, "vec_id", "embedding",
        m = 16, k = 64)
      val res = Materialize(operators.IvfPq.topK(embT.filter(col("vec_id") < 16), embT,
        ivf, pq, k = 10, nprobe = 4, shortlist = 32))
      val badScore = res
        .join(emb.select(col("vec_id").as("query_id"), col("v").as("__q")),
          Seq("query_id"), "left")
        .join(emb.select(col("vec_id").as("neighbor_id"), col("v").as("__c")),
          Seq("neighbor_id"), "left")
        .withColumn("__rc", round(builtinCosine(col("__q"), col("__c")), 6))
        .filter(col("__rc").isNull || col("__rc") =!= col("cosine") ||
          col("query_id") === col("neighbor_id"))
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          lit("cosine_mismatch_or_self").as("issue"))
      annContract(res, badScore.unionByName(rankShapeViolations(res, "cosine")))
    }),


    // Verification-property sibling: (a) every emitted cosine re-derived
    // from raw embeddings must equal the emitted 6dp value (the re-rank
    // is exact, so unlike the pure-ADC twin this is a strict equality on
    // true cosines), no self-matches; (b) non-increasing in rank;
    // (c) ranks contiguous and distinct; (d) RECALL GATE — mean
    // recall@10 against the in-engine exact top-k (the same brute force
    // q_sim_topk oracles) must hold the floor the composition is
    // spec-measured to clear. Violations only; oracle = empty relation.
    "q_sim_topk_ivfpq_verify" -> ((s, dir) => {
      val embRaw = t(s, dir, "embeddings")
      val emb = embRaw
        .select(col("vec_id"), col("embedding").cast("array<float>").as("v"))
      val ivf = operators.IvfIndex.train(embRaw, "vec_id", "embedding", k = 16)
      val pq = operators.ProductQuantize.train(embRaw, "vec_id", "embedding",
        m = 16, k = 64)
      val res = Materialize(operators.IvfPq.topK(embRaw.filter(col("vec_id") < 16),
        embRaw, ivf, pq, k = 10, nprobe = 4, shortlist = 32))
      // four checks read `res`; the search runs once
      val badScore = res
        .join(emb.select(col("vec_id").as("query_id"), col("v").as("__q")),
          Seq("query_id"), "left")
        .join(emb.select(col("vec_id").as("neighbor_id"), col("v").as("__c")),
          Seq("neighbor_id"), "left")
        .withColumn("__rc", round(builtinCosine(col("__q"), col("__c")), 6))
        .filter(col("__rc").isNull || col("__rc") =!= col("cosine") ||
          col("query_id") === col("neighbor_id"))
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          lit("cosine_mismatch_or_self").as("issue"))
      // recall gate: exact top-k recomputed in-engine (affordable at
      // oracle scale — shipping the two-stage path is what avoids this
      // brute force in production); one violation row iff the MEAN
      // per-query recall@10 drops below the spec-measured floor
      val exact = operators.Similarity.cosineTopK(
        embRaw.filter(col("vec_id") < 16), embRaw, k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact
        .join(res.select(col("query_id"), col("neighbor_id"),
          lit(1L).as("__hit")), Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg((sum(coalesce(col("__hit"), lit(0L))).cast("double") /
          count(lit(1)).cast("double")).as("__recall"))
      val badRecall = hits.agg(avg(col("__recall")).as("__mean"))
        .filter(col("__mean") < 0.5)
        .select(lit(null).cast("long").as("query_id"),
          lit(null).cast("long").as("rank"),
          lit("recall_below_floor").as("issue"))
      badScore.unionByName(rankShapeViolations(res, "cosine"))
        .unionByName(badRecall)
        .orderBy(col("query_id"), col("rank"), col("issue"))
    }),


    // Hybrid retrieval: the BM25 lexical top-20 fused with the dense
    // cosine top-20 of query vector 7 by integer-micro-unit Reciprocal
    // Rank Fusion — only RANKS cross between the two retrievers, so their
    // incomparable score scales never need calibrating, and the long
    // floor-div contributions make the fusion hash-exact cross-engine.
    // The lexical rank window runs over the ALREADY-top-20-limited frame
    // (≤20 rows — not a scale-relevant global window); the dense ranks
    // come per-query-partitioned from cosineTopK.
    "q_retrieval_rrf" -> ((s, dir) => {
      val lex = operators.Bm25.score(t(s, dir, "documents"), "doc_id",
          "text", Seq("join", "stream", "vector", "dup"), topK = 20)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
        .select(col("doc_id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val dense = Similarity.cosineTopK(
          emb.filter(col("vec_id") === 7), emb, k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      operators.Fusion.rrfFuse(Seq(lex, dense), "doc_id", "rank")
        .select(col("doc_id"), col("rrf"), col("lists"))
    }),


    // Per-label embedding centroid sums in fixed-point (1e-6 grid) integer
    // arithmetic — order-independent addition makes the result reproducible
    // across engines/partitionings (double sums are not; float→decimal
    // casts round engine-specifically on dyadic ties), which is what lets
    // a vector aggregate carry a DuckDB oracle at all. The oracled surface
    // is integer-only (qsum, n pin the centroid exactly); the derived
    // double `mean` stays in the VectorStats API but out of the hash.
    // Every hashed column is cast to STRING on both sides: the values are
    // proven bit-identical across Spark/DuckDB/Python, but DuckDB's
    // SUM(BIGINT) surfaces as HUGEINT and a comparer may canonicalize
    // int128 differently than int64 — string casts remove the numeric-type
    // repr as a degree of freedom entirely.
    // Distributed Lloyd k-means, fully in-engine and ORACLED: quantized
    // 6dp-decimal inputs make every distance EXACT decimal arithmetic, so
    // assignments (argmin, cluster-id tie-break) replay bit-for-bit in
    // SQL. Per iteration: narrow codegen argmin + one (cluster,pos)-keyed
    // agg + a k·d-bounded driver collect (the MLlib shape).
    "q_kmeans_lloyd" -> ((s, dir) =>
      operators.KMeansOp.lloyd(spread(t(s, dir, "embeddings")), "vec_id", "embedding",
        k = 4, iters = 2)
        .orderBy(col("vec_id"))),


    "q_vec_centroid" -> ((s, dir) =>
      operators.VectorStats.centroidSums(
        t(s, dir, "embeddings"), "label", "embedding")
        .orderBy(col("label"), col("pos"))
        .select(col("label").cast("string").as("label"),
          col("pos").cast("string").as("pos"),
          col("qsum").cast("string").as("qsum"),
          col("n").cast("string").as("n"))),


    // Upper-triangle Gram-matrix sums — the second moment behind the
    // distributed-covariance/PCA operator (VectorStats.pcaComponents),
    // under the same fixed-point contract as the centroid: the product of
    // two IEEE doubles is the same double in every engine, floor pins it
    // to a long, long sums commute. All columns string-cast on both sides
    // (the q_vec_centroid lesson: leave no numeric repr to canonicalize).
    "q_vec_gram" -> ((s, dir) =>
      operators.VectorStats.gramSums(spread(t(s, dir, "embeddings")), "embedding")
        .orderBy(col("i"), col("j"))
        .select(col("i").cast("string").as("i"), col("j").cast("string").as("j"),
          col("qsum").cast("string").as("qsum"), col("n").cast("string").as("n"))),


    // Vector-quality gate: fixed-point squared norms, exact-percentile
    // thresholds (the quantile_cont identity), plain comparison flags.
    "q_vec_outliers" -> ((s, dir) =>
      operators.VectorStats.normOutliers(
        t(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy(col("vec_id"))),


    // Verification-property sibling: the posexplode fixed-point path must
    // agree exactly (integer equality, no tolerance) with an independent
    // in-Spark recompute that never uses posexplode — a broadcast
    // positions×rows join with element_at, quantized through the same
    // floor(v·1e6) contract. Violations only; oracle = empty relation, so
    // the centroid math is driver-gated even if the cross-engine
    // fingerprint comparison stays environment-sensitive.
    "q_vec_centroid_verify" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val a = operators.VectorStats.centroidSums(e, "label", "embedding")
        .withColumnRenamed("qsum", "qsum_a").withColumnRenamed("n", "n_a")
      val positions = e
        .select(explode(sequence(lit(1), size(col("embedding")))).as("pos"))
        .distinct()
      val b = e.crossJoin(broadcast(positions))
        .select(col("label"), col("pos").cast("long").as("pos"),
          floor(element_at(col("embedding"), col("pos").cast("int"))
            .cast("double") * lit(1e6)).cast("long").as("__q"))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("__q")).as("qsum_b"), count(lit(1)).as("n_b"))
      a.join(b, Seq("label", "pos"), "full_outer")
        .filter(col("qsum_a").isNull || col("qsum_b").isNull ||
          col("qsum_a") =!= col("qsum_b") || col("n_a") =!= col("n_b"))
        .select(col("label").cast("int").as("label"), col("pos"),
          lit("centroid_path_mismatch").as("issue"))
        .orderBy(col("label"), col("pos"))
    }),


    // PCA end-to-end gate (driver-side Jacobi eigensolve + HOF projection
    // — the refactor-fragile half with specs but, until now, no harness
    // row). Violations-only, oracle = empty relation. Per vector, in-engine:
    //   (a) dual-path projection: pcaProject's shared-centering transform
    //       vs an independent per-component inline-centered recompute —
    //       the exact expression shape the CollapseProject re-eval trap
    //       produces, so the two paths also pin that guard's semantics;
    //   (b) Pythagoras: ||v-mean||² − Σ projᵢ² = ||v − v̂||² for the HOF
    //       reconstruction v̂ — ties projection, reconstruction, and
    //       component orthonormality together per row;
    // plus (c) the k×k component Gram matrix vs identity (driver-side
    // doubles, emitted as sentinel-id violation rows).
    "q_vec_pca_verify" -> ((s, dir) => {
      import s.implicits._
      val e = spread(t(s, dir, "embeddings"))
      val k = 8
      val (mean, _, comps) = operators.VectorStats.pcaComponents(e, "embedding", k)
      val d = mean.length
      val meanLit = typedlit(mean.toSeq)
      val compsLit = typedlit(comps.map(_.toSeq).toSeq)
      // ONE eigensolve shared by path A and the checks: a second
      // pcaComponents call would re-aggregate moments whose double sums
      // merge in nondeterministic partial order — ulp-different
      // components through the 1/eigengap-amplifying Jacobi solve could
      // trip the 1e-9 gate spuriously.
      val proj = operators.VectorStats.pcaProject(e, "embedding", "proj", mean, comps)
      val withB = comps.indices.foldLeft(proj)((df, i) =>
        df.withColumn(s"__b$i",
          aggregate(
            zip_with(
              zip_with(col("embedding"), meanLit, (x, m) => x.cast("double") - m),
              typedlit(comps(i).toSeq), (ctr, c) => ctr * c),
            lit(0.0), (acc, x) => acc + x)))
      val bArr = array(comps.indices.map(i => col(s"__b$i")): _*)
      val recon = transform(sequence(lit(0), lit(d - 1)), p =>
        element_at(meanLit, (p + 1).cast("int")) +
          aggregate(sequence(lit(0), lit(k - 1)), lit(0.0), (acc, i) =>
            acc + element_at(col("proj"), (i + 1).cast("int")) *
              element_at(element_at(compsLit, (i + 1).cast("int")),
                (p + 1).cast("int"))))
      def sq(x: org.apache.spark.sql.Column) = x * x
      // Materialization BARRIER between the vector-building stage (proj,
      // the 8 path-B folds, the k·d-literal reconstruction) and the
      // scalar checks: without it CollapseProject inlines each giant
      // expression tree into every downstream reference — the trees
      // multiply through err2 → pyth_delta → filter, codegen gives up,
      // and the interpreted query ran 127 s at sf0.1 (vs ~1 s staged).
      val scored = Materialize(withB.withColumn("__recon", recon))
        .withColumn("__err2",
          aggregate(zip_with(col("embedding"), col("__recon"),
            (x, y) => sq(x.cast("double") - y)), lit(0.0), (acc, x) => acc + x))
        .withColumn("__dm2",
          aggregate(zip_with(col("embedding"), meanLit,
            (x, m) => sq(x.cast("double") - m)), lit(0.0), (acc, x) => acc + x))
        .withColumn("__pn2",
          aggregate(col("proj"), lit(0.0), (acc, x) => acc + x * x))
        .withColumn("path_delta",
          aggregate(zip_with(col("proj"), bArr, (a, b) => abs(a - b)),
            lit(0.0), (acc, x) => greatest(acc, x)))
        .withColumn("pyth_delta",
          abs(col("__dm2") - col("__pn2") - col("__err2")))
      val vio = scored
        .filter(col("path_delta") > 1e-9 || col("pyth_delta") > 1e-6 ||
          size(col("proj")) =!= k)
        .select(col("vec_id").cast("long").as("vec_id"),
          when(col("path_delta") > 1e-9, lit("projection_path_mismatch"))
            .otherwise(lit("pythagoras_violation")).as("issue"),
          greatest(col("path_delta"), col("pyth_delta")).as("delta"))
      val orthoVio = (for { i <- 0 until k; j <- i until k } yield {
        val dot = (0 until d).map(p => comps(i)(p) * comps(j)(p)).sum
        val want = if (i == j) 1.0 else 0.0
        (i, j, math.abs(dot - want))
      }).filter(_._3 > 1e-9)
        .map { case (i, j, dev) =>
          (-1L - (i * k + j), "component_orthonormality", dev) }
      vio.unionByName(orthoVio.toDF("vec_id", "issue", "delta"))
        .orderBy(col("vec_id"))
    }),


    // PCA persistence gate: solve the basis ONCE, save to parquet, load
    // it back, and demand (a) the loaded mean/components are BITWISE
    // equal to the saved ones (driver-side doubles, sentinel rows on
    // mismatch) and (b) the projections under saved vs loaded basis are
    // exactly equal per vector — bit-identity is the contract because
    // load ∘ save must be the identity on doubles. Empty-relation oracle.
    "q_vec_pca_reload_verify" -> ((s, dir) => {
      import s.implicits._
      val path = Scratch.path(dir, "pca_model")
      val e = spread(t(s, dir, "embeddings"))
      val (mean, _, comps) = operators.VectorStats.pcaComponents(e, "embedding", 8)
      operators.VectorStats.savePcaBasis(s, mean, comps, path)
      val (mean2, comps2) = operators.VectorStats.loadPcaBasis(s, path)
      val basisVio =
        (if (java.util.Arrays.equals(mean, mean2)) Seq.empty[(Long, String)]
         else Seq((-1L, "mean_roundtrip_mismatch"))) ++
        comps.indices.collect {
          case i if !java.util.Arrays.equals(comps(i), comps2(i)) =>
            (-2L - i, "component_roundtrip_mismatch")
        }
      val a = operators.VectorStats
        .pcaProject(e, "embedding", "proj", mean, comps)
        .select(col("vec_id").cast("long").as("vec_id"), col("proj"))
      val b = operators.VectorStats
        .pcaProject(e, "embedding", "proj2", mean2, comps2)
        .select(col("vec_id").cast("long").as("vec_id"), col("proj2"))
      a.join(b, "vec_id")
        .filter(not(col("proj") <=> col("proj2")))
        .select(col("vec_id"), lit("projection_mismatch").as("issue"))
        .unionByName(basisVio.toDF("vec_id", "issue"))
        .orderBy(col("vec_id"))
    }),

  )

  /** Shared bitext-miner oracle — the streaming twin scores the same
    * frame per micro-batch and runs the same margin epilogue, so it
    * reuses this text verbatim. */
  private[registry] val bitextMineOracleSql: String =
    """WITH src AS (
        |  SELECT vec_id AS src_id,
        |    list_transform(list_zip(embedding, range(1, len(embedding) + 1)),
        |      x -> CASE WHEN CAST(x[2] AS BIGINT) - 1 = vec_id % len(embedding)
        |           THEN CAST(1.0 AS FLOAT) ELSE x[1] END) AS qv
        |  FROM embeddings WHERE vec_id % 17 = 0),
        |tgt AS (SELECT vec_id AS tgt_id, embedding AS cv FROM embeddings),
        |scored AS (
        |  SELECT src_id, tgt_id,
        |    CAST(ROUND((list_sum(list_transform(list_zip(qv, cv),
        |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(qv,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(cv,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))
        |      * 1000000) AS BIGINT) AS c_ppm
        |  FROM src, tgt
        |  WHERE list_sum(list_transform(qv,
        |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
        |    AND list_sum(list_transform(cv,
        |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
        |rs AS (
        |  SELECT src_id, tgt_id, c_ppm,
        |    ROW_NUMBER() OVER (PARTITION BY src_id
        |      ORDER BY c_ppm DESC, tgt_id) AS ra,
        |    ROW_NUMBER() OVER (PARTITION BY tgt_id
        |      ORDER BY c_ppm DESC, src_id) AS rb
        |  FROM scored),
        |nns AS (SELECT src_id, SUM(c_ppm) AS nn_src, COUNT(*) AS k_src
        |        FROM rs WHERE ra <= 4 GROUP BY src_id),
        |nnt AS (SELECT tgt_id, SUM(c_ppm) AS nn_tgt, COUNT(*) AS k_tgt
        |        FROM rs WHERE rb <= 4 GROUP BY tgt_id),
        |m AS (
        |  SELECT s.src_id, s.tgt_id, s.c_ppm,
        |    CASE WHEN s.c_ppm >= 0
        |           AND (a.nn_src * b.k_tgt + b.nn_tgt * a.k_src) > 0
        |      THEN (2000000 * s.c_ppm * a.k_src * b.k_tgt)
        |        // (a.nn_src * b.k_tgt + b.nn_tgt * a.k_src) END AS margin_ppm
        |  FROM scored s JOIN nns a USING (src_id) JOIN nnt b USING (tgt_id)),
        |best AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
        |    ORDER BY margin_ppm DESC NULLS LAST, tgt_id) AS pick FROM m)
        |SELECT src_id, tgt_id, c_ppm AS cos_ppm,
        |  CAST(margin_ppm AS BIGINT) AS margin_ppm,
        |  COALESCE(margin_ppm >= 1050000, FALSE) AS accepted
        |FROM best WHERE pick = 1 ORDER BY src_id""".stripMargin

  /** Exact-cosine top-10 of the 16 fixture queries — q_sim_topk's
    * oracle, shared verbatim by q_sim_topk_ivf_full (probing every list
    * is provably exact). */
  private val simTopkOracleSql: String =
    """SELECT query_id, rank, neighbor_id, cosine FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    ROUND(list_sum(list_transform(list_zip(q.embedding, c.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |         * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cosine,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |      list_sum(list_transform(list_zip(q.embedding, c.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |         * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC, c.vec_id) AS rank
      |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 16) t
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  def oracles: Map[String, String] = Map(

    // RRF: the full BM25 chain and the cosine rank chain replayed, fused
    // with BIGINT `//` contributions — integer micro-units, so the fused
    // scores hash-match exactly.
    "q_retrieval_rrf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '')) AS term
        |  FROM documents),
        |dls AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        |stats AS (SELECT (SELECT count(*) FROM documents) AS n, (SELECT count(*) FROM toks) AS sumdl),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks
        |  WHERE term IN ('join', 'stream', 'vector', 'dup')
        |  GROUP BY doc_id, term),
        |idf AS (
        |  SELECT term, ROUND(ln((CAST(s.n AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1), 6) AS idf
        |  FROM (SELECT term, count(*) AS df FROM tf GROUP BY term), stats s),
        |contrib AS (
        |  SELECT t.doc_id,
        |    CAST(ROUND(i.idf * (CAST(t.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1)) /
        |      (CAST(t.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
        |        (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(d.dl AS DOUBLE) / (CAST(s.sumdl AS DOUBLE) / s.n))), 6)
        |      AS DECIMAL(18,6)) AS c
        |  FROM tf t JOIN idf i USING (term) JOIN dls d USING (doc_id), stats s),
        |bm AS (
        |  SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS score
        |  FROM contrib GROUP BY doc_id
        |  ORDER BY score DESC, doc_id LIMIT 20),
        |lex AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank FROM bm),
        |den AS (
        |  SELECT doc_id, rank FROM (
        |    SELECT c.vec_id AS doc_id,
        |      ROW_NUMBER() OVER (ORDER BY
        |        list_sum(list_transform(list_zip(q.embedding, c.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |           * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC, c.vec_id) AS rank
        |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |    WHERE q.vec_id = 7) t
        |  WHERE rank <= 20),
        |fused AS (
        |  SELECT doc_id, 1000000 // (60 + rank) AS c FROM lex
        |  UNION ALL
        |  SELECT doc_id, 1000000 // (60 + rank) AS c FROM den)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS rrf, CAST(COUNT(*) AS BIGINT) AS lists
        |FROM fused GROUP BY doc_id
        |ORDER BY rrf DESC, doc_id""".stripMargin,

    "q_rag_chunks" -> textChunksOracleSql,

    "q_rag_pipeline" -> ragPipelineOracleSql,


    "q_mine_hard_negatives" ->
      """SELECT query_id, query_label, rank, neighbor_id, neighbor_label, cosine FROM (
        |  SELECT q.vec_id AS query_id, q.label AS query_label,
        |    c.vec_id AS neighbor_id, c.label AS neighbor_label,
        |    ROUND(list_sum(list_transform(list_zip(q.embedding, c.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cosine,
        |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_sum(list_transform(list_zip(q.embedding, c.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC, c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id <> c.vec_id AND q.label <> c.label
        |  WHERE q.vec_id < 16) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,


    // Full value-for-value replay of the margin miner: perturbed src
    // copies, 6dp-stable cosines micro-quantized to ppm, BOTH k-NN
    // rankings, the integer margin division, and the per-src best pick.
    "q_bitext_mine" -> bitextMineOracleSql,




    "q_bitext_ivf_verify" ->
      """SELECT CAST(NULL AS BIGINT) AS src_id, CAST(NULL AS VARCHAR) AS issue
        |WHERE FALSE""".stripMargin,


    "q_vec_pca_reload_verify" ->
      """SELECT CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS VARCHAR) AS issue
        |WHERE FALSE""".stripMargin,


    "q_sim_topk" -> simTopkOracleSql,


    // MMR oracle: the greedy replayed as a recursive CTE. Each query
    // carries its candidate id/rel lists and full pairwise sim matrix
    // (micro-quantized like the Spark side); each step picks
    // list_max over remaining positions of the struct (units, −id, …) —
    // lexicographic struct comparison IS the (objective, smaller-id)
    // tie-break — and appends the pick to the selected-positions list.
    // Integer units throughout: no float comparison can diverge.
    "q_sim_mmr" ->
      """WITH RECURSIVE cand AS (
        |  SELECT query_id, neighbor_id, rel_micro, emb FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      CAST(ROUND((list_sum(list_transform(list_zip(q.embedding, c.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |           * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))) * 1000000) AS BIGINT) AS rel_micro,
        |      c.embedding AS emb,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(q.embedding, c.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |           * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC, c.vec_id) AS rank
        |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |    WHERE q.vec_id < 16
        |      AND list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
        |      AND list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0) t
        |  WHERE rank <= 12),
        |packed AS (
        |  SELECT query_id, list(neighbor_id ORDER BY rel_micro DESC, neighbor_id) AS ids,
        |    list(rel_micro ORDER BY rel_micro DESC, neighbor_id) AS rels,
        |    list(emb ORDER BY rel_micro DESC, neighbor_id) AS vecs
        |  FROM cand GROUP BY query_id),
        |simmat AS (
        |  SELECT query_id, ids, rels,
        |    [[CAST(ROUND((list_sum(list_transform(list_zip(vecs[i], vecs[j]), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(vecs[i], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(vecs[j], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))) * 1000000) AS BIGINT)
        |      for j in range(1, len(ids) + 1)] for i in range(1, len(ids) + 1)] AS sims
        |  FROM packed),
        |sel AS (
        |  SELECT query_id, ids, rels, sims, 0 AS step,
        |    CAST([] AS BIGINT[]) AS selp,
        |    CAST([] AS STRUCT(st BIGINT, nid BIGINT, rel BIGINT, ms BIGINT, units BIGINT)[]) AS outp
        |  FROM simmat
        |  UNION ALL
        |  SELECT query_id, ids, rels, sims, step + 1,
        |    list_append(selp, best.p),
        |    list_append(outp, {'st': step + 1, 'nid': ids[best.p], 'rel': rels[best.p],
        |      'ms': best.ms, 'units': best.units})
        |  FROM (
        |    SELECT *, list_max(
        |      [{'units': 700000 * rels[p] - 300000 * coalesce(list_max([sims[p][s] for s in selp]), 0),
        |        'negid': -ids[p], 'p': p,
        |        'ms': coalesce(list_max([sims[p][s] for s in selp]), 0)}
        |       for p in range(1, len(ids) + 1) if NOT list_contains(selp, p)]) AS best
        |    FROM sel WHERE step < 5 AND len(selp) < len(ids)) s)
        |SELECT query_id, st AS step, nid AS neighbor_id, rel AS rel_micro,
        |  ms AS maxsim_micro, units AS mmr_units
        |FROM (SELECT query_id, unnest(outp, recursive := true) FROM sel WHERE step = 5)
        |ORDER BY query_id, step""".stripMargin,


    // nprobe = k probes all lists ⇒ provably identical to exact top-k, so
    // the exact-cosine oracle applies verbatim.
    "q_sim_topk_ivf_full" -> simTopkOracleSql,


    "q_sim_topk_lsh" -> lshTopkOracleSql,


    // Same fixed-order double arithmetic as VectorQuantize (float->double
    // casts are exact; left-assoc (v-lo)*127/(hi-lo)+0.5 in both engines).
    "q_vec_quantize" ->
      """WITH ex AS (SELECT vec_id, i - 1 AS dim,
        |              CAST(list_extract(embedding, i) AS DOUBLE) AS v
        |            FROM embeddings,
        |              LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) r),
        |cb AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM ex GROUP BY dim)
        |SELECT e.vec_id, e.dim,
        |  CASE WHEN cb.hi = cb.lo THEN 0
        |       ELSE CAST(FLOOR((e.v - cb.lo) * 127.0 / (cb.hi - cb.lo) + 0.5) AS BIGINT) END AS code
        |FROM ex e JOIN cb USING (dim)
        |WHERE e.vec_id < 160
        |ORDER BY e.vec_id, e.dim""".stripMargin,


    // floor(v·1e6) of the same IEEE double product is the same long in
    // every engine, and long sums are order-independent — so the centroid
    // sum is engine-reproducible bit-for-bit; range(1,65) is the fixture's
    // fixed dim=64 (the Spark side is dimension-agnostic via posexplode).
    // Integer-only surface: qsum + n determine the mean exactly, so the
    // raw-double mean column is excluded from the hashed projection. ALL
    // four columns are CAST to VARCHAR on both sides: DuckDB's SUM(BIGINT)
    // returns HUGEINT (int128) where Spark emits BIGINT, and a driver-side
    // canonicalizer may repr those differently even when the values are
    // bit-identical — strings leave nothing type-dependent to compare.
    // Lloyd k-means, 2 iterations unrolled: exact decimal distances (the
    // quantized inputs make (x-c)^2 sums exact in both engines), centroid
    // updates round sum/count at 6dp, empty clusters keep their centroid.
    "q_kmeans_lloyd" ->
      """WITH v AS (
        |  SELECT vec_id, p.pos,
        |    CAST(ROUND(CAST(embedding[p.pos] AS DOUBLE), 6) AS DECIMAL(9,6)) AS x
        |  FROM embeddings, (SELECT UNNEST(RANGE(1, 65)) AS pos) p),
        |seeds AS (
        |  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS cluster
        |  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4)),
        |c0 AS (SELECT s.cluster, v.pos, v.x AS c
        |       FROM seeds s JOIN v ON v.vec_id = s.vec_id),
        |a1 AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT vec_id, cluster,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
        |    FROM (SELECT v.vec_id, c.cluster, SUM((v.x - c.c) * (v.x - c.c)) AS d2
        |          FROM v JOIN c0 c ON v.pos = c.pos GROUP BY 1, 2) d) z
        |  WHERE rn = 1),
        |u1 AS (
        |  SELECT a.cluster, v.pos,
        |    CAST(ROUND(CAST(SUM(v.x) AS DOUBLE) / COUNT(*), 6) AS DECIMAL(9,6)) AS c
        |  FROM a1 a JOIN v ON v.vec_id = a.vec_id GROUP BY 1, 2),
        |c1 AS (SELECT c0.cluster, c0.pos, COALESCE(u1.c, c0.c) AS c
        |       FROM c0 LEFT JOIN u1 ON u1.cluster = c0.cluster AND u1.pos = c0.pos),
        |a2 AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT vec_id, cluster,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
        |    FROM (SELECT v.vec_id, c.cluster, SUM((v.x - c.c) * (v.x - c.c)) AS d2
        |          FROM v JOIN c1 c ON v.pos = c.pos GROUP BY 1, 2) d) z
        |  WHERE rn = 1),
        |u2 AS (
        |  SELECT a.cluster, v.pos,
        |    CAST(ROUND(CAST(SUM(v.x) AS DOUBLE) / COUNT(*), 6) AS DECIMAL(9,6)) AS c
        |  FROM a2 a JOIN v ON v.vec_id = a.vec_id GROUP BY 1, 2),
        |c2 AS (SELECT c1.cluster, c1.pos, COALESCE(u2.c, c1.c) AS c
        |       FROM c1 LEFT JOIN u2 ON u2.cluster = c1.cluster AND u2.pos = c1.pos),
        |a3 AS (
        |  SELECT vec_id, cluster, d2 FROM (
        |    SELECT vec_id, cluster, d2,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
        |    FROM (SELECT v.vec_id, c.cluster, SUM((v.x - c.c) * (v.x - c.c)) AS d2
        |          FROM v JOIN c2 c ON v.pos = c.pos GROUP BY 1, 2) d) z
        |  WHERE rn = 1)
        |SELECT vec_id, CAST(cluster AS INT) AS cluster,
        |  ROUND(CAST(d2 AS DOUBLE), 6) AS d2
        |FROM a3 ORDER BY vec_id""".stripMargin,


    "q_vec_centroid" ->
      """SELECT CAST(e.label AS VARCHAR) AS label, CAST(p.pos AS VARCHAR) AS pos,
        |  CAST(SUM(CAST(FLOOR(CAST(e.embedding[p.pos] AS DOUBLE) * 1000000) AS BIGINT)) AS VARCHAR) AS qsum,
        |  CAST(COUNT(*) AS VARCHAR) AS n
        |FROM embeddings e, (SELECT UNNEST(RANGE(1, 65)) AS pos) p
        |GROUP BY e.label, p.pos
        |ORDER BY e.label, p.pos""".stripMargin,


    "q_vec_centroid_verify" ->
      """SELECT CAST(NULL AS INTEGER) AS label, CAST(NULL AS BIGINT) AS pos,
        |  CAST(NULL AS VARCHAR) AS issue
        |WHERE FALSE""".stripMargin,


    "q_vec_pca_verify" ->
      """SELECT CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS VARCHAR) AS issue,
        |  CAST(NULL AS DOUBLE) AS delta
        |WHERE FALSE""".stripMargin,


    // Fixed-point norms are per-row HOF folds (BIGINT, no aggregate-type
    // widening); thresholds via the established quantile_cont identity.
    "q_vec_outliers" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    CAST(list_sum(list_transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS qnorm2
        |  FROM embeddings),
        |t AS (SELECT quantile_cont(qnorm2, [0.01, 0.99]) AS th FROM q)
        |SELECT vec_id, qnorm2,
        |  CAST(qnorm2 AS DOUBLE) < th[1] AS is_low,
        |  CAST(qnorm2 AS DOUBLE) > th[2] AS is_high
        |FROM q, t ORDER BY vec_id""".stripMargin,


    // Same fixed-point determinism argument as q_vec_centroid; i/j are
    // 0-based to match the Spark side's sequence(0, d-1).
    "q_vec_gram" ->
      """SELECT CAST(i.i AS VARCHAR) AS i, CAST(j.j AS VARCHAR) AS j,
        |  CAST(SUM(CAST(FLOOR(CAST(e.embedding[i.i + 1] AS DOUBLE) * CAST(e.embedding[j.j + 1] AS DOUBLE) * 1000000) AS BIGINT)) AS VARCHAR) AS qsum,
        |  CAST(COUNT(*) AS VARCHAR) AS n
        |FROM embeddings e, (SELECT UNNEST(RANGE(0, 64)) AS i) i, (SELECT UNNEST(RANGE(0, 64)) AS j) j
        |WHERE j.j >= i.i
        |GROUP BY i.i, j.j
        |ORDER BY i.i, j.j""".stripMargin,


    "q_sim_topk_pq_verify" ->
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS rank,
        |  CAST(NULL AS VARCHAR) AS issue
        |WHERE FALSE""".stripMargin,


    "q_sim_topk_ivf_verify" ->
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS rank,
        |  CAST(NULL AS VARCHAR) AS issue
        |WHERE FALSE""".stripMargin,


    "q_sim_topk_ivfpq_verify" ->
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS rank,
        |  CAST(NULL AS VARCHAR) AS issue
        |WHERE FALSE""".stripMargin,


    // (b) retrieval contract frames: 16 fixture queries × k = 10 served
    // results with every row-level contract check clean.
    "q_sim_topk_ivf" -> annContractOracleSql("contract_ok"),

    "q_sim_topk_pq" -> annContractOracleSql("contract_ok"),

    "q_sim_topk_ivfpq" -> annContractOracleSql("contract_ok"),

  )
}
