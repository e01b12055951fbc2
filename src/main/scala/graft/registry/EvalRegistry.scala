package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{EventTime, GraftFunctions}
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.StreamingIngest

/** Eval query/oracle registry — one slice of the driver contract
  * surface, split out of the former 15k-line SparkEntry monolith so a
  * duplicated query-name literal can never silently shadow a pair out
  * of the sweep again (the round-17 q_text_chunks incident).
  * Each query's lambda, fixtures and oracle text live here; a helper
  * that a streaming twin or another family also uses is
  * `private[registry]` in its batch query's registry. Composed — with
  * a cross-registry duplicate guard — in [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]]. */
private[graft] object EvalRegistry extends QueryRegistry {

  /** Shared retrieval-eval fixture: the %25==7 vectors query the rest of
    * the embeddings via exact cosine top-10; graded relevance is label
    * proximity (3 − |Δlabel|, clamped at 0). Feeds both the nDCG and the
    * binary rank-metric queries so the two metric families provably
    * score the SAME ranking. */
  private def retrievalEvalRanked(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val isQ = pmod(col("vec_id"), lit(25)) === 7
    val qLab = emb.filter(isQ).select(col("vec_id").as("query"),
      col("label").cast("long").as("__ql"))
    val cLab = emb.filter(!isQ).select(col("vec_id").as("neighbor_id"),
      col("label").cast("long").as("__cl"))
    Similarity.cosineTopK(emb.filter(isQ), emb.filter(!isQ), k = 10)
      .select(col("query_id").as("query"), col("rank"), col("neighbor_id"))
      .join(broadcast(qLab), "query").join(broadcast(cLab), "neighbor_id")
      .withColumn("rel",
        greatest(lit(0L), lit(3L) - abs(col("__ql") - col("__cl"))))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Classifier evaluation, pure integer arithmetic end to end: per-group
    // tie-aware Mann–Whitney AUC over the (group, score)-GROUPED frame —
    // the window walks distinct scores, not rows, so quantized scores keep
    // the frame domain-bounded at any row scale. u2 = 2·U stays integer
    // under average-rank ties; auc_ppm via integer division. Hash-oracled.
    "q_eval_auc" -> ((s, dir) =>
      operators.Eval.aucByGroup(t(s, dir, "lineitem"), "l_linestatus",
        col("l_quantity"), col("l_returnflag") === "R")
        .orderBy(col("grp"))),


    // Calibration (reliability) table: fixed-width integer score bins per
    // group — row count, positive count, exact score sum; mean predicted
    // vs observed rate derivable without a single float. One combining
    // shuffle on (group, bin). Hash-oracled.
    "q_eval_calibration" -> ((s, dir) =>
      operators.Eval.calibrationBins(t(s, dir, "documents"), "source",
        col("n_chars"), col("lang") === "en", nBins = 6, lo = 0L, hi = 600L)
        .orderBy(col("grp"), col("bin"))),


    // Retrieval-quality eval: per-query nDCG@10 over the dense cosine
    // top-10, graded relevance = label proximity (3 − |Δlabel| clamped at
    // 0). Discounts are the FROZEN ppm literals shared verbatim with the
    // oracle, so the whole metric is integer-exact; the ideal-rank window
    // spans ≤k rows per query. The brute-force ranking is the sf-scale
    // baseline — the IVF/PQ paths serve the same frame at 100 TB.
    "q_eval_ndcg" -> ((s, dir) =>
      operators.Eval.ndcgAtK(retrievalEvalRanked(s, dir), "query", "rank",
          "rel", k = 10)
        .orderBy(col("query"))),


    // The binary rank-metric family (reciprocal rank, precision@10,
    // recall@10) over the SAME graded ranking; the corpus-side relevant
    // totals come from a 10-row label histogram theta-joined per query —
    // a deliberately bounded broadcast, never a corpus re-scan per query.
    "q_eval_rankmetrics" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val isQ = pmod(col("vec_id"), lit(25)) === 7
      val hist = emb.filter(!isQ)
        .groupBy(col("label").cast("long").as("__cl"))
        .agg(count(lit(1)).as("__n"))
      val totalRel = emb.filter(isQ)
        .select(col("vec_id").as("query"), col("label").cast("long").as("__ql"))
        .join(broadcast(hist), abs(col("__ql") - col("__cl")) <= 2)
        .groupBy(col("query")).agg(sum(col("__n")).as("n_rel"))
      operators.Eval.rankMetricsAtK(retrievalEvalRanked(s, dir), "query",
          "rank", "rel", k = 10, totalRel)
        .orderBy(col("query"))
    }),


    // Generation eval, BLEU: candidate = tokens 2..14 of each ≥14-token
    // document, reference = tokens 1..12 — a sliding-window pair with
    // genuine partial n-gram overlap (and full clipping on repeated
    // words). Clipped/total counts per n are pure integers from the
    // per-row expression; bleu_milli is the EXACT integer 4th root of
    // the geometric mean (both engines compute ⌊(10¹²·A/B)^¼⌋, the
    // oracle via float-seeded integer-corrected isqrt). Candidate is
    // strictly longer than reference, so the transcendental brevity
    // penalty is pinned to 1 by construction — lengths are emitted so
    // any BP convention can be applied downstream.
    "q_eval_bleu" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(size(split(col("text"), " ")) >= 14)
      val pairs = docs.select(col("doc_id"),
        slice(split(col("text"), " "), 2, 13).as("cand"),
        slice(split(col("text"), " "), 1, 12).as("ref"))
      operators.Eval.bleuUpTo4(pairs, "doc_id", "cand", "ref")
        .orderBy(col("doc_id"))
    }),


    // Generation eval, chrF (β=2) over the same pairs as STRINGS:
    // character n-grams (n=1..6, whitespace-stripped — sacrebleu's
    // default), clipped multiset matches, per-n P/R ppm-floored first
    // then integer-averaged over the included n, one more floor division
    // for F. Completes the generation trio (precision-oriented BLEU,
    // recall-oriented ROUGE, tokenization-robust chrF) on one fixture.
    "q_eval_chrf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(size(split(col("text"), " ")) >= 14)
      val pairs = docs.select(col("doc_id"),
        array_join(slice(split(col("text"), " "), 2, 13), " ").as("cand"),
        array_join(slice(split(col("text"), " "), 1, 12), " ").as("ref"))
      operators.Eval.chrF(pairs, "doc_id", "cand", "ref")
        .orderBy(col("doc_id"))
    }),


    // Generation eval, ROUGE-L over the same pairs: LCS by per-row
    // rolling DP; P/R/F are exactly rational (F₁ = 2L/(c+r)) so the
    // whole metric is three floor divisions to ppm — no frozen tables
    // needed. The oracle recomputes the LCS with a recursive-CTE DP
    // (row-carrying prefix-max form).
    "q_eval_rouge" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(size(split(col("text"), " ")) >= 14)
      val pairs = docs.select(col("doc_id"),
        slice(split(col("text"), " "), 2, 13).as("cand"),
        slice(split(col("text"), " "), 1, 12).as("ref"))
      operators.Eval.rougeL(pairs, "doc_id", "cand", "ref")
        .orderBy(col("doc_id"))
    }),


    // Generation eval, WER over the same pairs: unit-cost token
    // Levenshtein by per-row rolling DP (zero shuffle); exactly rational
    // ⇒ one ppm floor. The oracle replays the DP as a recursive CTE in
    // prefix-MIN form — the in-row dependency dp[i][j-1]+1 unrolls to
    // dp[i][j] = j + min over k ≤ j of (t[k] − k), one parallel list
    // comprehension plus a sliced list_min per step (the dual of the
    // ROUGE-L oracle's prefix-max).
    "q_eval_wer" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(size(split(col("text"), " ")) >= 14)
      val pairs = docs.select(col("doc_id"),
        slice(split(col("text"), " "), 2, 13).as("cand"),
        slice(split(col("text"), " "), 1, 12).as("ref"))
      operators.Eval.wer(pairs, "doc_id", "cand", "ref")
        .orderBy(col("doc_id"))
    }),


    // Generation eval, ROUGE-1/ROUGE-2 recall over the same pairs: the
    // n-gram-recall half of the summarization pair, from the BLEU
    // clipped-count statistics over reference n-gram totals.
    "q_eval_rouge_n" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(size(split(col("text"), " ")) >= 14)
      val pairs = docs.select(col("doc_id"),
        slice(split(col("text"), " "), 2, 13).as("cand"),
        slice(split(col("text"), " "), 1, 12).as("ref"))
      operators.Eval.rougeN(pairs, "doc_id", "cand", "ref")
        .orderBy(col("doc_id"))
    }),


    // Generation eval, token-level F1 (the SQuAD/QA overlap metric) over
    // the same pairs: clipped unigram matches (the BLEU a1 statistic,
    // same codegen expression), exactly-rational P/R/F to ppm.
    "q_eval_token_f1" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(size(split(col("text"), " ")) >= 14)
      val pairs = docs.select(col("doc_id"),
        slice(split(col("text"), " "), 2, 13).as("cand"),
        slice(split(col("text"), " "), 1, 12).as("ref"))
      operators.Eval.tokenF1(pairs, "doc_id", "cand", "ref")
        .orderBy(col("doc_id"))
    }),


    // Generation eval, CER over the same pairs as STRINGS: both engines'
    // builtin char-level levenshtein (Spark codegen'd, DuckDB native) —
    // the tokenization-free twin, one ppm floor.
    "q_eval_cer" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(size(split(col("text"), " ")) >= 14)
      val pairs = docs.select(col("doc_id"),
        array_join(slice(split(col("text"), " "), 2, 13), " ").as("cand"),
        array_join(slice(split(col("text"), " "), 1, 12), " ").as("ref"))
      operators.Eval.cer(pairs, "doc_id", "cand", "ref")
        .orderBy(col("doc_id"))
    }),


    // Average precision @ 10 over the SAME ranking, with the same
    // corpus-side relevant totals as q_eval_rankmetrics; the per-hit
    // precision terms are ppm-floored FIRST (the documented fixed-point
    // contract), so MAP is integer-exact cross-engine.
    "q_eval_map" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val isQ = pmod(col("vec_id"), lit(25)) === 7
      val hist = emb.filter(!isQ)
        .groupBy(col("label").cast("long").as("__cl"))
        .agg(count(lit(1)).as("__n"))
      val totalRel = emb.filter(isQ)
        .select(col("vec_id").as("query"), col("label").cast("long").as("__ql"))
        .join(broadcast(hist), abs(col("__ql") - col("__cl")) <= 2)
        .groupBy(col("query")).agg(sum(col("__n")).as("n_rel"))
      operators.Eval.apAtK(retrievalEvalRanked(s, dir), "query", "rank",
          "rel", k = 10, totalRel)
        .orderBy(col("query"))
    }),

  )

  def oracles: Map[String, String] = Map(

    // Tie-aware Mann–Whitney AUC replayed in SQL: same grouped-counts +
    // windowed-cumulative derivation; CAST every aggregate to BIGINT
    // (DuckDB SUM promotes to HUGEINT) and CASE-guard the single-class
    // division exactly like the engine's when().
    "q_eval_auc" ->
      """WITH base AS (
        |  SELECT CAST(l_linestatus AS VARCHAR) AS grp,
        |    CAST(l_quantity AS BIGINT) AS s,
        |    (l_returnflag = 'R') AS l
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL),
        |g AS (
        |  SELECT grp, s,
        |    CAST(SUM(CASE WHEN l THEN 1 ELSE 0 END) AS BIGINT) AS p,
        |    COUNT(*) AS c
        |  FROM base GROUP BY grp, s),
        |r AS (
        |  SELECT grp, p, c,
        |    CAST(COALESCE(SUM(c) OVER (PARTITION BY grp ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum
        |  FROM g),
        |t AS (
        |  SELECT grp, CAST(SUM(p) AS BIGINT) AS n_pos,
        |    CAST(SUM(c) - SUM(p) AS BIGINT) AS n_neg,
        |    CAST(SUM(p * (2 * cum + c + 1)) AS BIGINT) AS r2
        |  FROM r GROUP BY grp)
        |SELECT grp, n_pos, n_neg,
        |  CAST(r2 - n_pos * (n_pos + 1) AS BIGINT) AS u2,
        |  CASE WHEN n_pos > 0 AND n_neg > 0
        |    THEN CAST((1000000 * (r2 - n_pos * (n_pos + 1)))
        |      // (2 * n_pos * n_neg) AS BIGINT)
        |    ELSE NULL END AS auc_ppm
        |FROM t ORDER BY grp""".stripMargin,


    // Flooring `//` vs the engine's truncating `div` agree here because
    // the greatest(0) clamp absorbs the one divergent region (negative
    // quotients, score < lo).
    "q_eval_calibration" ->
      """SELECT CAST(source AS VARCHAR) AS grp,
        |  LEAST(GREATEST((CAST(n_chars AS BIGINT) * 6) // 600, 0), 5) AS bin,
        |  COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS score_sum
        |FROM documents
        |WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


    // nDCG@10 replay: the q_sim_topk ranking idiom over the %25==7 query
    // split, label-proximity relevance, and the SAME frozen ppm discount
    // literals as Eval.NdcgDiscountPpm — every figure integer-exact.
    "q_eval_ndcg" ->
      """WITH ranked AS (
        |  SELECT query, rank, rel FROM (
        |    SELECT q.vec_id AS query, c.vec_id AS neighbor_id,
        |      GREATEST(0, 3 - ABS(CAST(q.label AS BIGINT) - CAST(c.label AS BIGINT))) AS rel,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(q.embedding, c.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |           * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC, c.vec_id) AS rank
        |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |    WHERE q.vec_id % 25 = 7 AND c.vec_id % 25 <> 7) t
        |  WHERE rank <= 10),
        |disc(r, d) AS (VALUES (1, 1000000), (2, 630930), (3, 500000),
        |  (4, 430677), (5, 386853), (6, 356207), (7, 333333), (8, 315465),
        |  (9, 301030), (10, 289065)),
        |ideal AS (
        |  SELECT query, rank, rel,
        |    ROW_NUMBER() OVER (PARTITION BY query ORDER BY rel DESC, rank ASC) AS irank
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
        |    ELSE NULL END AS ndcg_ppm
        |FROM agg ORDER BY query""".stripMargin,


    // AP replay: the same ranking + relevant totals; per-hit terms
    // ppm-floored before the sum, then div by n_rel — the documented
    // fixed-point contract.
    "q_eval_map" ->
      """WITH ranked AS (
        |  SELECT query, rank, rel FROM (
        |    SELECT q.vec_id AS query, c.vec_id AS neighbor_id,
        |      GREATEST(0, 3 - ABS(CAST(q.label AS BIGINT) - CAST(c.label AS BIGINT))) AS rel,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(q.embedding, c.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |           * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC, c.vec_id) AS rank
        |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |    WHERE q.vec_id % 25 = 7 AND c.vec_id % 25 <> 7) t
        |  WHERE rank <= 10),
        |rel_tot AS (
        |  SELECT q.vec_id AS query, COUNT(*) AS n_rel
        |  FROM embeddings q JOIN embeddings c
        |    ON c.vec_id % 25 <> 7
        |    AND ABS(CAST(q.label AS BIGINT) - CAST(c.label AS BIGINT)) <= 2
        |  WHERE q.vec_id % 25 = 7 GROUP BY 1),
        |terms AS (
        |  SELECT query, rank, (rel > 0) AS hit,
        |    CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY query ORDER BY rank
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM ranked),
        |m AS (
        |  SELECT query,
        |    CAST(SUM(CASE WHEN hit THEN (1000000 * cum) // rank ELSE 0 END) AS BIGINT) AS tsum,
        |    CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS hits
        |  FROM terms GROUP BY query)
        |SELECT m.query, m.hits,
        |  CAST(COALESCE(r.n_rel, 0) AS BIGINT) AS n_rel,
        |  CASE WHEN COALESCE(r.n_rel, 0) > 0
        |    THEN CAST(tsum // r.n_rel AS BIGINT) ELSE NULL END AS ap_ppm
        |FROM m LEFT JOIN rel_tot r USING (query)
        |ORDER BY m.query""".stripMargin,


    // BLEU oracle: n-gram clip via unnest/count/left-join per n; the
    // exact integer 4th root is a float-seeded isqrt CORRECTED in
    // integer arithmetic (list_max over s±4 candidates with s*s <= N —
    // N reaches 1.7e16, past double's exact-integer range, so the seed
    // alone could be off by a few).
    "q_eval_bleu" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 14),
        |seqs AS (SELECT doc_id, w[2:14] AS c, w[1:12] AS r FROM base),
        |grams AS (
        |  SELECT doc_id, n,
        |    [array_to_string(c[i:i+n-1], ' ') for i in range(1, len(c)-n+2)] AS cg,
        |    [array_to_string(r[i:i+n-1], ' ') for i in range(1, len(r)-n+2)] AS rg
        |  FROM seqs, (SELECT unnest([1, 2, 3, 4]) AS n)),
        |cc AS (SELECT doc_id, n, g, count(*) AS c_cnt
        |  FROM (SELECT doc_id, n, unnest(cg) AS g FROM grams) GROUP BY doc_id, n, g),
        |rc AS (SELECT doc_id, n, g, count(*) AS r_cnt
        |  FROM (SELECT doc_id, n, unnest(rg) AS g FROM grams) GROUP BY doc_id, n, g),
        |ab AS (
        |  SELECT cc.doc_id, cc.n,
        |    CAST(sum(least(cc.c_cnt, coalesce(rc.r_cnt, 0))) AS BIGINT) AS a
        |  FROM cc LEFT JOIN rc
        |    ON cc.doc_id = rc.doc_id AND cc.n = rc.n AND cc.g = rc.g
        |  GROUP BY cc.doc_id, cc.n),
        |piv AS (
        |  SELECT g.doc_id,
        |    CAST(max(CASE WHEN g.n = 1 THEN coalesce(ab.a, 0) END) AS BIGINT) AS a1,
        |    CAST(max(CASE WHEN g.n = 2 THEN coalesce(ab.a, 0) END) AS BIGINT) AS a2,
        |    CAST(max(CASE WHEN g.n = 3 THEN coalesce(ab.a, 0) END) AS BIGINT) AS a3,
        |    CAST(max(CASE WHEN g.n = 4 THEN coalesce(ab.a, 0) END) AS BIGINT) AS a4,
        |    CAST(max(CASE WHEN g.n = 1 THEN len(g.cg) END) AS BIGINT) AS b1,
        |    CAST(max(CASE WHEN g.n = 2 THEN len(g.cg) END) AS BIGINT) AS b2,
        |    CAST(max(CASE WHEN g.n = 3 THEN len(g.cg) END) AS BIGINT) AS b3,
        |    CAST(max(CASE WHEN g.n = 4 THEN len(g.cg) END) AS BIGINT) AS b4
        |  FROM grams g LEFT JOIN ab ON g.doc_id = ab.doc_id AND g.n = ab.n
        |  GROUP BY g.doc_id),
        |scored AS (
        |  SELECT p.doc_id, CAST(len(s.c) AS BIGINT) AS len_c,
        |    CAST(len(s.r) AS BIGINT) AS len_r,
        |    a1, b1, CAST((1000000 * a1) // b1 AS BIGINT) AS p1_ppm,
        |    a2, b2, CAST((1000000 * a2) // b2 AS BIGINT) AS p2_ppm,
        |    a3, b3, CAST((1000000 * a3) // b3 AS BIGINT) AS p3_ppm,
        |    a4, b4, CAST((1000000 * a4) // b4 AS BIGINT) AS p4_ppm,
        |    (a1*a2*a3*a4 * 1000000000000) // (b1*b2*b3*b4) AS nn
        |  FROM piv p JOIN seqs s ON p.doc_id = s.doc_id),
        |rooted AS (
        |  SELECT *, list_max([s for s in
        |      [CAST(floor(sqrt(CAST(nn AS DOUBLE))) AS BIGINT) + d for d in range(-4, 5)]
        |      if s >= 0 AND s*s <= nn]) AS s1
        |  FROM scored),
        |rooted2 AS (
        |  SELECT *, list_max([t for t in
        |      [CAST(floor(sqrt(CAST(s1 AS DOUBLE))) AS BIGINT) + d for d in range(-2, 3)]
        |      if t >= 0 AND t*t <= s1]) AS root4
        |  FROM rooted)
        |SELECT doc_id, len_c, len_r, a1, b1, p1_ppm, a2, b2, p2_ppm,
        |  a3, b3, p3_ppm, a4, b4, p4_ppm,
        |  CAST(CASE WHEN a1 = 0 OR a2 = 0 OR a3 = 0 OR a4 = 0 THEN 0
        |    ELSE root4 END AS BIGINT) AS bleu_milli
        |FROM rooted2 ORDER BY doc_id""".stripMargin,


    // chrF oracle: char n-gram clip via unnest/count/join per n over the
    // space-stripped pair strings; the fixed-point ladder (per-n ppm
    // floors -> integer mean over included n -> one F floor division)
    // replayed verbatim.
    "q_eval_chrf" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 14),
        |seqs AS (
        |  SELECT doc_id,
        |    replace(array_to_string(w[2:14], ' '), ' ', '') AS cs,
        |    replace(array_to_string(w[1:12], ' '), ' ', '') AS rs
        |  FROM base),
        |grams AS (
        |  SELECT doc_id, n,
        |    [substr(cs, i, n) for i in range(1, greatest(len(cs)-n+2, 1))] AS cg,
        |    [substr(rs, i, n) for i in range(1, greatest(len(rs)-n+2, 1))] AS rg
        |  FROM seqs, (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n)),
        |cc AS (SELECT doc_id, n, g, count(*) AS c_cnt
        |  FROM (SELECT doc_id, n, unnest(cg) AS g FROM grams) GROUP BY doc_id, n, g),
        |rc AS (SELECT doc_id, n, g, count(*) AS r_cnt
        |  FROM (SELECT doc_id, n, unnest(rg) AS g FROM grams) GROUP BY doc_id, n, g),
        |mm AS (
        |  SELECT cc.doc_id, cc.n,
        |    CAST(sum(least(cc.c_cnt, coalesce(rc.r_cnt, 0))) AS BIGINT) AS m
        |  FROM cc LEFT JOIN rc
        |    ON cc.doc_id = rc.doc_id AND cc.n = rc.n AND cc.g = rc.g
        |  GROUP BY cc.doc_id, cc.n),
        |tot AS (
        |  SELECT g.doc_id, g.n, CAST(len(g.cg) AS BIGINT) AS c,
        |    CAST(len(g.rg) AS BIGINT) AS r, CAST(coalesce(mm.m, 0) AS BIGINT) AS m
        |  FROM grams g LEFT JOIN mm ON g.doc_id = mm.doc_id AND g.n = mm.n),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN c > 0 AND r > 0 THEN (1000000 * m) // c END) AS BIGINT) AS psum,
        |    CAST(sum(CASE WHEN c > 0 AND r > 0 THEN (1000000 * m) // r END) AS BIGINT) AS rsum,
        |    CAST(count(CASE WHEN c > 0 AND r > 0 THEN 1 END) AS BIGINT) AS inc,
        |    CAST(max(CASE WHEN n = 1 THEN m END) AS BIGINT) AS m1,
        |    CAST(max(CASE WHEN n = 1 THEN c END) AS BIGINT) AS c1,
        |    CAST(max(CASE WHEN n = 1 THEN r END) AS BIGINT) AS r1,
        |    CAST(max(CASE WHEN n = 2 THEN m END) AS BIGINT) AS m2,
        |    CAST(max(CASE WHEN n = 2 THEN c END) AS BIGINT) AS c2,
        |    CAST(max(CASE WHEN n = 2 THEN r END) AS BIGINT) AS r2,
        |    CAST(max(CASE WHEN n = 3 THEN m END) AS BIGINT) AS m3,
        |    CAST(max(CASE WHEN n = 3 THEN c END) AS BIGINT) AS c3,
        |    CAST(max(CASE WHEN n = 3 THEN r END) AS BIGINT) AS r3,
        |    CAST(max(CASE WHEN n = 4 THEN m END) AS BIGINT) AS m4,
        |    CAST(max(CASE WHEN n = 4 THEN c END) AS BIGINT) AS c4,
        |    CAST(max(CASE WHEN n = 4 THEN r END) AS BIGINT) AS r4,
        |    CAST(max(CASE WHEN n = 5 THEN m END) AS BIGINT) AS m5,
        |    CAST(max(CASE WHEN n = 5 THEN c END) AS BIGINT) AS c5,
        |    CAST(max(CASE WHEN n = 5 THEN r END) AS BIGINT) AS r5,
        |    CAST(max(CASE WHEN n = 6 THEN m END) AS BIGINT) AS m6,
        |    CAST(max(CASE WHEN n = 6 THEN c END) AS BIGINT) AS c6,
        |    CAST(max(CASE WHEN n = 6 THEN r END) AS BIGINT) AS r6
        |  FROM tot GROUP BY doc_id)
        |SELECT doc_id, m1, c1, r1, m2, c2, r2, m3, c3, r3, m4, c4, r4,
        |  m5, c5, r5, m6, c6, r6,
        |  CASE WHEN inc = 0 THEN NULL
        |       WHEN (psum // inc) + (rsum // inc) = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST((5 * (psum // inc) * (rsum // inc))
        |         // (4 * (psum // inc) + (rsum // inc)) AS BIGINT) END AS chrf_ppm
        |FROM agg ORDER BY doc_id""".stripMargin,


    // ROUGE-L oracle: LCS via recursive-CTE DP carrying one row per
    // step in prefix-max form — dp[i][j] = max(t[j], dp[i][j-1]) where
    // t[j] = eq ? diag+1 : up, so each step is one parallel list
    // comprehension plus a prefix max (list_max over the 1..j slice).
    "q_eval_rouge" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 14),
        |seqs AS (SELECT doc_id, w[2:14] AS c, w[1:12] AS r FROM base),
        |dp AS (
        |  SELECT doc_id, 0 AS i,
        |    [CAST(0 AS BIGINT) for x in range(0, len(r) + 1)] AS row
        |  FROM seqs
        |  UNION ALL
        |  SELECT doc_id, i + 1,
        |    list_prepend(CAST(0 AS BIGINT),
        |      [list_max(t[1:j]) for j in range(1, m + 1)]) AS row
        |  FROM (
        |    SELECT d.doc_id, d.i AS i, len(s.r) AS m,
        |      [CASE WHEN s.c[d.i + 1] = s.r[j] THEN d.row[j] + 1
        |        ELSE d.row[j + 1] END for j in range(1, len(s.r) + 1)] AS t
        |    FROM dp d JOIN seqs s USING (doc_id)
        |    WHERE d.i < len(s.c)) sub),
        |fin AS (
        |  SELECT s.doc_id, CAST(len(s.c) AS BIGINT) AS len_c,
        |    CAST(len(s.r) AS BIGINT) AS len_r, d.row[len(s.r) + 1] AS lcs
        |  FROM dp d JOIN seqs s USING (doc_id)
        |  WHERE d.i = len(s.c))
        |SELECT doc_id, len_c, len_r, lcs,
        |  CAST((1000000 * lcs) // len_c AS BIGINT) AS rouge_p_ppm,
        |  CAST((1000000 * lcs) // len_r AS BIGINT) AS rouge_r_ppm,
        |  CAST((2000000 * lcs) // (len_c + len_r) AS BIGINT) AS rouge_f_ppm
        |FROM fin ORDER BY doc_id""".stripMargin,


    // WER oracle: Levenshtein via recursive-CTE DP in prefix-MIN form.
    // Per step, t2[k+1] = min(up+1, diag+cost) with t2[1] = i (the new
    // row's j=0 cell); the in-row insertion dependency unrolls to
    // dp[i][j] = j + min over k ≤ j of (t2[k+1] − k), computed as a
    // sliced list_min over u[x] = t2[x] − (x−1).
    "q_eval_wer" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 14),
        |seqs AS (SELECT doc_id, w[2:14] AS c, w[1:12] AS r FROM base),
        |dp AS (
        |  SELECT doc_id, 0 AS i,
        |    [CAST(x AS BIGINT) for x in range(0, len(r) + 1)] AS row
        |  FROM seqs
        |  UNION ALL
        |  SELECT doc_id, i + 1,
        |    [CAST(list_min(u[1:p]) + (p - 1) AS BIGINT) for p in range(1, m + 2)] AS row
        |  FROM (
        |    SELECT doc_id, i, m, [t2[x] - (x - 1) for x in range(1, m + 2)] AS u
        |    FROM (
        |      SELECT d.doc_id, d.i AS i, len(s.r) AS m,
        |        list_prepend(CAST(d.i + 1 AS BIGINT),
        |          [least(d.row[k + 1] + 1,
        |                 d.row[k] + CASE WHEN s.c[d.i + 1] = s.r[k] THEN 0 ELSE 1 END)
        |           for k in range(1, len(s.r) + 1)]) AS t2
        |      FROM dp d JOIN seqs s USING (doc_id)
        |      WHERE d.i < len(s.c)) stepped) sliced),
        |fin AS (
        |  SELECT s.doc_id, CAST(len(s.c) AS BIGINT) AS len_c,
        |    CAST(len(s.r) AS BIGINT) AS len_r, d.row[len(s.r) + 1] AS edit_dist
        |  FROM dp d JOIN seqs s USING (doc_id)
        |  WHERE d.i = len(s.c))
        |SELECT doc_id, len_c, len_r, edit_dist,
        |  CAST((1000000 * edit_dist) // len_r AS BIGINT) AS wer_ppm
        |FROM fin ORDER BY doc_id""".stripMargin,


    // ROUGE-N oracle: per-n clipped matches via the BLEU oracle's n-gram
    // clip machinery for n in (1, 2), recalls over reference totals.
    "q_eval_rouge_n" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 14),
        |seqs AS (SELECT doc_id, w[2:14] AS c, w[1:12] AS r FROM base),
        |grams AS (
        |  SELECT doc_id, n,
        |    [array_to_string(c[i:i+n-1], ' ') for i in range(1, len(c)-n+2)] AS cg,
        |    [array_to_string(r[i:i+n-1], ' ') for i in range(1, len(r)-n+2)] AS rg
        |  FROM seqs, (SELECT unnest([1, 2]) AS n)),
        |cc AS (SELECT doc_id, n, g, count(*) AS c_cnt
        |  FROM (SELECT doc_id, n, unnest(cg) AS g FROM grams) GROUP BY doc_id, n, g),
        |rc AS (SELECT doc_id, n, g, count(*) AS r_cnt
        |  FROM (SELECT doc_id, n, unnest(rg) AS g FROM grams) GROUP BY doc_id, n, g),
        |ab AS (
        |  SELECT cc.doc_id, cc.n,
        |    CAST(sum(least(cc.c_cnt, coalesce(rc.r_cnt, 0))) AS BIGINT) AS a
        |  FROM cc LEFT JOIN rc ON cc.doc_id = rc.doc_id AND cc.n = rc.n AND cc.g = rc.g
        |  GROUP BY cc.doc_id, cc.n),
        |piv AS (
        |  SELECT g.doc_id,
        |    CAST(max(CASE WHEN g.n = 1 THEN coalesce(ab.a, 0) END) AS BIGINT) AS a1,
        |    CAST(max(CASE WHEN g.n = 2 THEN coalesce(ab.a, 0) END) AS BIGINT) AS a2,
        |    CAST(max(CASE WHEN g.n = 1 THEN len(g.rg) END) AS BIGINT) AS t1,
        |    CAST(max(CASE WHEN g.n = 2 THEN len(g.rg) END) AS BIGINT) AS t2
        |  FROM grams g LEFT JOIN ab ON g.doc_id = ab.doc_id AND g.n = ab.n
        |  GROUP BY g.doc_id)
        |SELECT doc_id, a1, t1,
        |  CAST((1000000 * a1) // t1 AS BIGINT) AS rouge1_r_ppm,
        |  a2, t2, CAST((1000000 * a2) // t2 AS BIGINT) AS rouge2_r_ppm
        |FROM piv ORDER BY doc_id""".stripMargin,


    // Token-F1 oracle: clipped unigram overlap via the BLEU oracle's
    // n = 1 machinery, then the three exactly-rational ppm floors.
    "q_eval_token_f1" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 14),
        |seqs AS (SELECT doc_id, w[2:14] AS c, w[1:12] AS r FROM base),
        |cc AS (SELECT doc_id, g, count(*) AS c_cnt
        |  FROM (SELECT doc_id, unnest(c) AS g FROM seqs) GROUP BY doc_id, g),
        |rc AS (SELECT doc_id, g, count(*) AS r_cnt
        |  FROM (SELECT doc_id, unnest(r) AS g FROM seqs) GROUP BY doc_id, g),
        |ov AS (
        |  SELECT cc.doc_id,
        |    CAST(sum(least(cc.c_cnt, coalesce(rc.r_cnt, 0))) AS BIGINT) AS o
        |  FROM cc LEFT JOIN rc ON cc.doc_id = rc.doc_id AND cc.g = rc.g
        |  GROUP BY cc.doc_id)
        |SELECT s.doc_id, CAST(len(s.c) AS BIGINT) AS len_c,
        |  CAST(len(s.r) AS BIGINT) AS len_r,
        |  coalesce(ov.o, 0) AS overlap,
        |  CAST((1000000 * coalesce(ov.o, 0)) // len(s.c) AS BIGINT) AS f1_p_ppm,
        |  CAST((1000000 * coalesce(ov.o, 0)) // len(s.r) AS BIGINT) AS f1_r_ppm,
        |  CAST((2000000 * coalesce(ov.o, 0)) // (len(s.c) + len(s.r)) AS BIGINT) AS f1_ppm
        |FROM seqs s LEFT JOIN ov ON s.doc_id = ov.doc_id
        |ORDER BY s.doc_id""".stripMargin,


    // CER oracle: DuckDB's native char-level levenshtein — both engines
    // run their builtin DP, the cross-check is exact.
    "q_eval_cer" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 14),
        |seqs AS (
        |  SELECT doc_id, array_to_string(w[2:14], ' ') AS cs,
        |    array_to_string(w[1:12], ' ') AS rs
        |  FROM base)
        |SELECT doc_id, CAST(length(cs) AS BIGINT) AS len_c,
        |  CAST(length(rs) AS BIGINT) AS len_r,
        |  CAST(levenshtein(cs, rs) AS BIGINT) AS edit_dist,
        |  CAST((1000000 * levenshtein(cs, rs)) // length(rs) AS BIGINT) AS cer_ppm
        |FROM seqs ORDER BY doc_id""".stripMargin,


    // Same ranking replay as q_eval_ndcg; binary relevance = graded
    // rel > 0; corpus-side relevant totals by the label-window count.
    "q_eval_rankmetrics" ->
      """WITH ranked AS (
        |  SELECT query, rank, rel FROM (
        |    SELECT q.vec_id AS query, c.vec_id AS neighbor_id,
        |      GREATEST(0, 3 - ABS(CAST(q.label AS BIGINT) - CAST(c.label AS BIGINT))) AS rel,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(q.embedding, c.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |           * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC, c.vec_id) AS rank
        |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |    WHERE q.vec_id % 25 = 7 AND c.vec_id % 25 <> 7) t
        |  WHERE rank <= 10),
        |rel_tot AS (
        |  SELECT q.vec_id AS query, COUNT(*) AS n_rel
        |  FROM embeddings q JOIN embeddings c
        |    ON c.vec_id % 25 <> 7
        |    AND ABS(CAST(q.label AS BIGINT) - CAST(c.label AS BIGINT)) <= 2
        |  WHERE q.vec_id % 25 = 7 GROUP BY 1),
        |m AS (
        |  SELECT query, COUNT(*) AS n_ranked,
        |    CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        |    CAST(MIN(CASE WHEN rel > 0 THEN rank END) AS BIGINT) AS first_rel_rank
        |  FROM ranked GROUP BY query)
        |SELECT m.query, m.n_ranked, m.hits, m.first_rel_rank,
        |  CAST(1000000 // first_rel_rank AS BIGINT) AS rr_ppm,
        |  CAST((1000000 * hits) // 10 AS BIGINT) AS p_at_k_ppm,
        |  CAST(COALESCE(r.n_rel, 0) AS BIGINT) AS n_rel,
        |  CASE WHEN COALESCE(r.n_rel, 0) > 0
        |    THEN CAST((1000000 * hits) // r.n_rel AS BIGINT)
        |    ELSE NULL END AS recall_ppm
        |FROM m LEFT JOIN rel_tot r USING (query)
        |ORDER BY m.query""".stripMargin,

  )
}
