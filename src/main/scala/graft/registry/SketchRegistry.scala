package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{EventTime, GraftFunctions}
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.StreamingIngest

/** Sketch query/oracle registry — one slice of the driver contract
  * surface, split out of the former 15k-line SparkEntry monolith so a
  * duplicated query-name literal can never silently shadow a pair out
  * of the sweep again (the round-17 q_text_chunks incident).
  * Each query's lambda, fixtures and oracle text live here; a helper
  * that a streaming twin or another family also uses is
  * `private[registry]` in its batch query's registry. Composed — with
  * a cross-registry duplicate guard — in [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]]. */
private[graft] object SketchRegistry extends QueryRegistry {

  /** Misra–Gries summary claim: exact stream length, capacity, zero
    * guarantee violations — shared by the batch and streaming MG folds. */
  private[registry] lazy val mgSummaryOracleSql: String =
    """SELECT CAST(32 AS BIGINT) AS capacity, COUNT(*) AS n,
      |  CAST(0 AS BIGINT) AS n_violations
      |FROM events WHERE user_id IS NOT NULL""".stripMargin

  /** Exact top-25 user frequencies with est = exact (the CMS
    * collision-free regime) — shared by the batch probe and its
    * bit-exact streaming twin. */
  private[registry] lazy val cmsExactRegimeSql: String =
    """SELECT user_id AS item, COUNT(*) AS exact_cnt, COUNT(*) AS est_cnt
      |FROM events WHERE user_id IS NOT NULL
      |GROUP BY user_id ORDER BY exact_cnt DESC, item LIMIT 25""".stripMargin

  /** Exact distinct rollup in the native-HLL output shape (n_rows +
    * est_distinct, small-range-exact regime) — shared by the batch
    * rollup and its bit-exact streaming twin. */
  private[registry] lazy val hllNativeExactRegimeSql: String =
    """SELECT CAST(event_type AS VARCHAR) AS segment,
      |  COUNT(*) AS n_rows, COUNT(DISTINCT user_id) AS est_distinct
      |FROM events WHERE user_id IS NOT NULL GROUP BY 1
      |UNION ALL
      |SELECT '__TOTAL__', COUNT(*), COUNT(DISTINCT user_id)
      |FROM events WHERE user_id IS NOT NULL
      |ORDER BY segment""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Corpus forensics one level up: per source pair, distinct winnowed
    // fingerprints shared ("which feeds plagiarize which") — the decision
    // input for keeping two feeds at full weight vs downweighting a
    // re-crawl. The self-join runs over (source, fp) sets, corpus-smaller.
    "q_source_overlap" -> ((s, dir) =>
      operators.Winnowing.sourceOverlapMatrix(t(s, dir, "documents"),
        "doc_id", "text", "source", k = 4, w = 4, maxDocFreq = 50)
        .orderBy(col("srcA"), col("srcB"))),


    // The 100-TB sibling of q_source_overlap: per-source KMV sketches of
    // the SAME fingerprint sets, pairwise union/intersect/Jaccard from
    // k-sized sketch state — the fp-level self-join (quadratic in shared
    // fingerprints) never runs. Sketch estimates are engine-internal →
    // the gated output is the per-pair 6σ-bounds claim (round-14 fold;
    // estimates stay in the API, the exact sibling above keeps the
    // fingerprint-level oracle).
    "q_source_overlap_est" -> ((s, dir) => {
      val fps = Materialize(operators.Winnowing.sourceFingerprints(
        t(s, dir, "documents"), "doc_id", "text", "source",
        k = 4, w = 4, maxDocFreq = 50))
      val bad = operators.SetSketch.pairOverlapViolations(fps,
          "src", "fp_hash", k = 512)
        .select(col("seg_a"), col("seg_b")).distinct()
        .withColumn("__bad", lit(true))
      operators.SetSketch.pairOverlap(fps, "src", "fp_hash", k = 512)
        .join(bad, Seq("seg_a", "seg_b"), "left")
        .select(col("seg_a"), col("seg_b"), col("__bad").isNull.as("bounds_ok"))
        .orderBy(col("seg_a"), col("seg_b"))
    }),


    // Every estimate bound-checked against the exact fingerprint sets
    // (the q_kmv_overlap_verify contract on this corpus-derived input).
    // Violations only; oracle = empty relation.
    "q_source_overlap_est_verify" -> ((s, dir) =>
      operators.SetSketch.pairOverlapViolations(
        operators.Winnowing.sourceFingerprints(t(s, dir, "documents"),
          "doc_id", "text", "source", k = 4, w = 4, maxDocFreq = 50),
        "src", "fp_hash", k = 512)
        .orderBy(col("seg_a"), col("seg_b"), col("issue"))),


    // File-level BLOOM index (sink.BloomIndex over the native Bloom
    // aggregate): the equality complement of q_zonemap_skip — the table
    // is clustered by SHIP DATE, so a point lookup on ORDER KEY scatters
    // and zone maps prune nothing; the per-file Bloom filters reject
    // every file the key is definitely not in (no false negatives), and
    // the exact residual filter makes the read result-invisible. Result
    // ≡ plain full-scan filter — that's the oracle; BloomIndexSpec
    // asserts files were actually skipped.
    "q_bloom_index" -> ((s, dir) => {
      val base = Scratch.path(dir, "bloomidx")
      graft.sink.ZoneMap.writeClustered(
        t(s, dir, "lineitem"), base, "l_shipdate", nFiles = 16)
      graft.sink.BloomIndex.buildIndex(s, base, "l_orderkey")
      graft.sink.BloomIndex.pointRead(s, base, "l_orderkey", 5988L)
        .select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_shipdate").cast("date").as("d"),
          col("l_quantity").cast("long").as("qty"))
        .orderBy(col("l_linenumber"))
    }),


    // Sketch aggregation — the 100 TB default for distinct counting: the
    // HyperLogLog++ sketch is fixed-size and mergeable, so cardinality
    // costs one partial-agg pass instead of a distinct shuffle. The
    // estimate itself is engine-internal, so the gated output is the
    // deterministic CLAIM: exact per-group values plus the sketch's
    // accuracy contract as a boolean — a sketch regression flips hll_ok
    // and breaks the hash (round-14 headliner fold).
    "q_approx_distinct" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), rsd = 0.01).as("__apx"),
          countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .select(col("event_type"), col("n_users"), col("n_events"),
          (abs(col("__apx") - col("n_users")).cast("double") <=
            lit(0.05) * col("n_users").cast("double")).as("hll_ok"))
        .orderBy(col("event_type"))),


    // Verification-property sibling: every group's HLL++ estimate must sit
    // within 5× the configured 1% relative error of the exact distinct
    // count computed in the same query (a generous bound — the sketch's
    // own guarantee is ~3σ at 3·rsd). Violations only; oracle = empty
    // relation — the sketch value stays engine-internal, its accuracy
    // contract is what the driver gates.
    "q_approx_distinct_verify" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), rsd = 0.01).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .filter(abs(col("approx_users") - col("exact_users")).cast("double") >
          lit(0.05) * col("exact_users").cast("double"))
        .select(col("event_type"), col("approx_users"), col("exact_users"))
        .orderBy(col("event_type"))),


    // MERGEABLE distinct rollup (DataSketches HLL): one sketch per
    // segment, global distinct from hll_union_agg over those sketches —
    // no second scan. The property exact distincts lack: per-segment
    // exacts can't combine (overlap unknown), sketches merge in
    // segment-count time. Engine-internal estimates → rows-only, gated
    // by the _verify error bound; exact sibling carries the oracle.
    "q_hll_rollup" -> ((s, dir) =>
      operators.Profiler.segmentDistinctRollup(
        t(s, dir, "events"), "event_type", "user_id")
        .orderBy(col("segment"))),


    // In-engine error gate: every estimate — per-segment AND the unioned
    // total — within 5% of exact (>3σ for lgConfigK=12). Violations only.
    "q_hll_rollup_verify" -> ((s, dir) =>
      operators.Profiler.segmentDistinctViolations(
        t(s, dir, "events"), "event_type", "user_id")
        .orderBy(col("segment"))),


    // Exact oracled sibling of the rollup, same shape (segments + total).
    "q_hll_rollup_exact" -> ((s, dir) => {
      val vals = t(s, dir, "events").filter(col("user_id").isNotNull)
        .select(col("event_type").cast("string").as("segment"),
          col("user_id").as("v"))
      vals.groupBy(col("segment"))
        .agg(countDistinct(col("v")).as("n_distinct"))
        .unionAll(vals.agg(countDistinct(col("v")).as("n_distinct"))
          .select(lit("__TOTAL__").as("segment"), col("n_distinct")))
        .orderBy(col("segment"))
    }),


    // The same rollup over the engine's NATIVE HLL aggregate lattice
    // (graft.expr.HllAggregate: sketch-agg → binary, sketch-union agg,
    // estimate expression) — a second TypedImperativeAggregate surface
    // alongside Misra–Gries, with a property MG lacks: register-wise max
    // is associative/commutative, so the sketch is a pure function of the
    // input SET and the merged rollup is bit-deterministic. Rows-only +
    // the _verify gate below; exact sibling q_hll_rollup_exact shares the
    // segments+total shape.
    "q_hll_native" -> ((s, dir) =>
      operators.Profiler.nativeDistinctRollup(
        t(s, dir, "events"), "event_type", "user_id")
        .orderBy(col("segment"))),


    // Gate: 5% error bound per segment AND total, plus bit-exact
    // merged-vs-direct estimate equality (the mergeability contract
    // itself). Violations only.
    "q_hll_native_verify" -> ((s, dir) =>
      operators.Profiler.nativeDistinctViolations(
        t(s, dir, "events"), "event_type", "user_id")
        .orderBy(col("segment"), col("issue"))),


    // Sketch quantiles (GK percentile_approx) — the 100-TB percentile
    // path: fixed-size mergeable state, no sort. The returned values are
    // compaction-order-specific, so the gated output is the CLAIM: for
    // each p, the value's exact rank interval intersects [(p±eps)·n] —
    // rank_ok flips (and breaks the hash) on any GK regression
    // (round-14 headliner fold; the raw values stay in the API).
    "q_quantile_approx" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ps = Seq(0.01, 0.25, 0.5, 0.75, 0.99)
      val bad = operators.Profiler.approxQuantileViolations(li,
          "l_extendedprice", ps, accuracy = 1000)
        .select(col("p")).distinct().withColumn("__bad", lit(true))
      operators.Profiler.approxQuantiles(li, "l_extendedprice", ps,
          accuracy = 1000)
        .join(bad, Seq("p"), "left")
        .crossJoin(broadcast(li.filter(col("l_extendedprice").isNotNull)
          .agg(count(lit(1)).as("n"))))
        .select(col("p"), col("n"), col("__bad").isNull.as("rank_ok"))
        .orderBy(col("p"))
    }),


    // In-engine GK guarantee check: each returned value's exact rank range
    // must intersect [(p-eps)n, (p+eps)n] on the real data. Violations
    // only — empty relation when the sketch honors its contract.
    "q_quantile_approx_verify" -> ((s, dir) =>
      operators.Profiler.approxQuantileViolations(t(s, dir, "lineitem"),
        "l_extendedprice", Seq(0.01, 0.25, 0.5, 0.75, 0.99), accuracy = 1000)),


    // The NATIVE mergeable quantile summary (graft.expr.KllSketchAgg, the
    // fourth TypedImperativeAggregate next to MG/HLL/CMS): per-returnflag
    // KLL compactor stacks over micro-quantized price, expanded to
    // percentile estimates. Map tasks carry one k·log-sized buffer; only
    // summaries cross the shuffle — the 100-TB shape percentile_cont
    // can't have. Summary content is arrival-order-dependent (like MG) →
    // the gated output is the deterministic CLAIM per (segment, p): the
    // sketch-carried n (exact by the KLL invariant) and the worst-case
    // rank-ledger check as a boolean — compaction-order-specific values
    // stay in the API, any KLL regression flips rank_ok (round-14 fold);
    // q_agg_percentiles is the exact-oracled sibling shape.
    "q_quantile_native" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("__price_micro",
          floor(col("l_extendedprice").cast("double") * 1e6).cast("long"))
      val est = Materialize(operators.QuantileSketch.groupQuantiles(li,
        "l_returnflag", "__price_micro", k = 256,
        ps = Seq(0.01, 0.25, 0.5, 0.75, 0.99)))
      val values = li.filter(col("__price_micro").isNotNull)
        .select(col("l_returnflag").cast("string").as("segment"),
          col("__price_micro").as("v"))
      val bad = operators.QuantileSketch.violations(est, values)
        .select(col("segment"), col("p")).distinct()
        .withColumn("__bad", lit(true))
      est.join(bad, Seq("segment", "p"), "left")
        .select(col("segment"), col("p"), col("n"),
          col("__bad").isNull.as("rank_ok"))
        .orderBy(col("segment"), col("p"))
    }),


    // In-engine KLL guarantee gate, all three invariants per (segment, p):
    // n exact, the exact rank interval of the returned value intersects
    // [target − err, target + err] for the sketch's self-reported
    // compaction ledger err, and the value is a genuine input value.
    // Violations only; oracle = empty relation.
    "q_quantile_native_verify" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("__price_micro",
          floor(col("l_extendedprice").cast("double") * 1e6).cast("long"))
      val est = operators.QuantileSketch.groupQuantiles(li,
        "l_returnflag", "__price_micro", k = 256,
        ps = Seq(0.01, 0.25, 0.5, 0.75, 0.99))
      val values = li.filter(col("__price_micro").isNotNull)
        .select(col("l_returnflag").cast("string").as("segment"),
          col("__price_micro").as("v"))
      operators.QuantileSketch.violations(est, values)
        .orderBy(col("segment"), col("p"), col("issue"))
    }),


    // Segment set-OVERLAP via the native KMV (theta) sketch
    // (graft.expr.KmvAggregate) — the set-operation summary HLL cannot
    // be: union / intersection / difference / Jaccard for every
    // returnflag pair over the distinct order-key sets, from ONE row scan
    // into per-segment sketches plus pair-count sketch combinations.
    // Engine-internal estimates (lineitem order keys far exceed k) → the
    // gated output is the per-pair claim: every union/intersection/
    // difference/Jaccard estimate inside its 6σ bound and the merge
    // lattice byte-exact — bounds_ok flips on any theta-sketch
    // regression (round-14 fold; estimates stay in the API, exact
    // sibling q_kmv_overlap_exact keeps the value oracle).
    "q_kmv_overlap" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val bad = operators.SetSketch.pairOverlapViolations(li,
          "l_returnflag", "l_orderkey", k = 512)
        .select(col("seg_a"), col("seg_b")).distinct()
        .withColumn("__bad", lit(true))
      operators.SetSketch.pairOverlap(li, "l_returnflag", "l_orderkey",
          k = 512)
        .join(bad, Seq("seg_a", "seg_b"), "left")
        .select(col("seg_a"), col("seg_b"), col("__bad").isNull.as("bounds_ok"))
        .orderBy(col("seg_a"), col("seg_b"))
    }),


    // Exact oracled sibling, same shape — the value-level self-join the
    // sketch exists to avoid at scale (its shuffle carries every distinct
    // (segment, value) pair twice and re-runs per new segment).
    "q_kmv_overlap_exact" -> ((s, dir) =>
      operators.SetSketch.pairOverlapExact(t(s, dir, "lineitem"),
        "l_returnflag", "l_orderkey")
        .orderBy(col("seg_a"), col("seg_b"))),


    // Gate: every union/intersection/difference estimate within 6·RSE·|A∪B|
    // of exact, Jaccard within 6·½/√k, and the union-merge of per-segment
    // sketches BYTE-IDENTICAL to one direct global sketch (KMV is a pure
    // set function). Violations only; oracle = empty relation.
    "q_kmv_overlap_verify" -> ((s, dir) =>
      operators.SetSketch.pairOverlapViolations(t(s, dir, "lineitem"),
        "l_returnflag", "l_orderkey", k = 512)
        .orderBy(col("seg_a"), col("seg_b"), col("issue"))),


    // Bounded-memory heavy hitters: native Misra–Gries imperative aggregate
    // (expr/MisraGriesAggregate.scala) — which keys are hot, without the
    // full groupBy(key).count shuffle (capacity-sized mergeable summaries
    // only). Estimates are partitioning-order-dependent, so the gated
    // output is the deterministic CLAIM: exact stream length, capacity,
    // and the count of MG-guarantee violations (est ≤ true ≤ est+sub, no
    // missing heavy item, sub bound) — any MG regression makes
    // n_violations non-zero and breaks the hash (round-14 fold; the raw
    // summary stays in the API, exact sibling q_heavy_hitters_exact).
    "q_heavy_hitters" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.filter(col("user_id").isNotNull).agg(count(lit(1)).as("n"))
        .crossJoin(operators.HeavyHitters.violations(ev, "user_id",
          capacity = 32).agg(count(lit(1)).as("n_violations")))
        .select(lit(32L).as("capacity"), col("n"), col("n_violations"))
    }),


    // Exact oracled sibling: true top-25 hottest users, deterministic
    // (count desc, id asc) tie-break. orderBy+limit = TakeOrderedAndProject
    // (per-partition heaps, no one-partition window).
    "q_heavy_hitters_exact" -> ((s, dir) =>
      t(s, dir, "events").filter(col("user_id").isNotNull)
        .groupBy(col("user_id").as("item")).agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("item"))
        .limit(25)),


    // In-engine MG guarantee check against exact counts: est<=true<=est+sub
    // per item, no heavy item missing, stream length exact, sub within its
    // n/(capacity+1) bound. Violations only; oracle = empty relation.
    "q_heavy_hitters_verify" -> ((s, dir) =>
      operators.HeavyHitters.violations(t(s, dir, "events"), "user_id",
        capacity = 32)),


    // Per-group heavy hitters: one capacity-bounded MG summary PER
    // event_type — the grouped dimension the other sketch families
    // already ship (HLL rollup, KMV pairs, CMS segments). est values are
    // engine-internal (decrement schedule) → the gated output is the
    // per-group claim (exact n, zero guarantee violations); the raw
    // summaries stay in the API and the exact sibling keeps its oracle
    // (round-14 headliner fold).
    "q_hotkeys_by_group" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val nv = operators.HeavyHitters.violationsByGroup(ev,
          "event_type", "user_id", capacity = 16)
        .groupBy(col("grp")).agg(count(lit(1)).as("__nv"))
      ev.filter(col("user_id").isNotNull)
        .groupBy(col("event_type").cast("string").as("grp"))
        .agg(count(lit(1)).as("n"))
        .join(nv, Seq("grp"), "left")
        .select(col("grp"), col("n"),
          coalesce(col("__nv"), lit(0L)).as("n_violations"))
        .orderBy(col("grp"))
    }),


    // Exact oracled sibling: per-group true top-10 users, deterministic
    // (count desc, id asc) tie-break via one rank window over the
    // (group, item) count table.
    "q_hotkeys_by_group_exact" -> ((s, dir) => {
      val cnt = t(s, dir, "events").filter(col("user_id").isNotNull)
        .groupBy(col("event_type").cast("string").as("grp"),
          col("user_id").as("item"))
        .agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
        .orderBy(col("cnt").desc, col("item").asc)
      cnt.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 10)
        .select(col("grp"), col("item"), col("cnt"))
        .orderBy(col("grp"), col("cnt").desc, col("item"))
    }),


    // Per-(group, item) MG guarantee check against exact counts.
    // Violations only; oracle = empty relation.
    "q_hotkeys_by_group_verify" -> ((s, dir) =>
      operators.HeavyHitters.violationsByGroup(t(s, dir, "events"),
        "event_type", "user_id", capacity = 16)),


    // Count-Min point-frequency estimates for the exact top-25 users — the
    // third native sketch (MG: which items are heavy; HLL: how many
    // distinct; CMS: how often did THIS item occur, probed after the
    // scan). One-row sketch crossed into the bounded probe set; estimates
    // are engine-internal → rows-only, gated by the _verify below; exact
    // sibling q_heavy_hitters_exact carries the oracle for the same items.
    "q_cms_native" -> ((s, dir) =>
      operators.FreqSketch.topItemEstimates(
        t(s, dir, "events"), "user_id", k = 25)
        .orderBy(col("exact_cnt").desc, col("item"))),


    // Gate over EVERY distinct item: no undercount ever (counters only
    // add), overcount within 2·e·n/width, and per-segment sketches summed
    // BYTE-equal to the one-pass global sketch. Violations only.
    "q_cms_native_verify" -> ((s, dir) =>
      operators.FreqSketch.violations(
        t(s, dir, "events"), "user_id", "event_type")
        .orderBy(col("subject"), col("issue"))),


    // JOIN-SIZE ESTIMATION from sketches (CMS/AMS inner product): the
    // optimizer's pre-join question — how big is events ⋈ events on
    // user_id? — answered from two 512 KB sketches without running the
    // join (this self-join size is also the classic AMS second moment
    // F2). Never underestimates; engine-internal → rows-only, gated by
    // the bound sibling; the exact COUNT carries the oracle.
    "q_join_size_est" -> ((s, dir) =>
      operators.FreqSketch.joinSizeEstimate(
        t(s, dir, "events"), "user_id",
        t(s, dir, "events"), "user_id", depth = 8, width = 8192)),


    "q_join_size_exact" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id").cast("long").as("__k"))
        .filter(col("__k").isNotNull)
      ev.join(ev, Seq("__k")).agg(count(lit(1)).as("true_size"))
    }),


    // Gate: est >= true always (colliding keys only add), and
    // est <= true + e·nA·nB/width (misses w.p. ~exp(−depth)).
    // Violations only; oracle = empty relation.
    "q_join_size_est_verify" -> ((s, dir) =>
      operators.FreqSketch.joinSizeViolations(
        t(s, dir, "events"), "user_id",
        t(s, dir, "events"), "user_id", depth = 8, width = 8192)),

  )

  def oracles: Map[String, String] = Map(

    // Bloom-index point read ≡ plain filter: the index must be
    // result-invisible (it only prunes files; the residual filter is
    // exact).
    "q_bloom_index" ->
      """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
        |  CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  CAST(l_shipdate AS DATE) AS d,
        |  CAST(l_quantity AS BIGINT) AS qty
        |FROM lineitem WHERE l_orderkey = 5988
        |ORDER BY l_linenumber""".stripMargin,


    // Source overlap: the q_winnow_overlap CTE chain through the doc-freq
    // prune, then rolled up to DISTINCT (source, fp) sets before the
    // fp-keyed self-join.
    "q_source_overlap" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        |              FROM documents),
        |kg AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |         list_extract(tk,i)||' '||list_extract(tk,i+1)||' '||
        |         list_extract(tk,i+2)||' '||list_extract(tk,i+3) AS g
        |       FROM toks, LATERAL (SELECT unnest(range(1, len(tk)-2)) AS i) r
        |       WHERE len(tk) >= 4),
        |h AS (SELECT doc_id, pos,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(split(g,''), c -> CAST(unicode(c) AS BIGINT))),
        |          (a, c) -> (a*31 + c) % 4294967296) AS fp_hash
        |      FROM kg),
        |w AS (SELECT doc_id, pos, fp_hash,
        |        min(fp_hash) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
        |        count(*) OVER (PARTITION BY doc_id) AS m
        |      FROM h),
        |sel AS (SELECT w.doc_id, max(h2.pos) AS pos, w.wmin AS fp_hash
        |        FROM w JOIN h h2 ON h2.doc_id = w.doc_id
        |          AND h2.pos BETWEEN w.pos AND w.pos + 3 AND h2.fp_hash = w.wmin
        |        WHERE w.pos <= greatest(w.m - 4, 0)
        |        GROUP BY w.doc_id, w.pos, w.wmin),
        |fp AS (SELECT DISTINCT doc_id, fp_hash FROM sel),
        |freq AS (SELECT fp_hash, count(*) AS df FROM fp GROUP BY 1),
        |keep AS (SELECT doc_id, fp_hash FROM fp JOIN freq USING (fp_hash)
        |         WHERE df <= 50),
        |sfp AS (SELECT DISTINCT d.source AS src, k.fp_hash
        |        FROM keep k JOIN documents d USING (doc_id)),
        |sz AS (SELECT src, count(*) AS nfp FROM sfp GROUP BY 1),
        |p AS (SELECT a.src AS srcA, b.src AS srcB, count(*) AS shared
        |      FROM sfp a JOIN sfp b ON a.fp_hash = b.fp_hash AND a.src < b.src
        |      GROUP BY 1, 2)
        |SELECT srcA, srcB, shared,
        |  ROUND(CAST(shared AS DOUBLE) / least(sa.nfp, sb.nfp), 6) AS containment
        |FROM p JOIN sz sa ON sa.src = srcA JOIN sz sb ON sb.src = srcB
        |ORDER BY srcA, srcB""".stripMargin,


    "q_hll_rollup_exact" ->
      """SELECT CAST(event_type AS VARCHAR) AS segment,
        |  COUNT(DISTINCT user_id) AS n_distinct
        |FROM events WHERE user_id IS NOT NULL GROUP BY 1
        |UNION ALL
        |SELECT '__TOTAL__', COUNT(DISTINCT user_id)
        |FROM events WHERE user_id IS NOT NULL
        |ORDER BY segment""".stripMargin,


    "q_hll_rollup_verify" ->
      """SELECT CAST(NULL AS VARCHAR) AS segment,
        |  CAST(NULL AS BIGINT) AS est_distinct, CAST(NULL AS BIGINT) AS exact
        |WHERE FALSE""".stripMargin,


    "q_hll_native_verify" ->
      """SELECT CAST(NULL AS VARCHAR) AS segment, CAST(NULL AS VARCHAR) AS issue
        |WHERE FALSE""".stripMargin,


    "q_cms_native_verify" ->
      """SELECT CAST(NULL AS VARCHAR) AS subject, CAST(NULL AS VARCHAR) AS issue
        |WHERE FALSE""".stripMargin,


    // KMV pair overlap: distinct (segment, value) pairs, pairwise sizes +
    // intersections, Jaccard in ppm via pure INTEGER division (no float
    // rounding drift). Every arithmetic output CAST to BIGINT — DuckDB
    // keeps +/- on BIGINT as BIGINT today, but the casts pin the contract.
    "q_kmv_overlap_exact" ->
      """WITH sv AS (
        |  SELECT DISTINCT CAST(l_returnflag AS VARCHAR) AS segment,
        |    CAST(l_orderkey AS BIGINT) AS v
        |  FROM lineitem WHERE l_orderkey IS NOT NULL),
        |sizes AS (SELECT segment, COUNT(*) AS sz FROM sv GROUP BY 1),
        |inter AS (
        |  SELECT a.segment AS seg_a, b.segment AS seg_b, COUNT(*) AS i
        |  FROM sv a JOIN sv b ON a.v = b.v AND a.segment < b.segment
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.segment AS seg_a, b.segment AS seg_b,
        |    a.sz AS sza, b.sz AS szb
        |  FROM sizes a JOIN sizes b ON a.segment < b.segment)
        |SELECT p.seg_a, p.seg_b,
        |  CAST(p.sza + p.szb - COALESCE(i.i, 0) AS BIGINT) AS union_cnt,
        |  CAST(COALESCE(i.i, 0) AS BIGINT) AS intersect_cnt,
        |  CAST(p.sza - COALESCE(i.i, 0) AS BIGINT) AS diff_ab_cnt,
        |  CAST((1000000 * COALESCE(i.i, 0))
        |    // (p.sza + p.szb - COALESCE(i.i, 0)) AS BIGINT) AS jaccard_ppm
        |FROM pairs p
        |LEFT JOIN inter i ON i.seg_a = p.seg_a AND i.seg_b = p.seg_b
        |ORDER BY 1, 2""".stripMargin,


    "q_kmv_overlap_verify" ->
      """SELECT CAST(NULL AS VARCHAR) AS seg_a, CAST(NULL AS VARCHAR) AS seg_b,
        |  CAST(NULL AS VARCHAR) AS issue
        |WHERE FALSE""".stripMargin,


    "q_source_overlap_est_verify" ->
      """SELECT CAST(NULL AS VARCHAR) AS seg_a, CAST(NULL AS VARCHAR) AS seg_b,
        |  CAST(NULL AS VARCHAR) AS issue
        |WHERE FALSE""".stripMargin,


    "q_join_size_exact" ->
      """SELECT COUNT(*) AS true_size
        |FROM (SELECT CAST(user_id AS BIGINT) AS k FROM events
        |      WHERE user_id IS NOT NULL) a
        |JOIN (SELECT CAST(user_id AS BIGINT) AS k FROM events
        |      WHERE user_id IS NOT NULL) b ON a.k = b.k""".stripMargin,


    "q_join_size_est_verify" ->
      """SELECT CAST(NULL AS VARCHAR) AS subject, CAST(NULL AS VARCHAR) AS issue
        |WHERE FALSE""".stripMargin,


    "q_quantile_approx_verify" ->
      """SELECT CAST(NULL AS DOUBLE) AS p, CAST(NULL AS DOUBLE) AS qv,
        |  CAST(NULL AS BIGINT) AS cnt_lt, CAST(NULL AS BIGINT) AS cnt_le,
        |  CAST(NULL AS BIGINT) AS n
        |WHERE FALSE""".stripMargin,


    // Native-KLL headlines are approximate-by-design (arrival-order-
    // dependent summary content); their worst-case rank-ledger checks are
    // the gates, batch and streaming alike.
    "q_quantile_native_verify" ->
      """SELECT CAST(NULL AS VARCHAR) AS segment, CAST(NULL AS DOUBLE) AS p,
        |  CAST(NULL AS VARCHAR) AS issue
        |WHERE FALSE""".stripMargin,


    // Exact heavy-hitter sibling: deterministic top-25 by (count desc, id).
    "q_heavy_hitters_exact" ->
      """SELECT user_id AS item, COUNT(*) AS cnt
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY user_id ORDER BY cnt DESC, item LIMIT 25""".stripMargin,


    "q_heavy_hitters_verify" ->
      """SELECT CAST(NULL AS VARCHAR) AS why, CAST(NULL AS BIGINT) AS item,
        |  CAST(NULL AS BIGINT) AS est, CAST(NULL AS BIGINT) AS cnt
        |WHERE FALSE""".stripMargin,


    // Exact per-group hot-key sibling: top-10 per event_type under the
    // same (cnt DESC, item ASC) total order as the Spark rank window.
    "q_hotkeys_by_group_exact" ->
      """SELECT grp, item, cnt FROM (
        |  SELECT CAST(event_type AS VARCHAR) AS grp, user_id AS item,
        |    COUNT(*) AS cnt
        |  FROM events WHERE user_id IS NOT NULL
        |  GROUP BY 1, 2)
        |QUALIFY row_number() OVER (PARTITION BY grp
        |  ORDER BY cnt DESC, item ASC) <= 10
        |ORDER BY grp, cnt DESC, item""".stripMargin,


    "q_hotkeys_by_group_verify" ->
      """SELECT CAST(NULL AS VARCHAR) AS why, CAST(NULL AS VARCHAR) AS grp,
        |  CAST(NULL AS BIGINT) AS item, CAST(NULL AS BIGINT) AS est,
        |  CAST(NULL AS BIGINT) AS cnt
        |WHERE FALSE""".stripMargin,


    "q_approx_distinct_verify" ->
      """SELECT CAST(NULL AS VARCHAR) AS event_type,
        |  CAST(NULL AS BIGINT) AS approx_users, CAST(NULL AS BIGINT) AS exact_users
        |WHERE FALSE""".stripMargin,


    // (a) CMS with width 2048 over 150 distinct users is collision-free:
    // every estimate must equal the exact count, for the deterministic
    // exact top-25 probe set.
    "q_cms_native" -> cmsExactRegimeSql,


    // (a) 150 distinct values sit in HLL's small-range-exact regime (and
    // the sketches are register-max set functions, merge-order
    // invariant), so every rollup estimate equals the exact distinct.
    "q_hll_rollup" ->
      """SELECT CAST(event_type AS VARCHAR) AS segment,
        |  COUNT(DISTINCT user_id) AS est_distinct
        |FROM events WHERE user_id IS NOT NULL GROUP BY 1
        |UNION ALL
        |SELECT '__TOTAL__', COUNT(DISTINCT user_id)
        |FROM events WHERE user_id IS NOT NULL
        |ORDER BY segment""".stripMargin,

    "q_hll_native" -> hllNativeExactRegimeSql,


    // (a) CMS inner-product join-size estimate with width 8192 over 150
    // keys: no colliding pair, so the AMS estimate equals the true
    // self-join size exactly.
    "q_join_size_est" ->
      """WITH k AS (SELECT CAST(user_id AS BIGINT) AS k FROM events
        |  WHERE user_id IS NOT NULL),
        |c AS (SELECT k, COUNT(*) AS c FROM k GROUP BY k)
        |SELECT (SELECT COUNT(*) FROM k) AS n_a,
        |  (SELECT COUNT(*) FROM k) AS n_b,
        |  CAST((SELECT SUM(c * c) FROM c) AS BIGINT) AS est""".stripMargin,


    // (b) contract frames — enumerable keys, exact side values, and the
    // approximate machinery's guarantees as booleans/violation counts.
    "q_approx_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
        |  COUNT(*) AS n_events, TRUE AS hll_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,


    "q_quantile_approx" ->
      """SELECT CAST(p AS DOUBLE) AS p,
        |  (SELECT COUNT(*) FROM lineitem WHERE l_extendedprice IS NOT NULL) AS n,
        |  TRUE AS rank_ok
        |FROM (SELECT unnest([0.01, 0.25, 0.5, 0.75, 0.99]) AS p)
        |ORDER BY p""".stripMargin,


    "q_quantile_native" ->
      """SELECT CAST(l_returnflag AS VARCHAR) AS segment, CAST(pp AS DOUBLE) AS p,
        |  COUNT(*) AS n, TRUE AS rank_ok
        |FROM lineitem CROSS JOIN (SELECT unnest([0.01, 0.25, 0.5, 0.75, 0.99]) AS pp)
        |WHERE l_extendedprice IS NOT NULL
        |GROUP BY 1, 2 ORDER BY segment, p""".stripMargin,


    "q_heavy_hitters" -> mgSummaryOracleSql,


    "q_hotkeys_by_group" ->
      """SELECT CAST(event_type AS VARCHAR) AS grp, COUNT(*) AS n,
        |  CAST(0 AS BIGINT) AS n_violations
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY 1 ORDER BY grp""".stripMargin,


    "q_kmv_overlap" ->
      """WITH s AS (SELECT DISTINCT CAST(l_returnflag AS VARCHAR) AS seg
        |  FROM lineitem WHERE l_orderkey IS NOT NULL)
        |SELECT a.seg AS seg_a, b.seg AS seg_b, TRUE AS bounds_ok
        |FROM s a JOIN s b ON a.seg < b.seg ORDER BY 1, 2""".stripMargin,


    "q_source_overlap_est" ->
      """WITH s AS (SELECT DISTINCT source AS seg FROM documents)
        |SELECT a.seg AS seg_a, b.seg AS seg_b, TRUE AS bounds_ok
        |FROM s a JOIN s b ON a.seg < b.seg ORDER BY 1, 2""".stripMargin,

  )
}
