package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize

/** Distributed graph ranking over an edge list — the link-analysis half of
  * a web-scale corpus pipeline (rank pages before quality filtering; weight
  * sources in the mixing stage by their link authority).
  *
  * PageRank here is FIXED-POINT integer arithmetic, not floating-point:
  * rank mass is carried in micro-units (`base` = 1.0 of mass) and every
  * per-iteration operation is a long floor-division or a long sum — both
  * exactly associative/commutative, so the result is bit-identical across
  * partitionings, engines, and aggregation orders. That turns an
  * "approximately converged" iterative algorithm into an exactly oracled
  * one: DuckDB replays the same iterations with BIGINT `//` math and the
  * hashes must match. (The usual double-precision PageRank is
  * order-dependent in its low bits and can never be hash-compared.)
  *
  * Scale posture (100 TB): per iteration ONE shuffle join (edges ⋈ ranks on
  * src — ranks is |V| rows vs |E| edges, so AQE broadcasts it whenever the
  * node set fits) and ONE dst-keyed partial-aggregated sum. The rank frame
  * is eagerly checkpointed every `checkpointEvery` iterations to truncate
  * lineage (same idiom as [[Dedup.connectedComponents]]): without it the
  * optimizer re-analyzes a plan that doubles per round. Nothing touches the
  * driver; the output is |V| rows.
  *
  * Contract: every node must have at least one OUT-edge (no dangling-mass
  * redistribution is performed — callers with dangling nodes add self-loops
  * or drop sinks first). Bipartite co-occurrence graphs built symmetrically
  * (a→b and b→a) satisfy this by construction.
  */
object Graph {

  /** 3-iteration damped PageRank in exact integer micro-units.
    *
    * new_rank(v) = base·(100−damp)/100  +  damp · Σ_{u→v} (rank(u) div outdeg(u)) div 100
    *
    * with damp = 85 (the classic 0.85, in percent) and base = 1000000,
    * the integer mass of rank 1.0 (micro-units).
    *
    * @param edges  edge list; deduplicated internally (multi-edges count once)
    * @return (node, pr) — one row per node with out-edges, `pr` in micro-units
    */
  /** `edgesDeduped = true` asserts the caller's edge frame is ALREADY
    * distinct (e.g. a shared checkpointed frame) and skips the internal
    * dedup exchange — the output is identical by definition; passing a
    * frame with duplicate edges under the flag corrupts out-degrees. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, checkpointEvery: Int = 5,
               edgesDeduped: Boolean = false): DataFrame = {
    require(iters >= 1)
    val damp = 85L
    val base = 1000000L

    // Edge list with the source's out-degree attached ONCE — reused by every
    // iteration, so materialize it (the distinct + degree agg should run one
    // time, not `iters` times).
    val eRaw = edges.select(col(srcCol).cast("long").as("src"),
                            col(dstCol).cast("long").as("dst"))
    val e = if (edgesDeduped) eRaw else eRaw.distinct()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outd"))
    val eDeg = Materialize(e.join(deg, "src"))
    val nodes = Materialize(eDeg.select(col("src").as("node")).distinct())

    val teleport = lit(base * (100L - damp) / 100L)
    var ranks = nodes.withColumn("pr", lit(base))
    var cut = ranks // the last materialized round (released once superseded)
    for (i <- 1 to iters) {
      val contrib = eDeg.join(ranks, eDeg("src") === ranks("node"))
        .select(col("dst"), expr("pr div outd").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      // left join keeps in-degree-0 nodes at pure teleport mass
      ranks = nodes.join(contrib, nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          (teleport + expr(s"($damp * coalesce(s, 0L)) div 100")).as("pr"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters) {
        ranks = Materialize(ranks)
        Materialize.release(cut)
        cut = ranks
      }
    }
    ranks
  }

  /** Exact per-node triangle counts by degree-ordered edge orientation
    * (Chiba–Nishizeki; the MapReduce formulation is Suri & Vassilvitskii,
    * WWW'11 "node-iterator++"). Triangles are the unit of local clustering
    * — the graph-quality signal a link-graph corpus pipeline uses to
    * separate organic neighborhoods (high closure) from spam farms and
    * scraper link rings (star-shaped, closure ≈ 0).
    *
    * Every edge {u,v} is oriented from its lower endpoint in the total
    * order `a ≺ b  iff  deg(a) < deg(b) or (deg(a) = deg(b) and a < b)`.
    * Each triangle {a,b,c} then materializes exactly once: as the wedge
    * (c→a, c→b) centered at its ≺-minimal corner plus the closing oriented
    * edge a→b. Orientation is what makes this scale: a node's OUT-degree
    * after orienting is O(√m) on any graph (its out-neighbors all have
    * degree ≥ its own), so the wedge join's fan-out per center is bounded
    * by √m instead of the raw max degree — the classic guard against the
    * celebrity-node quadratic blowup.
    *
    * Exactness: counting only — no floating point anywhere — so the result
    * is engine- and partitioning-independent and can be hash-compared
    * against a plain SQL replay.
    *
    * Scale shape: canonicalize + distinct (one shuffle), degree count (one
    * partial-aggregated shuffle), wedge join keyed on the wedge center,
    * closing join keyed on the (a,b) edge pair, and a map-side-combined
    * per-corner count. Nothing touches the driver; no windows; the output
    * is |V| rows (0-triangle nodes included, for clustering-coefficient
    * consumers).
    *
    * @param edges raw edge list — direction ignored, self-loops dropped,
    *              multi-edges counted once
    * @return (node, triangles) for every node with at least one edge
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = canonicalUndirected(edges, srcCol, dstCol)
    val corners = triangleRowsOf(und)
      .select(explode(array(col("ta"), col("tb"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("cnt"))
    degreesOf(und).select(col("node"))
      .join(corners, Seq("node"), "left")
      .select(col("node"), coalesce(col("cnt"), lit(0L)).as("triangles"))
  }

  /** Canonical undirected simple edges: self-loops dropped, u < v, each
    * pair once. The normal form every triangle routine starts from. */
  def canonicalUndirected(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame = {
    val raw = edges.select(col(srcCol).cast("long").as("a"),
                           col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    raw.select(least(col("a"), col("b")).as("u"),
               greatest(col("a"), col("b")).as("v")).distinct()
  }

  private def degreesOf(und: DataFrame): DataFrame =
    und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))

  /** Every triangle of the canonical-undirected graph `und` exactly once,
    * as a row (ta, tb, c) — degree-ordered orientation, then the
    * EDGE-ITERATOR closure: per oriented edge x→y the common oriented
    * out-neighborhood N⁺(x) ∩ N⁺(y), intersected in-task over compact
    * adjacency arrays. Exposed so consumers can count globally, list
    * per-edge supports (the DOULION variance gate), or feed truss/closure
    * analyses without re-deriving the orientation.
    *
    * Row identity with the former wedge-join formulation (oracles depend
    * on the SET of rows, so this is load-bearing): a triangle {a≺b≺c}
    * orients as a→b, a→c, b→c and is emitted exactly once, at edge a→b
    * with c ∈ N⁺(a) ∩ N⁺(b) — (ta=b, tb=c, c=a), i.e. center = the
    * ≺-minimal corner and ta≺tb, exactly the wedge join's output. The
    * other two edges find an empty intersection on the relevant side
    * (b→c needs a ∈ N⁺(b): false; a→c needs b ∈ N⁺(c): false).
    *
    * Why this shape (guide §2.3, shuffle fewer bytes): the wedge join
    * materialized Σ_v C(outdeg(v), 2) wedge ROWS through an exchange into
    * the closure join — ~17M rows (≈400 MB shuffle write) on the sf0.1
    * co-purchase graph, quadratic in the out-degree everywhere — then
    * dropped all non-closing wedges. Here the only shuffles are
    * |V|-sized (the adjacency build, checkpointed once) and |E|-sized
    * (two edge⋈adjacency hash joins); the C(d,2) work happens as
    * in-task hash-set probes and only ACTUAL triangle corners ever hit
    * an exchange. The O(√m) oriented out-degree bound still caps both
    * the array width and the per-edge probe cost. */
  def triangleRowsOf(und: DataFrame): DataFrame = {
    val deg = degreesOf(und)
    val withDeg = und
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"))
    // one adjacency pass feeds the edge re-derivation AND both join
    // sides — eagerly materialized so orientation runs once, not thrice
    val adj = Materialize(oriented.groupBy(col("src"))
      .agg(collect_list(col("dst")).as("ns")))
    val edges = adj.select(col("src"), explode(col("ns")).as("dst"))
    edges
      .join(adj.select(col("src").as("__au"), col("ns").as("__nu")),
        col("src") === col("__au"))
      .join(adj.select(col("src").as("__av"), col("ns").as("__nv")),
        col("dst") === col("__av"))
      .select(col("dst").as("ta"),
        explode(array_intersect(col("__nu"), col("__nv"))).as("tb"),
        col("src").as("c"))
      .select(col("ta"), col("tb"), col("c"))
  }

  /** DOULION-style approximate GLOBAL triangle count (Tsourakakis, Kang,
    * Miller & Faloutsos, KDD'09): sparsify the canonical edge set by
    * keeping each edge independently with probability p, count triangles
    * exactly on the sparsified graph, scale by 1/p³. Unbiased:
    * each triangle survives iff its three edges all survive (probability
    * p³). This is the 100×-scale escape hatch for exact counting —
    * sparsification cuts edge volume by p, oriented out-degrees by ~p, and
    * the dominant wedge-join workload by ~p²; the triangle-closure work by
    * p³ — while the published variance bound
    * `Var ≤ T·(1/p³ − 1) + 2k·(1/p − 1)` (k = triangle pairs sharing an
    * edge) keeps the estimate gated against the exact sibling.
    *
    * The coin flip is a DETERMINISTIC hash of the canonical edge
    * ([[edgeCoinSlot]] mod 100 < pPct), not a runtime RNG: the sample —
    * hence the estimate and its driver-gated error check — is
    * reproducible across runs, partitionings, and cluster sizes, two
    * triangles sharing an edge share that edge's coin exactly as the
    * variance model assumes, and the Knuth-multiplicative form is
    * replayable in plain integer SQL, which is what lets the DOULION
    * headline carry a full value oracle (sample → exact count on the
    * sample → ×(1/p)³, recomputed end-to-end by DuckDB).
    *
    * @param pPct keep-probability in percent (50 = DOULION's p = 0.5)
    * @return one row: (p_pct, sampled_edges, sampled_triangles,
    *         est_triangles = sampled/p³ as double)
    */
  /** `(x · m) mod 2³²` with every intermediate below 2⁶³ — the
    * [[Sampling.knuthSlot32]] hi/lo split, parameterized by the
    * multiplier: node ids are only bounded by Long, and a direct
    * `x * 2654435761L` overflows (an ARITHMETIC_OVERFLOW error under
    * ANSI mode) for ids above ~3.4e9 — exactly the ids a 100-TB web
    * graph assigns. All reductions are power-of-two, so every `mod` is
    * a bitwise AND (identical to pmod on these operands, two's
    * complement low bits — incl. negative x — and ~5× cheaper than the
    * division pmod compiles to: the round-15 A/B clawed back the
    * regression the pmod chain cost q_triangles_approx). */
  private def mulMod32(x: Column, m: Long): Column = {
    val r  = x.bitwiseAND(lit(4294967295L)) // = pmod(x, 2^32), non-negative
    val hi = (shiftright(r, 16) * lit(m)).bitwiseAND(lit(65535L))
    val lo = r.bitwiseAND(lit(65535L)) * lit(m)
    (hi * lit(65536L) + lo).bitwiseAND(lit(4294967295L))
  }

  /** The DOULION edge coin: Knuth-multiplicative mix of the canonical
    * pair, mod 2³², then mod 100 — deterministic, partition-invariant,
    * and exactly reproducible in BIGINT SQL (`(u·2654435761 + v·40503)
    * % 2^32 % 100`, which the oracle may write directly because ITS
    * fixture ids keep the products inside BIGINT; the engine side uses
    * the overflow-free [[mulMod32]] split so the identity holds for ALL
    * Long ids). The coin is deliberately PARAMETER-FREE — two consumers
    * of the same graph always agree on which edges survived, and the
    * published DOULION variance model assumes triangles sharing an edge
    * share that edge's single coin. */
  private[operators] def edgeCoinSlot(u: Column, v: Column): Column =
    (mulMod32(u, 2654435761L) + mulMod32(v, 40503L))
      .bitwiseAND(lit(4294967295L)) % lit(100L)

  def triangleEstimate(edges: DataFrame, srcCol: String, dstCol: String,
                       pPct: Int): DataFrame = {
    require(pPct > 0 && pPct <= 100, s"pPct must be in (0,100], got $pPct")
    val und = canonicalUndirected(edges, srcCol, dstCol)
    val sampled = und.filter(
      edgeCoinSlot(col("u"), col("v")) < lit(pPct.toLong))
    val scale = math.pow(100.0 / pPct, 3)
    triangleRowsOf(sampled)
      .agg(count(lit(1)).as("sampled_triangles"))
      .crossJoin(sampled.agg(count(lit(1)).as("sampled_edges")))
      .select(lit(pPct).as("p_pct"), col("sampled_edges"),
        col("sampled_triangles"),
        (col("sampled_triangles").cast("double") * lit(scale))
          .as("est_triangles"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007), fixed round
    * count, fully deterministic: every node starts labeled with its own
    * id; each round every node simultaneously adopts the label that is
    * most frequent among its neighbors, ties broken toward the SMALLEST
    * label. Community detection at corpus scale — domain clusters in a
    * link graph, topic groups in a doc-similarity graph — without the
    * O(V²) of modularity methods.
    *
    * Determinism is the design point: the usual LPA randomizes update
    * order and tie-breaks, making results unreproducible; fixing
    * synchronous rounds + min-label ties makes the output a pure function
    * of the graph, so the oracle replays the identical rounds in SQL and
    * the hashes must match. (Synchronous LPA can oscillate between two
    * labelings on bipartite structure rather than converge — with a FIXED
    * horizon that is still a well-defined deterministic output, and the
    * fixture graph's labeling is checked by the spec against an
    * independent reference.)
    *
    * Scale shape: per round ONE join (adjacency ⋈ labels on the neighbor
    * end — labels is |V| rows, AQE-broadcastable) + one (node, label)
    * partial-aggregated count + one node-keyed argmax, expressed as
    * max(struct(cnt, −label)) so it partial-aggregates too — no per-node
    * window sort anywhere. Labels checkpoint every `checkpointEvery`
    * rounds, same loop discipline as [[pageRank]].
    *
    * @return (node, lab) — one row per node of the canonical undirected
    *         graph; `lab` is the surviving community representative id
    */
  /** `edgesSymmetricDeduped = true` asserts the caller's frame is
    * already the MATERIALIZED symmetric adjacency — distinct, both
    * directions present, self-loop-free (e.g. a shared checkpointed
    * bipartite frame) — and uses it directly: for such a frame the
    * internal canonicalize + re-symmetrize + checkpoint reproduces the
    * input exactly, so skipping it is identity, not approximation. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int, checkpointEvery: Int = 5,
                       edgesSymmetricDeduped: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")

    val adj = if (edgesSymmetricDeduped)
      edges.select(col(srcCol).cast("long").as("a"),
                   col(dstCol).cast("long").as("b"))
    else {
      val und = canonicalUndirected(edges, srcCol, dstCol)
      Materialize(
        und.select(col("u").as("a"), col("v").as("b"))
          .unionAll(und.select(col("v").as("a"), col("u").as("b"))))
    }
    var labels = adj.select(col("a").as("node")).distinct()
      .withColumn("lab", col("node"))
    var cut = labels // the last materialized round (released once superseded)
    for (i <- 1 to iters) {
      val counts = adj.join(labels, adj("b") === labels("node"))
        .groupBy(adj("a"), col("lab")).agg(count(lit(1)).as("cnt"))
      labels = counts
        .groupBy(col("a"))
        .agg(max(struct(col("cnt"), (-col("lab")).as("nl"))).as("m"))
        .select(col("a").as("node"), (-col("m.nl")).as("lab"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters) {
        labels = Materialize(labels)
        Materialize.release(cut)
        cut = labels
      }
    }
    labels
  }

  /** Multi-source bounded-hop BFS: exact shortest hop-distance from ANY
    * source node, for every node reachable within `maxHops`. The classic
    * "k-hop neighborhood" primitive — seed-set expansion (crawl frontier
    * from trusted seeds), contamination radius (everything within k links
    * of a known-bad page), and locality features for ranking.
    *
    * Pure integer min over actual paths ⇒ deterministic and hash-exact
    * cross-engine: the oracle replays it as `maxHops` unrolled
    * Bellman-Ford relaxation rounds (min over dist ∪ dist+1-via-edge),
    * which provably agrees with frontier BFS at every horizon.
    *
    * Scale shape: per hop ONE join keyed on src (frontier is the
    * newly-reached nodes ONLY, so the join input shrinks as the wavefront
    * saturates — not the whole distance table) and ONE node-keyed
    * partial-aggregated min. The distance frame is checkpointed every
    * round (it feeds both the next frontier and the final output), and an
    * empty frontier short-circuits the remaining hops — on a graph whose
    * diameter is smaller than `maxHops` the loop pays only diameter
    * rounds. Nothing touches the driver except the one-row emptiness
    * probe per hop; output is at most |V| rows.
    *
    * @param sources frame whose `sourceCol` holds the seed node ids
    *                (deduplicated internally; seeds get dist 0)
    * @return (node, dist) — one row per node with hop-distance ≤ maxHops
    */
  /** `edgesDeduped = true`: the caller's frame is already distinct AND
    * materialized — use it as the per-hop join side directly (identical
    * output; duplicate edges under the flag would only repeat identical
    * min-relaxations, but the contract keeps the claim honest). */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
                   sources: DataFrame, sourceCol: String,
                   maxHops: Int, edgesDeduped: Boolean = false): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")

    val eRaw = edges.select(col(srcCol).cast("long").as("src"),
                            col(dstCol).cast("long").as("dst"))
    val e = if (edgesDeduped) eRaw else Materialize(eRaw.distinct())
    var dist = Materialize(
      sources.select(col(sourceCol).cast("long").as("node")).distinct()
        .withColumn("dist", lit(0)))
    var frontier = dist
    var h = 1
    var saturated = false
    while (h <= maxHops && !saturated) {
      val next = frontier.join(e, frontier("node") === e("src"))
        .select(e("dst").as("node"), lit(h).as("dist"))
      // relax: a node reached before keeps its smaller distance, so the
      // post-min rows AT h are exactly the first-time-reached frontier
      val prev = dist
      dist = Materialize(
        dist.unionAll(next).groupBy(col("node"))
          .agg(min(col("dist")).as("dist")))
      Materialize.release(prev)
      frontier = dist.filter(col("dist") === h)
      saturated = frontier.isEmpty
      h += 1
    }
    if (!edgesDeduped) Materialize.release(e) // the result no longer reads it
    dist
  }

  /** Bounded-hop WEIGHTED shortest distances (distributed Bellman-Ford
    * with a changed-set frontier): exact minimum path COST from any seed
    * over ≤ `maxRounds` edges, positive integer weights. The cost-aware
    * sibling of [[bfsDistances]] — routing cost, weighted influence
    * radius, cheapest-provenance chains.
    *
    * Round r of frontier Bellman-Ford provably equals full Bellman-Ford's
    * d_r (min cost over paths of ≤ r edges): a node that did NOT improve
    * in round r−1 already contributed its relaxations the round after it
    * last improved, and `min` keeps them — so re-relaxing it would change
    * nothing, and skipping it is pure savings. The oracle replays FULL
    * relaxation rounds (no frontier) and the hashes must match.
    *
    * Exactness: integer min/plus only — associative, order-independent,
    * no float accumulation — so the result is bit-identical across
    * engines and partitionings. Multi-edges collapse to their MIN weight
    * up front (the only weight a shortest path can use).
    *
    * Scale shape: per round one src-keyed join of the CHANGED set against
    * the edge list + one node-keyed partial min + one improvement
    * anti-check (node-keyed left join); distances checkpoint every round;
    * an empty changed-set short-circuits — on converged graphs the loop
    * pays the true relaxation depth, not `maxRounds`.
    *
    * @return (node, dist) — min cost over ≤ maxRounds edges, reached
    *         nodes only */
  def weightedDistances(edges: DataFrame, srcCol: String, dstCol: String,
                        weightCol: String, sources: DataFrame,
                        sourceCol: String, maxRounds: Int,
                        // caller attests `edges` is already unique per
                        // (src, dst) with the per-pair MIN weight AND
                        // materialized (checkpointed) — the shared
                        // bipartite edge cache — so the internal
                        // aggregation + checkpoint would be a pure re-pay
                        // of an exchange the frame already went through.
                        // Identity with the default path is pinned by the
                        // GraphSpec flag-equality test.
                        edgesPreAggregated: Boolean = false): DataFrame = {
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")

    val eBase = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"),
      col(weightCol).cast("long").as("w"))
    val e =
      if (edgesPreAggregated) eBase
      else Materialize(
        eBase.groupBy(col("src"), col("dst")).agg(min(col("w")).as("w")))
    var dist = Materialize(
      sources.select(col(sourceCol).cast("long").as("node")).distinct()
        .withColumn("dist", lit(0L)))
    var changed = dist
    var r = 1
    var converged = false
    while (r <= maxRounds && !converged) {
      val cand = changed.join(e, changed("node") === e("src"))
        .select(e("dst").as("node"), (changed("dist") + e("w")).as("dist"))
      val relaxed = Materialize(
        dist.unionAll(cand).groupBy(col("node"))
          .agg(min(col("dist")).as("dist")))
      val prevChanged = changed
      changed = Materialize(
        relaxed.join(dist.select(col("node"), col("dist").as("__old")),
            Seq("node"), "left")
          .filter(col("__old").isNull || col("dist") < col("__old"))
          .select(col("node"), col("dist")))
      Materialize.release(dist)
      Materialize.release(prevChanged)
      dist = relaxed
      converged = changed.isEmpty
      r += 1
    }
    // the result reads neither the last changed-set (unless no round ran,
    // when it IS the result) nor the edge frame
    if (changed ne dist) Materialize.release(changed)
    if (!edgesPreAggregated) Materialize.release(e)
    dist
  }

  /** k-CORE decomposition by parallel batch peeling: repeatedly delete
    * every node whose degree within the surviving subgraph is < k; what
    * survives is the unique maximal subgraph of minimum degree ≥ k — the
    * standard dense-region extractor (spam link farms, community nuclei,
    * boilerplate template clusters in a doc-similarity graph).
    *
    * Output: (node, round) — the PEELING ROUND at which the node fell
    * (0-based), or round = −1 for core members. The round assignment is
    * not incidental: it is a CERTIFICATE. The batch-peeling rounds are
    * unique, and an assignment is the true peeling iff two local degree
    * conditions hold at every node (see [[kCoreViolations]]) — so the
    * iterative computation can be verified by pure joins, no re-peeling.
    *
    * Scale shape: per round one semi-join restriction of the adjacency
    * list + one degree aggregation (both key-partitioned on node), with
    * the adjacency frame checkpointed to truncate lineage — the same
    * loop discipline as [[pageRank]] / `Dedup.connectedComponents`. The
    * round count is bounded by the degeneracy ordering depth, small for
    * real graphs; a fixed bound of 200 rounds is a loud guard, not a
    * silent cap. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            checkpointEvery: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val maxRounds = 200

    val und = canonicalUndirected(edges, srcCol, dstCol)
    // symmetric adjacency among currently-alive nodes
    var adj = Materialize(
      und.select(col("u").as("a"), col("v").as("b"))
        .unionAll(und.select(col("v").as("a"), col("u").as("b"))))
    var cut = adj // the last materialized adjacency (released once superseded)
    var removed: DataFrame = null
    var round = 0
    var done = false
    while (!done) {
      require(round <= maxRounds,
        s"kCore: $maxRounds rounds exceeded")
      val deg = adj.groupBy(col("a")).agg(count(lit(1)).as("__d"))
      val surviving = deg.filter(col("__d") >= k).select(col("a"))
      // falls = alive nodes NOT surviving (covers degree-0 nodes, which
      // vanish from `deg` entirely once their last neighbor fell)
      val falls = adj.select(col("a")).distinct()
        .join(surviving, Seq("a"), "left_anti")
        .select(col("a").as("node"), lit(round).as("round"))
      val nFell = falls.count()
      if (nFell == 0L) done = true
      else {
        val prevRemoved = removed
        removed =
          if (removed == null) Materialize(falls)
          else Materialize(removed.unionAll(falls))
        Option(prevRemoved).foreach(Materialize.release)
        val next = adj
          .join(surviving, Seq("a"), "left_semi")
          .join(surviving.select(col("a").as("b")), Seq("b"), "left_semi")
          .select(col("a"), col("b"))
        if (checkpointEvery > 0 && (round + 1) % checkpointEvery == 0) {
          adj = Materialize(next)
          Materialize.release(cut)
          cut = adj
        } else adj = next
        round += 1
      }
    }
    val core = adj.select(col("a").as("node")).distinct()
      .select(col("node"), lit(-1).as("round"))
    val fell = if (removed == null) core.filter(lit(false)) else removed
    // isolated canonical-graph nodes can't exist (self-loops dropped,
    // every edge has two endpoints), so fell ∪ core covers the node set
    fell.unionAll(core)
  }

  /** Certificate gate for [[kCore]]: an assignment round(v) (−1 = core)
    * is THE batch peeling iff, with rank(v) = round(v) (core = +∞):
    *   - REMOVABLE: every removed v has < k neighbors u with
    *     rank(u) ≥ rank(v) (it was peelable at its claimed round);
    *   - SURVIVED: every v with rank(v) = r ≥ 1, and every core v, has
    *     ≥ k neighbors with rank(u) ≥ r−1 (resp. in the core) — it could
    *     NOT have been peeled a round earlier. (Round-0 nodes are vacuous:
    *     there is no earlier round.)
    * Soundness/completeness by induction on rounds: the conditions force
    * the claimed round-0 set to be exactly {deg < k}, then round 1, etc.
    * Pure joins over (node, round) + the edge list — fully independent of
    * the iterative loop. Also flags nodes the assignment misses or
    * invents. Violations only; oracle = empty relation. */
  def kCoreViolations(edges: DataFrame, srcCol: String, dstCol: String,
                      k: Int, assignment: DataFrame): DataFrame = {
    val inf = Long.MaxValue
    val rank = assignment.select(col("node"),
      when(col("round") === -1, lit(inf))
        .otherwise(col("round").cast("long")).as("rank"))
    val und = canonicalUndirected(edges, srcCol, dstCol)
    val adj = und.select(col("u").as("a"), col("v").as("b"))
      .unionAll(und.select(col("v").as("a"), col("u").as("b")))
    // coverage both ways: every graph node assigned exactly once, no
    // phantom assignments
    val nodes = adj.select(col("a").as("node")).distinct()
    val coverage = nodes.join(rank, Seq("node"), "full_outer")
      .filter(col("rank").isNull || col("node").isNull)
      .select(coalesce(col("node"), lit(-999L)).as("node"),
        lit("coverage").as("issue"))
    val dup = assignment.groupBy(col("node")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .select(col("node"), lit("duplicate_assignment").as("issue"))
    val j = adj
      .join(rank.select(col("node").as("a"), col("rank").as("ra")), Seq("a"))
      .join(rank.select(col("node").as("b"), col("rank").as("rb")), Seq("b"))
    val perNode = j.groupBy(col("a"), col("ra"))
      .agg(sum(when(col("rb") >= col("ra"), 1L).otherwise(0L)).as("geq_same"),
        sum(when(col("rb") >= col("ra") - 1, 1L).otherwise(0L)).as("geq_prev"),
        sum(when(col("rb") === inf, 1L).otherwise(0L)).as("in_core"))
    val removable = perNode.filter(col("ra") =!= inf && col("geq_same") >= k)
      .select(col("a").as("node"), lit("not_removable_at_round").as("issue"))
    val survived = perNode.filter(
        (col("ra") =!= inf && col("ra") >= 1 && col("geq_prev") < k) ||
          (col("ra") === inf && col("in_core") < k))
      .select(col("a").as("node"), lit("peeled_too_late").as("issue"))
    coverage.unionAll(dup).unionAll(removable).unionAll(survived)
  }

  /** Error-bound gate for [[triangleEstimate]]: recompute the exact global
    * count T and the shared-edge pair count k = Σ_e C(support(e), 2), form
    * the DOULION variance bound above, and emit a violation row iff
    * `|est − T| > 6·sqrt(Var)`. Six standard deviations is conservative
    * even by Chebyshev (p ≤ 1/36), and the hash-deterministic sample makes
    * the check stable run to run; violations only — oracle = empty
    * relation.
    *
    * ONE wedge join, not two: the exact triangle rows are materialized
    * once (eager checkpoint, same AQE-preserving discipline as
    * [[Dedup.connectedComponents]]) and then T, the per-edge supports,
    * AND the DOULION sampled count are all read off that one frame —
    * sampling cannot CREATE a triangle, so the sampled graph's triangles
    * are exactly the full-graph triangles whose three edges all survive
    * the deterministic coin, and the re-derived count (hence the
    * estimate) is bit-identical to [[triangleEstimate]]'s without paying
    * its second, sampled wedge join. Before this the gate re-ran the
    * full exact wedge join per consumer plus the sampled one — measured
    * ~2× the cost of the exact query it gates. */
  def triangleEstimateViolations(edges: DataFrame, srcCol: String,
                                 dstCol: String, pPct: Int): DataFrame = {
    require(pPct > 0 && pPct <= 100, s"pPct must be in (0,100], got $pPct")
    val tris = Materialize(
      triangleRowsOf(canonicalUndirected(edges, srcCol, dstCol)))
    // support(e) per canonical undirected edge of each triangle
    val triEdges = tris.select(explode(array(
        struct(least(col("ta"), col("tb")).as("eu"),
               greatest(col("ta"), col("tb")).as("ev")),
        struct(least(col("ta"), col("c")).as("eu"),
               greatest(col("ta"), col("c")).as("ev")),
        struct(least(col("tb"), col("c")).as("eu"),
               greatest(col("tb"), col("c")).as("ev")))).as("e"))
      .groupBy(col("e")).agg(count(lit(1)).as("ce"))
    val kRow = triEdges
      .agg(coalesce(sum(col("ce") * (col("ce") - 1) / 2), lit(0L)).as("k"))
    val tRow = tris.agg(count(lit(1)).as("t"))
    // the estimate, re-derived from the SAME frame: a triangle survives
    // DOULION sparsification iff all three of its canonical edges pass
    // the edge coin — the identical [[edgeCoinSlot]] triangleEstimate flips
    def coin(a: Column, b: Column): Column =
      edgeCoinSlot(least(a, b), greatest(a, b)) < lit(pPct.toLong)
    val scale = math.pow(100.0 / pPct, 3)
    val estRow = tris
      .filter(coin(col("ta"), col("tb")) && coin(col("ta"), col("c")) &&
        coin(col("tb"), col("c")))
      .agg(count(lit(1)).as("sampled_triangles"))
      .select((col("sampled_triangles").cast("double") * lit(scale))
        .as("est_triangles"))
    val p = pPct / 100.0
    val varExpr = col("t").cast("double") * lit(1.0 / (p * p * p) - 1.0) +
      lit(2.0) * col("k").cast("double") * lit(1.0 / p - 1.0)
    estRow
      .crossJoin(tRow).crossJoin(kRow)
      .withColumn("__bound", lit(6.0) * sqrt(varExpr))
      .filter(abs(col("est_triangles") - col("t").cast("double")) >
        col("__bound") + lit(1e-9))
      .select(lit("__GLOBAL__").as("subject"),
        lit("triangle_estimate_outside_6_sigma").as("issue"))
  }
}
