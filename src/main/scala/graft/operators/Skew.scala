package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities (100 TB posture, SURVEY.md §4): when one group
  * key holds a disproportionate share of rows, a plain `groupBy` funnels that
  * key through a single reducer. Salting splits each key across `numSalts`
  * sub-groups for a partial aggregate, then combines partials — two small
  * shuffles instead of one skew-bound shuffle.
  *
  * For skewed JOINS, adaptive execution already splits oversized partitions
  * (`spark.sql.adaptive.skewJoin.enabled`, on by default); this helper covers
  * the aggregation case AQE does not.
  */
object Skew {

  /** Scale-ADAPTIVE scan spreader (guide §2.5 "one huge unsplittable
    * file → repartition immediately after the read"): the bench SF dirs
    * ship each table as ONE parquet file with ONE row group, so every
    * query's pre-exchange stage plans a SINGLE task regardless of core
    * count — per-row decode, payload synthesis, tokenization and HOF
    * chains all ran single-threaded. Round-robin repartition to
    * `defaultParallelism` (cores locally, cluster width on a real
    * deployment) restores stage-1 parallelism for the price of one
    * exchange of the frame's bytes.
    *
    * Applied SELECTIVELY at measured per-row-HEAVY stages, not blanket
    * in `QueryRegistry.t`: an A/B of the blanket form showed
    * multi-stage ladders
    * (q_curate_multimodal 6.7 → 12.0 s) losing more to ×cores task
    * scheduling across their ~15 tiny stages than the wide scan gains,
    * while decode/synthesis stages win big (q_pdf_unicode −80%). Call
    * it where one row costs real CPU.
    *
    * Adaptive, not constant-tuned: the probe fires ONLY when the frame
    * plans FEWER partitions than the session's parallelism — on a real
    * multi-row-group / multi-file table (any production layout, any
    * 100 TB run) the scan is already wide and this is a literal no-op,
    * so no query pays a corpus-wide reshuffle at scale. The explicit
    * partition COUNT pins the shuffle's origin as REPARTITION_BY_NUM,
    * which AQE's small-partition coalescing deliberately leaves alone —
    * otherwise the kilobyte-scale frame would be coalesced straight
    * back to one partition. Row-level semantics are unchanged (same
    * multiset; every consumer is partitioning-invariant by the
    * engine's oracle contract). */
  def spread(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= want) df
    else df.repartition(want)
  }

  /** Algebraic aggregate spec: function name, input column, output alias.
    * Supported: sum, count, min, max (the decomposable aggregates — avg
    * callers compose sum/count). */
  final case class AggSpec(func: String, column: String, alias: String)

  /** Two-phase salted aggregation. Results are identical to
    * `df.groupBy(keys).agg(...)` for decomposable aggregates.
    *
    * `saltCols` names the columns hashed into the salt; default = all
    * columns. CAVEAT: because the salt is a deterministic row-hash (see the
    * inline note for why an RNG/monotonic id is unsafe), FULLY IDENTICAL
    * rows always share a salt bucket — a hot key consisting of verbatim
    * duplicate rows is NOT spread by the default. When the data has a
    * unique/near-unique column (an id, a timestamp, a lineage column), pass
    * it as `saltCols` to restore uniform spreading with the same
    * retry-safety. */
  def saltedAggregate(df: DataFrame, keys: Seq[String], aggs: Seq[AggSpec],
                      numSalts: Int = 32,
                      saltCols: Seq[String] = Nil): DataFrame = {
    require(numSalts > 0)
    require(!df.columns.contains("__salt"),
      "saltedAggregate: input already has a __salt column — it would be " +
        "silently overwritten (and hashed into itself via the default " +
        "saltCols); rename it or salt explicitly")
    val partial: Seq[Column] = aggs.zipWithIndex.map { case (a, i) =>
      val c = col(a.column)
      (a.func match {
        case "sum"   => sum(c)
        case "count" => count(c)
        case "min"   => min(c)
        case "max"   => max(c)
        case other   => throw new IllegalArgumentException(
          s"non-decomposable aggregate: $other")
      }).as(s"__partial_$i")
    }
    val combine: Seq[Column] = aggs.zipWithIndex.map { case (a, i) =>
      val c = col(s"__partial_$i")
      (a.func match {
        case "sum" | "count" => sum(c)
        case "min"           => min(c)
        case "max"           => max(c)
      }).as(a.alias)
    }
    // DETERMINISTIC salt: hash of the whole row, not
    // monotonically_increasing_id — the latter changes across task retries
    // (its value depends on partition layout), so a shuffle-fetch failure
    // re-salting recomputed rows differently would double-count or drop
    // rows mid-aggregate (the SPARK-23207 correctness class). A row-hash
    // salt is stable under recomputation; identical rows sharing a salt is
    // harmless for decomposable aggregates (correctness), though it skips
    // spreading verbatim-duplicate hot rows (see scaladoc / saltCols).
    val saltInput = if (saltCols.nonEmpty) saltCols else df.columns.toSeq
    df.withColumn("__salt",
        pmod(hash(saltInput.map(col): _*), lit(numSalts)))
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(partial.head, partial.tail: _*)
      .groupBy(keys.map(col): _*)
      .agg(combine.head, combine.tail: _*)
  }

  /** Salted inner equi-join for skewed PROBE keys: each probe row gets a
    * deterministic salt in [0, numSalts); the (small) build side is
    * replicated once per salt value; the join runs on (keys..., salt). A
    * hot probe key's rows now spread across `numSalts` shuffle partitions
    * instead of funneling through one reducer — the manual form of AQE's
    * skew-join split for plans AQE cannot rewrite (e.g. under a
    * deterministic-repartition contract, or when the skew only manifests
    * downstream of the stage boundary AQE sizes on).
    *
    * Result is identical to `probe.join(build, keys)`: salting only refines
    * the partitioning, never the match predicate — every (probe, build)
    * key match still meets on exactly one salt value.
    *
    * COST: the build side is materialized `numSalts` times into the
    * exchange. Keep the build side dimension-sized (or use a plain
    * broadcast join, which needs no salt at all); the operator exists for
    * build sides too big to broadcast but far smaller than the probe.
    *
    * The salt is a hash of the whole probe row (see [[saltedAggregate]] for
    * why an RNG/monotonic id is unsafe under task retries); verbatim
    * duplicate probe rows share a salt, which skews only if one exact row
    * dominates — pass a finer `saltCols` when the probe has a unique id. */
  def saltedJoin(probe: DataFrame, build: DataFrame, keys: Seq[String],
                 numSalts: Int = 8, saltCols: Seq[String] = Nil): DataFrame = {
    require(numSalts > 0)
    // A pre-existing __salt would be overwritten on the probe (changing the
    // salt input and dropping the caller's column) and would collide on the
    // build — either breaks the documented probe.join(build, keys)
    // equivalence, so refuse instead.
    require(!probe.columns.contains("__salt") && !build.columns.contains("__salt"),
      "saltedJoin: input already has a __salt column — rename it first")
    val saltInput = if (saltCols.nonEmpty) saltCols else probe.columns.toSeq
    val p = probe.withColumn("__salt",
      pmod(hash(saltInput.map(col): _*), lit(numSalts)))
    val b = build.withColumn("__salt",
      explode(sequence(lit(0), lit(numSalts - 1))))
    p.join(b, keys :+ "__salt").drop("__salt")
  }

  /** Salted broadcast of a hot-key filter: splits `df` on membership of
    * `keyCol` in `hotKeys` so callers can union a broadcast-joined hot slice
    * with a shuffle-joined long tail — the manual form of AQE's skew join for
    * engines/plans where AQE cannot see the skew. */
  def splitHotKeys(df: DataFrame, keyCol: String, hotKeys: Seq[Any])
      : (DataFrame, DataFrame) =
    (df.filter(col(keyCol).isin(hotKeys: _*)),
     df.filter(!col(keyCol).isin(hotKeys: _*) || col(keyCol).isNull))

  /** Measure-then-salt: detect keys whose row share exceeds `threshold`
    * (fraction of total rows) with a count-min sketch — one narrow pass, a
    * few KB of sketch state on the driver, NO exact groupBy over the
    * possibly-billions-key space. Candidates come from a bounded uniform
    * sample (~20/threshold rows): a key with share ≥ t lands in it with
    * probability ≥ 1 - e^-20, so truly-hot keys are effectively never
    * missed, and because CMS only OVERestimates, the sketch's point query
    * cannot un-detect them; the occasional near-threshold false positive
    * just costs an extra broadcast-slice entry. Feed the result to
    * [[splitHotKeys]] or use it to size [[saltedAggregate]]'s salts. */
  def detectHotKeys(df: DataFrame, keyCol: String, threshold: Double): Seq[Any] = {
    require(threshold > 0 && threshold <= 1)
    val total = df.count()
    if (total == 0) return Seq.empty
    val sketch = df.stat.countMinSketch(col(keyCol), 0.0001, 0.99, seed = 42)
    val sampleRows = math.max(10000.0, 20.0 / threshold)
    val frac = math.min(1.0, sampleRows / total)
    val candidates = df.select(col(keyCol)).na.drop()
      .sample(withReplacement = false, frac, seed = 42)
      .distinct().collect().map(_.get(0))
    candidates.filter { k =>
      sketch.estimateCount(k).toDouble / total >= threshold
    }.toSeq
  }
}
