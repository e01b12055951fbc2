package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for corpus construction — the operator that turns
  * "use 10% of web text but 100% of books" into a reproducible dataset.
  * Beyond-reference extension (SURVEY.md §7.1.9).
  *
  * Reproducibility is the design constraint: `df.sample()` draws from a
  * per-partition RNG, so its output changes with partitioning, task retries,
  * and engine version — unacceptable for training-data lineage. Instead the
  * keep-decision is a PURE FUNCTION of the row's id: Knuth multiplicative
  * hashing (id · 2654435761 mod 2^32 — the golden-ratio constant spreads
  * consecutive ids uniformly) taken mod 1000 yields a per-mille slot, and a
  * row survives iff its slot < the stratum's configured rate. The same row
  * therefore survives in every run, on every engine, at every scale — and
  * the whole operator is one shuffle-free codegen'd filter.
  *
  * The hash is computed with split 16-bit multiplication so every
  * intermediate stays below ~2^48: `id * K` naively overflows a BIGINT once
  * id exceeds ~3.47e9 — the JVM would wrap silently while ANSI engines
  * raise, breaking the cross-engine-reproducibility guarantee the operator
  * exists for. The split form is plain integer multiply/mod/divide —
  * expressible identically in ANSI SQL at ANY id, which is what makes the
  * operator DuckDB-oracle-able end to end.
  */
object Sampling {

  /** Knuth's multiplicative constant (2^32 / φ, odd). */
  val KnuthMultiplier = 2654435761L

  /** `id * K mod 2^32` without 64-bit overflow, for any non-negative id:
    * with x = id mod 2^32 split as hi·2^16 + lo,
    * `x·K mod 2^32 = ((hi·K mod 2^16)·2^16 + lo·K) mod 2^32`, and every
    * intermediate is ≤ 2^16·K < 2^48. Bit-identical to the naive product
    * for id ≤ 2^31 (every pre-existing oracle hash is unchanged). */
  def knuthSlot32(id: Column): Column = {
    val x  = pmod(id, lit(4294967296L))
    val hi = pmod(shiftright(x, 16) * KnuthMultiplier, lit(65536L))
    val lo = pmod(x, lit(65536L)) * KnuthMultiplier
    pmod(hi * 65536L + lo, lit(4294967296L))
  }

  /** Per-mille sampling slot of an id: hash to [0, 1000). */
  def perMilleSlot(id: Column): Column =
    knuthSlot32(id) % 1000

  /** Seeded double-Knuth slot — ONE definition of the seeding composition
    * shared by [[shuffleIntoShards]] and [[trainValTestSplit]], so their
    * identical cross-engine oracle contracts cannot drift apart. */
  private def seededSlot32(id: Column, seed: Long): Column = {
    require(seed >= 0 && seed < 4294967296L, "seed is a 32-bit value")
    knuthSlot32(knuthSlot32(id) + lit(seed))
  }

  /** Stratified deterministic sample: `rates` maps stratum value →
    * keep-rate in per-mille; strata not in the map keep no rows.
    * One narrow filter — no shuffle, no RNG, no driver state. */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       rates: Map[String, Int]): DataFrame = {
    require(rates.values.forall(r => r >= 0 && r <= 1000),
      "rates are per-mille: 0..1000")
    val rate = rates.foldLeft(lit(0)) { case (acc, (stratum, r)) =>
      when(col(stratumCol) === stratum, lit(r)).otherwise(acc)
    }
    df.filter(perMilleSlot(col(idCol)) < rate)
  }

  /** Deterministic corpus shuffle — training-order randomization as a pure
    * function of the ids, the property `df.orderBy(rand())` cannot give
    * (per-partition RNG: order changes with partitioning, retries, engine).
    * Each row's shuffle key is a seeded double Knuth hash
    * (`slot32(slot32(id) + seed)` — every intermediate overflow-free and
    * ANSI-expressible); `shard = key mod numShards` spreads documents
    * uniformly, `pos` ranks within the shard. Writers consume this as
    * `partitionBy(shard) + sortWithinPartitions(pos)` — the training-shard
    * layout, reproducible bit-for-bit at any scale, any engine.
    *
    * Scale shape: one window shuffle keyed by shard (the global sort a
    * naive `orderBy(hash)` would do is avoided — training order only needs
    * to be fixed WITHIN a shard, and shard assignment is already hashed). */
  def shuffleIntoShards(df: DataFrame, idCol: String, numShards: Int,
                        seed: Long): DataFrame = {
    require(numShards > 0, "numShards must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("__sk"), col(idCol))
    df.withColumn("__sk", seededSlot32(col(idCol), seed))
      .withColumn("shard", pmod(col("__sk"), lit(numShards.toLong)))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .drop("__sk")
  }

  /** Deterministic train/val/test split: the split index is a pure
    * function of the id — seeded double Knuth hash into a per-mille slot,
    * compared against the cumulative weight bounds — so every row lands
    * in exactly ONE split, the same one in every run, engine, and
    * partitioning (the lineage guarantee `randomSplit` cannot give: its
    * per-partition RNG re-deals rows on repartition or retry, silently
    * leaking val/test documents into train across pipeline versions).
    * Weights are per-mille and must sum to 1000 — no silently dropped
    * probability mass. Zero-weight splits are legal (weights (900,0,100)
    * = no val set). The split index lands in `split`. One codegen
    * filter-free projection: no shuffle. */
  def trainValTestSplit(df: DataFrame, idCol: String,
                        weightsPerMille: Seq[Int], seed: Long): DataFrame = {
    require(weightsPerMille.nonEmpty && weightsPerMille.forall(_ >= 0) &&
      weightsPerMille.sum == 1000,
      "per-mille split weights must be non-negative and sum to 1000")
    val slot = pmod(seededSlot32(col(idCol), seed), lit(1000L))
    val cum = weightsPerMille.scanLeft(0)(_ + _).tail
    val pick = cum.init.zipWithIndex.foldRight(lit(cum.size - 1): Column) {
      case ((bound, i), acc) => when(slot < bound, lit(i)).otherwise(acc)
    }
    df.withColumn("split", pick.cast("long"))
  }

  /** Temporal train/test split with an EMBARGO window — the time-series
    * counterpart of [[trainValTestSplit]]: id-hash splits leak when
    * nearby-in-time rows are near-duplicates (tomorrow's article quoting
    * today's lands in train while today's sits in test), so temporal
    * evaluation splits on TIME and additionally drops a gap after the
    * cutoff. Rows at or before `cutoffMicros` are `train`; rows strictly
    * after `cutoffMicros + embargoMicros` are `test`; rows inside the gap
    * are labeled `embargo` for the caller to discard (labeled, not
    * silently dropped — corpus-accounting needs the row count). The label
    * lands in `split`. Pure
    * codegen projection over an epoch-micros column: zero shuffle, and
    * the assignment is a function of the row's own timestamp — invariant
    * to partitioning, retries, and engine. */
  def temporalSplit(df: DataFrame, tsMicrosCol: String,
                    cutoffMicros: Long, embargoMicros: Long): DataFrame = {
    require(embargoMicros >= 0, "embargo must be non-negative")
    df.withColumn("split",
      when(col(tsMicrosCol) <= cutoffMicros, lit("train"))
        .when(col(tsMicrosCol) > cutoffMicros + embargoMicros, lit("test"))
        .otherwise(lit("embargo")))
  }

  /** Deterministic per-group "reservoir": rank each group's rows by the
    * Knuth slot of their id (id as tie-break) and keep the first `k` — an
    * exactly-k-per-group sample that is, like [[stratifiedSample]], a pure
    * function of the ids: invariant to partitioning, task retries, and
    * engine. One window shuffle on the group key (the hash order is
    * data-independent, so no sort-by-random nondeterminism). */
  def sampleKPerGroup(df: DataFrame, idCol: String, groupCol: String,
                      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(knuthSlot32(col(idCol)), col(idCol))
    df.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .drop("__rank")
  }

  /** Deterministic WEIGHTED top-k sample — priority sampling (Duffield,
    * Lund & Thorup, JACM'07): each row draws a pseudo-uniform
    * u = (slot+1)/2^32 from the seeded double Knuth hash of its id and
    * gets priority q = w/u; the k highest-priority rows are the sample.
    * Heavier rows win proportionally more often (a row with weight W is
    * sampled with probability ≈ min(1, W/τ) for the (k+1)-th priority τ —
    * the DLT estimator Σ max(w, τ) over the sample is unbiased for Σw).
    * Unlike rate-based [[stratifiedSample]], the output size is EXACTLY k.
    *
    * Reproducible like every sampler here: u is a pure function of
    * (id, seed), and the priority w·2^32/(slot+1) is two IEEE-double ops
    * in fixed order — an ANSI engine computes the identical double, so
    * the selected SET is engine-exact and DuckDB-oracle-able.
    *
    * Scale shape: priority is a narrow codegen projection;
    * orderBy+limit = TakeOrderedAndProject (per-partition heaps, no
    * global sort, no one-partition window). */
  def prioritySample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int, seed: Long): DataFrame = {
    require(k > 0, "k must be positive")
    val u1 = (seededSlot32(col(idCol), seed) + 1).cast("double")
    val q = col(weightCol).cast("double") * lit(4294967296.0) / u1
    df.filter(col(weightCol).isNotNull && col(weightCol) >= 0)
      .withColumn("__q", q)
      .orderBy(desc("__q"), col(idCol))
      .limit(k)
      .drop("__q")
  }

  /** Token-budget corpus mixing — "30% web, 50% books, 20% code, capped at
    * B tokens": each source's target is `share * totalTokenBudget`; its
    * acceptance rate is `min(1, target / actualTokens)`, applied as the same
    * deterministic Knuth-hash keep-decision as [[stratifiedSample]] (expected
    * sampled tokens ≈ target because the hash slot is independent of document
    * length by construction). Sources absent from `shares` are dropped.
    *
    * Scale shape: one partial-agg pass for the per-source token totals (the
    * per-source table is tiny — cardinality = number of corpora), thresholds
    * broadcast back, then one narrow filter over the corpus. No corpus
    * shuffle, no RNG, reproducible across partitioning/retries/engines.
    *
    * The threshold `floor(min(1, share·B/T) · 2^32)` is computed in IEEE
    * double in a fixed operation order, so an ANSI engine reproduces the
    * exact same sampled set — DuckDB-oracle-able like the plain sample. */
  def mixByTokenBudget(df: DataFrame, idCol: String, sourceCol: String,
                       tokenCol: String, shares: Map[String, Double],
                       totalTokenBudget: Long): DataFrame = {
    require(shares.values.forall(s => s >= 0.0 && s <= 1.0), "shares in [0,1]")
    val shareCol = shares.foldLeft(lit(0.0)) { case (acc, (s, f)) =>
      when(col(sourceCol) === s, lit(f)).otherwise(acc)
    }
    val thresholds = df.groupBy(col(sourceCol))
      .agg(sum(col(tokenCol).cast("long")).as("__t"))
      .select(col(sourceCol),
        floor(least(lit(1.0), shareCol * totalTokenBudget / col("__t"))
          * lit(4294967296.0)).cast("long").as("__thresh"))
    df.join(broadcast(thresholds), Seq(sourceCol), "left")
      .filter(knuthSlot32(col(idCol)) < coalesce(col("__thresh"), lit(0L)))
      .drop("__thresh")
  }

  /** Deterministic epoch-based UPSAMPLING — data mixing with repetition
    * ("books for 2.3 epochs, web for 0.5"): every row of a source with
    * epoch factor e gets ⌊e⌋ copies, and the rows whose per-mille Knuth
    * slot falls under the fractional remainder get one more — so the
    * repeated subset is a pure function of the ids (the SAME documents
    * repeat in every run/engine/partitioning — the lineage requirement),
    * and each source's expected multiplicity is exactly e. Sources absent
    * from `epochs` are dropped, like [[mixByTokenBudget]]. Output adds an
    * `epoch` column (0-based copy index) so downstream shuffling can
    * spread copies apart.
    *
    * Scale shape: one narrow projection + explode — no shuffle, no RNG,
    * no driver state beyond the literal epoch map. Fractions are fixed to
    * per-mille resolution (round(e·1000) on the driver), keeping every
    * engine-side comparison in exact integers. */
  def upsampleByEpochs(df: DataFrame, idCol: String, sourceCol: String,
                       epochs: Map[String, Double]): DataFrame = {
    require(epochs.nonEmpty && epochs.values.forall(e => e >= 0 && e <= 1000),
      "upsampleByEpochs: epoch factors must be in [0, 1000]")
    val perMille: Map[String, Long] =
      epochs.map { case (s, e) => s -> math.round(e * 1000) }
    val pm = perMille.foldLeft(lit(0L)) { case (acc, (s, p)) =>
      when(col(sourceCol) === s, lit(p)).otherwise(acc)
    }
    val rem = pmod(pm, lit(1000L))
    val base = ((pm - rem) / 1000L).cast("long")
    val n = base + when(perMilleSlot(col(idCol)) < rem, 1L).otherwise(0L)
    df.withColumn("__n", n)
      .filter(col("__n") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("__n") - 1)))
      .drop("__n")
  }

  /** Temperature-based multilingual mixing (the mT5/XLM-R α-sampling
    * recipe): language budgets proportional to (language token total)^α —
    * α < 1 upsamples low-resource languages relative to their natural
    * share — then a deterministic per-language take in Knuth-hash order
    * until the budget fills (admit while the INCLUSIVE running total
    * stays ≤ budget). Integer-exact end to end: α ∈ {1/2, 1/4} via the
    * exact integer roots ([[graft.expr.GenEvalOps.isqrt]]/`iroot4` —
    * float-seeded, integer-corrected, the same primitive the BLEU oracle
    * replays in SQL), budgets are floor divisions of the total budget by
    * the weight share, and the take is a per-language running-sum window
    * (|languages| partitions — bounded; swap in the distributed prefix
    * sum [[PrefixSum]] at extreme per-language volume).
    *
    * The language totals are collected to the driver — one row per
    * language, the bounded-model-collect class — so the per-row plan is
    * a literal budget lookup plus the window: no second join. Output
    * adds (n_tok, lang_budget, running). */
  def temperatureMix(df: DataFrame, idCol: String, langCol: String,
                     tokCol: Column, totalTokenBudget: Long,
                     quarterRoot: Boolean = false): DataFrame = {
    require(totalTokenBudget > 0, "totalTokenBudget must be positive")
    val totals = df.groupBy(col(langCol))
      .agg(sum(tokCol).cast("long").as("__t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    val weights = totals.map { case (l, t) =>
      l -> (if (quarterRoot) graft.expr.GenEvalOps.iroot4(t)
            else graft.expr.GenEvalOps.isqrt(t))
    }
    budgetedTake(df, idCol, langCol, tokCol, weights, totalTokenBudget,
      "lang_budget")
  }

  /** Authority-weighted corpus mixing — the link-analysis half of the
    * curator finally feeding the budget stage: per-key token budgets
    * proportional to isqrt(PageRank mass), so high-authority sources are
    * upsampled sublinearly (the same α = 1/2 tempering
    * [[temperatureMix]] applies to language size, applied to link
    * authority instead), then the identical deterministic Knuth-hash
    * take per key. `ranks` is (rankKeyCol, rankCol) — typically
    * [[Graph.pageRank]] mass aggregated to the key — and is collected to
    * the driver (one row per source: the bounded-model-collect class).
    * Integer-exact end to end: exact isqrt weights, BigInt floor-div
    * budgets, running-sum window — `rankCol` must therefore already BE
    * integer mass (micro-units of PageRank, token counts, …): it is
    * cast to long, and a fractional rank column would silently truncate,
    * so the cast is guarded by an in-plan check. Rows with a null key or
    * null rank are dropped before the collect (a null key cannot label a
    * budget; a null rank is zero evidence). Output adds (n_tok,
    * src_budget, running). */
  def rankWeightedMix(df: DataFrame, idCol: String, keyCol: String,
                      tokCol: Column, ranks: DataFrame, rankKeyCol: String,
                      rankCol: String, totalTokenBudget: Long): DataFrame = {
    require(totalTokenBudget > 0, "totalTokenBudget must be positive")
    val weights = ranks
      .filter(col(rankKeyCol).isNotNull && col(rankCol).isNotNull)
      // fail loudly on fractional mass instead of truncating it: the
      // guard lives inside the selected expression so it cannot prune
      .select(col(rankKeyCol).cast("string"),
        when(col(rankCol) === col(rankCol).cast("long"), col(rankCol).cast("long"))
          .otherwise(raise_error(concat(
            lit("rankWeightedMix: rankCol must be integer mass, got "),
            col(rankCol).cast("string")))))
      .collect()
      .map(r => r.getString(0) ->
        graft.expr.GenEvalOps.isqrt(math.max(r.getLong(1), 0L)))
      .toSeq.sortBy(_._1)
    budgetedTake(df, idCol, keyCol, tokCol, weights, totalTokenBudget,
      "src_budget")
  }

  /** The shared budget-and-take tail of the mixing operators: floor-div
    * budgets from the given weights, then the per-key admit-while-the-
    * inclusive-running-total-fits window in Knuth-hash order. */
  private def budgetedTake(df: DataFrame, idCol: String, keyCol: String,
                           tokCol: Column, weights: Seq[(String, Long)],
                           totalTokenBudget: Long,
                           budgetColName: String): DataFrame = {
    val wSum = weights.map(_._2).sum
    require(wSum > 0, "budgetedTake: all weights are zero")
    // BigInt product: at web scale (budget ~1e13 tokens, isqrt weights
    // ~1e6+) totalTokenBudget * w overflows Long silently; the quotient
    // itself is always ≤ totalTokenBudget, so only the product needs the
    // wide intermediate.
    val budgets: Map[String, Long] =
      weights.map { case (l, w) =>
        l -> (BigInt(totalTokenBudget) * w / wSum).toLong
      }.toMap
    val budgetCol = budgets.foldLeft(lit(0L)) { case (acc, (l, b)) =>
      when(col(keyCol) === l, lit(b)).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(knuthSlot32(col(idCol)).asc, col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("n_tok", tokCol.cast("long"))
      .withColumn(budgetColName, budgetCol)
      .withColumn("running", sum(col("n_tok")).over(w))
      .filter(col("running") <= col(budgetColName))
  }
}
