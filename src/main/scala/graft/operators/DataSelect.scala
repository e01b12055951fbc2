package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize

/** DSIR-style data selection (Xie, Santurkar, Ma & Liang, "Data Selection
  * for Language Models via Importance Resampling", NeurIPS 2023): score
  * every RAW document by how much more likely its hashed n-gram features
  * are under a TARGET corpus' feature distribution than under the raw
  * corpus' own — the standard recipe for skimming web-scale crawl toward
  * a quality/domain target before pretraining.
  *
  *   logw(doc) = Σ_occurrences [ ln p̂_T(bucket) − ln p̂_R(bucket) ]
  *
  * over hashed unigram+bigram feature OCCURRENCES, with add-one-smoothed
  * bucket probabilities p̂(b) = (c_b + 1)/(n + B). Hashing n-grams into a
  * fixed B-bucket space is what makes the estimator 100-TB-viable: the
  * distribution state is two B-row tables however large either corpus is.
  *
  * Determinism (hash-oracle contract): the bucket hash is the engine-
  * portable md5 prefix (`conv(substr(md5(f),1,8),16,10) % B` ≡ DuckDB's
  * `CAST('0x'||substr(md5(f),1,8) AS BIGINT) % B` — the q_dedup_url md5
  * equivalence), each ln is rounded to 6dp (the repo-wide libm pin), the
  * difference and the per-doc sum are exact decimal arithmetic, and the
  * final cast to double maps the exact decimal to its nearest double
  * identically on both engines.
  *
  * Scale shape: feature extraction is NARROW (token-array transforms, no
  * self-joins); bucket counts partial-aggregate into B-row tables; the
  * B-row log-ratio table broadcasts back into the per-doc sum (the
  * unigram-LM layout); selection is orderBy+limit = TakeOrdered, never a
  * global sort materialization. The raw feature frame is materialized
  * once ([[graft.Materialize]]) because both the raw bucket counts and the
  * per-doc scoring read it. */
object DataSelect {

  /** One row per hashed feature OCCURRENCE: unigrams + adjacent bigrams
    * of the cleaned token stream, bucketed into [0, buckets). */
  def featureBuckets(df: DataFrame, idCol: String, textCol: String,
                     buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    // bind the token array to an attribute first (the measured O(tokens²)
    // lesson from bigramLogProb)
    val tk = Dedup.cleanTokens(col(textCol))
    df.select(col(idCol), tk.as("__tk"))
      .select(col(idCol), explode(concat(
        col("__tk"),
        when(size(col("__tk")) >= 2,
          transform(sequence(lit(0), size(col("__tk")) - 2),
            i => concat_ws(" ", element_at(col("__tk"), i + 1),
              element_at(col("__tk"), i + 2))))
          .otherwise(array().cast("array<string>")))).as("feat"))
      .select(col(idCol),
        (conv(substring(md5(col("feat")), 1, 8), 16, 10).cast("long")
          % buckets).as("bucket"))
  }

  /** Per-doc DSIR log importance weights for every `raw` doc:
    * (idCol, n_feat, logw) — docs with no features keep n_feat = 0 and a
    * NULL weight. `target` needs only its text column. */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
                  textCol: String, buckets: Int): DataFrame =
    weightsFromFeatures(
      // read twice: raw bucket counts + scoring
      Materialize(featureBuckets(raw, idCol, textCol, buckets)),
      raw.select(col(idCol)), target, idCol, textCol, buckets)

  /** Weight derivation from an already-extracted raw feature frame
    * (idCol, bucket) plus the raw id set. Split out because the
    * STREAMING twin extracts features per micro-batch and must derive
    * the identical weights from the unioned frames — its stream ≡ batch
    * full-hash gate depends on sharing this code. */
  def weightsFromFeatures(rawFeats: DataFrame, rawIds: DataFrame,
                          target: DataFrame, idCol: String, textCol: String,
                          buckets: Int): DataFrame = {
    val ct = featureBuckets(
      target.select(col(textCol)).withColumn("__id", lit(1L)),
      "__id", textCol, buckets)
      .groupBy(col("bucket")).agg(count(lit(1)).as("ct"))
    val cr = rawFeats.groupBy(col("bucket")).agg(count(lit(1)).as("cr"))
    val nT = ct.agg(coalesce(sum(col("ct")), lit(0L)).as("nt"))
    val nR = cr.agg(coalesce(sum(col("cr")), lit(0L)).as("nr"))
    // only buckets some raw doc touches matter (cr ≥ 1 by construction);
    // add-one smoothing keeps target-absent buckets finite
    val lr = cr.join(ct, Seq("bucket"), "left")
      .crossJoin(broadcast(nT)).crossJoin(broadcast(nR))
      .select(col("bucket"),
        (round(log((coalesce(col("ct"), lit(0L)).cast("double") + 1.0) /
            (col("nt").cast("double") + buckets.toDouble)), 6)
          .cast("decimal(18,6)") -
         round(log((col("cr").cast("double") + 1.0) /
            (col("nr").cast("double") + buckets.toDouble)), 6)
          .cast("decimal(18,6)")).as("lr"))
    val perDoc = rawFeats.join(lr, "bucket")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feat"), sum(col("lr")).as("__slw"))
      .select(col(idCol), col("n_feat"),
        col("__slw").cast("double").as("logw"))
    rawIds.join(perDoc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_feat"), lit(0L)).as("n_feat"),
        col("logw"))
  }

  /** Deterministic top-k selection under (logw DESC, id ASC) — the
    * paper's top-k variant of importance resampling (the Gumbel-noise
    * sampler is one extra column away; top-k is what hash-oracles).
    * Featureless docs are excluded (no evidence either way). */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
                 textCol: String, k: Int, buckets: Int): DataFrame =
    dsirWeights(raw, target, idCol, textCol, buckets)
      .filter(col("n_feat") > 0)
      .orderBy(col("logw").desc, col(idCol))
      .limit(k)

  /** 2-D Pareto front (maximize both integer criteria): the rows no
    * other row dominates, where p dominates q iff p ≥ q in both
    * coordinates and > in at least one. The data-selection shape —
    * "which documents are optimal in (length budget, vocabulary
    * richness)" — without scoring weights to tune.
    *
    * Shape at scale: rows collapse ONCE to the x-DOMAIN frame (per-x
    * max of y — one combining shuffle), the strict-greater-x running
    * max runs as a window over that DOMAIN frame, and survivors join
    * back broadcast. With `groupCols` the window partitions per group
    * (a front per language/source/split); without, it is unpartitioned
    * ON PURPOSE — its input is one row per distinct x, so the frame is
    * domain-sized, never row-sized. Quantize x first if its domain is
    * unbounded (the same contract as [[ZOrder.zorderWrite]]'s 16-bit
    * keys). The range frame needs integer x (asserted by cast).
    *
    * Equal points are BOTH kept (neither strictly dominates); a point
    * tied with the running max at strictly larger x is dominated (the
    * strict part comes from x) and dropped. */
  def paretoFront2D(df: DataFrame, xCol: String, yCol: String,
                    groupCols: Seq[String] = Seq.empty): DataFrame = {
    val grp = groupCols.map(col)
    val pts = df.withColumn("__px", col(xCol).cast("long"))
      .withColumn("__py", col(yCol).cast("long"))
      .filter(col("__px").isNotNull && col("__py").isNotNull)
    val perX = pts.groupBy(grp :+ col("__px"): _*)
      .agg(max(col("__py")).as("__ymax"))
    // rows with STRICTLY greater x: descending order + integer range
    // frame ending 1 before the current value. With groupCols the
    // window partitions per group (a front per language/source/split);
    // without, it spans the whole — but always the x-DOMAIN frame.
    val w = Window.partitionBy(grp: _*).orderBy(col("__px").desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val front = perX
      .withColumn("__prev", max(col("__ymax")).over(w))
      .filter(col("__prev").isNull || col("__ymax") > col("__prev"))
      .select(groupCols.map(g => col(g).as("__g" + g)) :+
        col("__px").as("__fx") :+ col("__ymax").as("__fy"): _*)
    // Null-safe equality on group keys: a NULL group is a real window
    // partition above, so the join-back must match it too (the repo's
    // null-safe-key convention — see streaming/NullSegmentSpec).
    val joinCond = (groupCols.map(g => col(g) <=> col("__g" + g)) :+
      (col("__px") === col("__fx")) :+ (col("__py") === col("__fy")))
      .reduce(_ && _)
    pts.join(broadcast(front), joinCond)
      .drop((groupCols.map("__g" + _) ++
        Seq("__px", "__py", "__fx", "__fy")): _*)
  }
}
