package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize

/** Multinomial Naive Bayes text classification — the trained document
  * classifier of a pretraining-data pipeline (CCNet / LLaMA-style quality
  * and language filtering score documents with exactly this shape of model:
  * a linear scorer over token counts with class priors). Beyond-reference
  * extension; complements the rule-based [[TextAnalysis.qualityFilter]]
  * with a model TRAINED on labeled data.
  *
  * Spark-first shape, all heavy shuffles on natural keys:
  *   1. train tokens → groupBy (label, term) count       [shuffle: label+term]
  *   2. label totals + vocab grid                        [vocab-sized]
  *   3. score tokens ⋈ broadcast(log-prob table)         [shuffle: doc+label]
  *   4. argmax per doc via one doc-keyed window          [shuffle: doc]
  * The model (|vocab| × |labels| log-probabilities) is VOCABULARY-sized,
  * never corpus-sized, and joins back broadcast — the same
  * stop-term-skew-proof layout as [[TfIdf]]: the corpus side never shuffles
  * on the bare skewed `term` key. At 100 TB the corpus cost is two
  * (doc,·)-keyed exchanges; the model stays a broadcast table (bound the
  * vocabulary by min-df if it outgrows the broadcast budget).
  *
  * Determinism (the TfIdf/unigram-LM contract): every log-probability is
  * ROUNDED to 6dp then summed as exact decimal, so per-document scores are
  * order- and engine-independent; the argmax tie-breaks on the label. OOV
  * tokens (absent from the training vocabulary) are dropped — the standard
  * multinomial-NB choice that also keeps the model closed-world. In-vocab
  * tokens unseen for a particular label get the Laplace-smoothed mass
  * ln(1 / (n_l + V)) via the completed term×label grid.
  */
object Classify {

  /** A trained NB model: the (term, label, lp) log-likelihood grid and the
    * (label, prior_lp) priors — both vocabulary-sized DataFrames, meant to
    * broadcast at score time. Call [[materialize]] before scoring many
    * batches (streaming inference) so training runs once, not per batch. */
  final case class NbModel(lp: DataFrame, prior: DataFrame) {
    def materialize: NbModel = NbModel(Materialize(lp), Materialize(prior))
  }

  /** Train add-one-smoothed multinomial NB on `train` (labelCol must be
    * non-null) and classify `score`, returning one row per scored doc:
    * (idCol, predicted, score, n_in_vocab) where score is the winning
    * log-posterior (class prior + Σ token log-likelihoods, 6dp-rounded
    * decimal summed exactly, cast to double at the end) and n_in_vocab
    * counts the scored in-vocabulary token occurrences (0 ⇒ prior-only
    * prediction). */
  def naiveBayes(train: DataFrame, score: DataFrame, idCol: String,
                 textCol: String, labelCol: String): DataFrame =
    scoreNaiveBayes(trainNaiveBayes(train, textCol, labelCol), score,
      idCol, textCol)

  /** The training half: build the model tables from the labeled corpus. */
  def trainNaiveBayes(train: DataFrame, textCol: String,
                      labelCol: String): NbModel = {
    val trainToks = train
      .select(col(labelCol).as("label"), explode(Dedup.tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val counts = trainToks.groupBy(col("label"), col("term"))
      .agg(count(lit(1)).as("c"))
    // per-label token totals and the vocabulary size, both derived from the
    // vocab-sized counts table — never a second corpus pass
    val labelTotals = counts.groupBy(col("label")).agg(sum(col("c")).as("n_l"))
    val vocabSize = counts.select(col("term")).distinct().count()
    require(vocabSize > 0, "naiveBayes: empty training vocabulary")
    // complete term×label grid so in-vocab tokens unseen for a label get
    // the smoothed ln(1/(n_l+V)) instead of silently vanishing
    val grid = counts.select(col("term")).distinct().crossJoin(broadcast(labelTotals))
    val lp = grid.join(counts, Seq("term", "label"), "left")
      .select(col("term"), col("label"),
        round(log((coalesce(col("c"), lit(0L)).cast("double") + 1.0) /
          (col("n_l").cast("double") + vocabSize.toDouble)), 6)
          .cast("decimal(18,6)").as("lp"))
    val totalDocs = train.count()
    val prior = train.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("docs"))
      .select(col("label"),
        round(log(col("docs").cast("double") / totalDocs.toDouble), 6)
          .cast("decimal(18,6)").as("prior_lp"))
    NbModel(lp, prior)
  }

  /** Persist the trained grid + priors as plain parquet — "train once,
    * score forever": decimal(18,6) log-probabilities are exact scaled
    * integers, so save ∘ load is bit-identical (spec-pinned), and a
    * model reloaded in a later job classifies exactly like the fresh one. */
  def saveModel(model: NbModel, path: String): Unit = {
    model.lp.coalesce(1).write.mode("overwrite").parquet(s"$path/lp")
    model.prior.coalesce(1).write.mode("overwrite").parquet(s"$path/prior")
  }

  /** Rebuild a model from [[saveModel]] output. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
                path: String): NbModel =
    NbModel(spark.read.parquet(s"$path/lp"),
      spark.read.parquet(s"$path/prior"))

  /** The scoring half: classify `score` under a trained model. Works on a
    * batch frame or inside a streaming foreachBatch (each document is one
    * row, so scoring needs no cross-batch state). */
  def scoreNaiveBayes(model: NbModel, score: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val lp = model.lp
    val prior = model.prior
    val docToks = score
      .select(col(idCol), explode(Dedup.tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val perLabel = docToks.join(broadcast(lp), "term")
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("lp")).as("__slp"), count(lit(1)).as("n_in_vocab"))
    // every scored doc × every label: all-OOV docs still rank on priors
    val scored = score.select(col(idCol)).crossJoin(broadcast(prior))
      .join(perLabel, Seq(idCol, "label"), "left")
      .select(col(idCol), col("label"),
        (col("prior_lp") + coalesce(col("__slp"),
          lit(0).cast("decimal(18,6)"))).as("__score"),
        coalesce(col("n_in_vocab"), lit(0L)).as("n_in_vocab"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__score").desc, col("label"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("label").as("predicted"),
        col("__score").cast("double").as("score"), col("n_in_vocab"))
  }
}
