package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Okapi BM25 retrieval scoring (Robertson et al., TREC-3; the "+1" idf
  * form Lucene uses, which keeps idf positive for terms in more than half
  * the corpus):
  *
  *   score(d, q) = Σ_{t ∈ q}  idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
  *   idf(t)      = ln(1 + (N − df + 0.5) / (df + 0.5))
  *
  * The retrieval primitive a training-data pipeline needs for targeted
  * corpus search (find documents about X), hard-negative text mining, and
  * quality-by-topicality scoring — the lexical complement of the
  * embedding-cosine operators in [[Similarity]].
  *
  * Determinism contract (cross-engine, the TfIdf/unigram idiom): idf is
  * rounded to 6 dp (pins sub-ulp libm differences), each term
  * contribution is rounded to 6 dp and cast to decimal(18,6), and the
  * per-doc sum runs over decimals — order- and engine-independent; the
  * top-k order is total via the (score desc, doc id) tie-break.
  *
  * Scale shape: the (doc, term) explode is filtered map-side by the
  * literal query-term set before anything shuffles; df/idf live on a
  * ≤|q|-row frame joined back by broadcast; one doc-keyed partial-agg sum
  * produces scores; top-k is TakeOrdered (no one-partition window). The
  * only driver values are N and Σdl — two scalars. */
object Bm25 {

  def score(docs: DataFrame, idCol: String, textCol: String,
            queryTerms: Seq[String], topK: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "BM25 needs at least one query term")
    val k1 = 1.2
    val b = 0.75
    val dls = docs.select(col(idCol).as("doc_id"),
      size(Dedup.cleanTokens(col(textCol))).as("dl"))
    // two scalars — the one (bounded, documented) driver materialization
    val stats = dls.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl")).head()
    val n = stats.getLong(0)
    require(n > 0 && !stats.isNullAt(1),
      "BM25 needs a non-empty corpus with at least one non-null text")
    val avgdl = stats.getLong(1).toDouble / n
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(Dedup.cleanTokens(col(textCol))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .select(col("term"),
        round(log((lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1), 6)
          .as("idf"))
    tf.join(broadcast(idf), "term")
      .join(dls, "doc_id")
      .withColumn("__c",
        round(col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl)), 6)
          .cast("decimal(18,6)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("__c")).cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }
}
