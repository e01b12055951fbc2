package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the coarse-quantizer
  * scale path for similarity search, complementing the hyperplane-LSH variant
  * in [[Similarity]].
  *
  * Shape at 100 TB: the centroid model is tiny (k × dim floats) and rides to
  * executors inside the assignment closure; corpus assignment is one narrow
  * pass; the query→candidate join keys on `centroid_id` (a hash shuffle whose
  * fan-in is `nprobe/k` of the corpus, not all of it); exact cosine reranks
  * only the probed lists. Training collects a deterministic bounded sample to
  * the driver — the model, not the data, is the global state.
  */
object IvfIndex {

  final case class Model(centroids: Array[Array[Float]]) {
    def k: Int = centroids.length
  }

  /** [[SampledLloyd]] k-means, cosine metric: vectors and centroids are
    * L2-normalized, so nearest centroid by dot product == nearest by
    * cosine. */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
            k: Int): Model = {
    val sample = SampledLloyd.sample(corpus, idCol, vecCol).map(normalize)
    require(sample.length >= k, s"sample ${sample.length} < k=$k")
    Model(SampledLloyd.train(sample, k, nearest, normalize))
  }

  private def normalize(v: Array[Float]): Array[Float] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    val n = math.sqrt(s)
    if (n == 0) v else v.map(x => (x / n).toFloat)
  }

  private def nearest(centroids: Array[Array[Float]], v: Array[Float]): Int = {
    var best = 0; var bestDot = Double.MinValue
    var c = 0
    while (c < centroids.length) {
      var d = 0.0; var i = 0
      val ct = centroids(c)
      while (i < v.length) { d += ct(i).toDouble * v(i).toDouble; i += 1 }
      if (d > bestDot) { bestDot = d; best = c }
      c += 1
    }
    best
  }

  private def nearestN(centroids: Array[Array[Float]], v: Array[Float],
                       n: Int): Seq[Int] = {
    val scored = centroids.indices.map { c =>
      var d = 0.0; var i = 0
      val ct = centroids(c)
      while (i < v.length) { d += ct(i).toDouble * v(i).toDouble; i += 1 }
      (c, d)
    }
    scored.sortBy { case (c, d) => (-d, c) }.take(n).map(_._1)
  }

  /** Narrow pass: tag each row with its inverted-list id. */
  def assign(df: DataFrame, vecCol: String, model: Model): DataFrame = {
    val centroids = model.centroids
    val assignUdf = udf { (v: Seq[Float]) => nearest(centroids, normalize(v.toArray)) }
    df.withColumn("centroid_id", assignUdf(col(vecCol)))
  }

  /** Explode each row to its `nprobe` nearest inverted-list ids — the probe
    * side of the IVF join, shared by top-k search and cell-bounded
    * near-dup pairing. */
  def withProbes(df: DataFrame, vecCol: String, model: Model, nprobe: Int,
                 out: String = "centroid_id"): DataFrame = {
    val centroids = model.centroids
    val probeUdf = udf { (v: Seq[Float]) =>
      nearestN(centroids, normalize(v.toArray), nprobe)
    }
    df.withColumn(out, explode(probeUdf(col(vecCol))))
  }

  /** IVF top-k: probe the `nprobe` nearest inverted lists per query, exact
    * cosine rerank inside them. Both sides carry (`vec_id`, `embedding`).
    * Output matches [[Similarity.cosineTopK]]. */
  def topK(queries: DataFrame, corpus: DataFrame, model: Model, k: Int,
           nprobe: Int): DataFrame = {
    val c = assign(corpus, "embedding", model)
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<float>").as("cv"), col("centroid_id"))
      .withColumn("cn", Similarity.l2norm(col("cv")))
    val q = withProbes(
      Similarity.normed(queries, col("vec_id").as("query_id"), "q"),
      "qv", model, nprobe)
    // zero-norm vectors have no defined cosine — exclude them rather than
    // emit null-cosine rows (Spark Divide yields null on a 0 divisor)
    val scored = q.join(c, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .filter(col("qn") > 0 && col("cn") > 0)
      .withColumn("cosine",
        Similarity.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }
}
