package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Lloyd's k-means on a deterministic bounded sample — the one training
  * loop of [[IvfIndex]] (cosine) and [[ProductQuantize]] (L2, per
  * sub-block). The model, not the data, is the global state, so training
  * collects a bounded sample to the driver and iterates there: first-k
  * seeding, 5 rounds, double sums, `toFloat` means, and an empty cluster
  * keeps its centroid. [[KMeansOp.lloyd]] is the distributed
  * exact-decimal variant and shares nothing with this one. */
private[operators] object SampledLloyd {

  /** The training sample: the first 2048 rows by `idCol`, the vectors
    * cast to float (an array<double> corpus would otherwise throw
    * ClassCastException only here). */
  def sample(corpus: DataFrame, idCol: String, vecCol: String): Array[Array[Float]] =
    corpus.orderBy(col(idCol)).limit(2048)
      .select(col(vecCol).cast("array<float>")).collect()
      .map(_.getSeq[Float](0).toArray)

  /** `k` centroids of `points`, seeded with the first `k`: `nearest`
    * assigns a point to a centroid, `post` finishes each recomputed mean. */
  def train(points: Array[Array[Float]], k: Int,
            nearest: (Array[Array[Float]], Array[Float]) => Int,
            post: Array[Float] => Array[Float]): Array[Array[Float]] = {
    var centroids = points.take(k).map(_.clone())
    for (_ <- 0 until 5) {
      val sums = Array.fill(k)(new Array[Double](points.head.length))
      val counts = new Array[Int](k)
      points.foreach { v =>
        val c = nearest(centroids, v)
        counts(c) += 1
        var i = 0
        while (i < v.length) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else post(sums(c).map(x => (x / counts(c)).toFloat))
      }
    }
    centroids
  }
}
