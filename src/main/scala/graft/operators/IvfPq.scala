package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF→PQ two-stage retrieval — the standard billion-scale ANN serving
  * shape (Jégou et al., TPAMI 2011 §V: "IVFADC"): the IVF coarse
  * quantizer prunes the corpus to the probed inverted lists, PQ-ADC
  * scores the survivors from 8-byte codes, and only the short list ever
  * touches raw vectors for an exact cosine re-rank. Composes the two
  * independently-verified halves ([[IvfIndex]] candidate generation,
  * [[ProductQuantize]] ADC scoring) into the shape that actually ships.
  *
  * Why this is THE 100-TB layout: the full-scan ADC search still streams
  * every code, and exact search streams every raw vector; here the
  * centroid_id equi-join reads ~nprobe/k of the corpus, the scan payload
  * is m bytes per row (codes), and the raw-vector read is a short-list
  * join of |queries|·shortlist rows — each stage shrinks the data the
  * next stage touches by orders of magnitude.
  *
  * Output matches [[Similarity.cosineTopK]] exactly — (query_id, rank,
  * neighbor_id, cosine) with EXACT cosines (the re-rank recomputes from
  * raw vectors), so per-row scores are fully verifiable; what stays
  * approximate is only WHICH neighbors the probes + short list reach,
  * gated by the recall check in the `_verify` sibling and IvfPqSpec.
  */
object IvfPq {

  /** One corpus pass at ingest: IVF cell + PQ code per row — the index
    * frame every later search (and the verify twin) reuses. Every frame
    * here carries (`vec_id`, `embedding`). */
  def index(corpus: DataFrame, ivf: IvfIndex.Model,
            pq: ProductQuantize.Model): DataFrame =
    ProductQuantize.encode(
      IvfIndex.assign(corpus.select(col("vec_id"), col("embedding")), "embedding", ivf),
      "embedding", pq)
      .select(col("vec_id").as("neighbor_id"), col("centroid_id"),
        col("pq_code"))

  /** Two-stage top-k: probe `nprobe` cells, ADC-score the probed codes,
    * keep `shortlist` candidates per query, exact-cosine re-rank the
    * short list to the final k. `shortlist` ≥ k trades recall for raw-
    * vector reads exactly like nprobe trades it for code reads. */
  def topK(queries: DataFrame, corpus: DataFrame, ivf: IvfIndex.Model,
           pq: ProductQuantize.Model, k: Int, nprobe: Int = 4,
           shortlist: Int = 32): DataFrame =
    topKIndexed(queries, index(corpus, ivf, pq), corpus,
      ivf, pq, k, nprobe, shortlist)

  /** [[topK]] over an ALREADY-INDEXED corpus (the production codes-at-
    * ingest shape) — `indexed` carries (neighbor_id, centroid_id,
    * pq_code); `corpus` is read only for the short-list re-rank. */
  def topKIndexed(queries: DataFrame, indexed: DataFrame, corpus: DataFrame,
                  ivf: IvfIndex.Model, pq: ProductQuantize.Model, k: Int,
                  nprobe: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val q = IvfIndex.withProbes(
      queries.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<float>").as("qv")),
      "qv", ivf, nprobe)
    // stage 1+2: cell-pruned candidates, scored from codes only — the
    // raw corpus vector column never reaches this join
    val adc = ProductQuantize.adcCosineUdf(pq)
    val cand = q.join(indexed, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", adc(col("qv"), col("pq_code")))
      .filter(!isnan(col("adc")))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id").asc)
    val short = cand.withColumn("__sr", row_number().over(wAdc))
      .filter(col("__sr") <= shortlist)
      .select(col("query_id"), col("qv"), col("neighbor_id"))
    // stage 3: exact cosine on the short list only (same HOF arithmetic
    // as IvfIndex.topK / Similarity.cosineTopK, so scores verify exactly)
    val c = Similarity.normed(corpus, col("vec_id").as("neighbor_id"), "c")
    val rescored = short.join(c, Seq("neighbor_id"))
      .withColumn("qn", Similarity.l2norm(col("qv")))
      .filter(col("qn") > 0 && col("cn") > 0)
      .withColumn("cosine",
        Similarity.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Corpus-size-scaled serving knobs — (cells, nprobe, shortlist) for
    * a corpus of `n` vectors. Fixed knobs do not survive a scale-up:
    * the round-18 sweep measured 16 cells / nprobe 4 / shortlist 32 at
    * mean recall@10 0.685 on the sf0.01 RAG corpus but 0.46 at sf0.1 —
    * with ALL 16 cells probed it only reaches 0.63, because the
    * residual approximation is the PQ shortlist, whose recall depends
    * on its size RELATIVE to the corpus. Scaling rules (the FAISS
    * guidance shape): cells ≈ √n (bounded below by 16), probe a fixed
    * quarter of the cells, shortlist ≈ n/64 (≥ 64) — candidate volume
    * then grows as √n per cell while the probed fraction and rerank
    * cost stay a constant share, and measured recall holds as the
    * corpus grows instead of decaying. */
  def servingKnobs(n: Long): (Int, Int, Int) = {
    require(n > 0, s"servingKnobs: corpus must be non-empty, got $n")
    val cells = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
    val nprobe = math.max(4, cells / 4)
    val shortlist = math.max(64, (n / 64).toInt)
    (cells, nprobe, shortlist)
  }

  /** Persist both trained models as plain parquet next to the index —
    * the production lifecycle: train ONCE at (re)build time, reuse the
    * same quantizers for every later search AND every later encode (new
    * vectors must be coded under the codebooks the index was built with;
    * retraining silently re-buckets the corpus). Floats round-trip
    * parquet bit-exactly, so load ∘ save is the identity (spec-pinned).
    *
    * Layout: `<path>/ivf_centroids` (centroid_id, pos, value) and
    * `<path>/pq_codebooks` (block, code, pos, value) — model-sized row
    * tables (k·dim and m·k·dsub rows), trivially inspectable with any
    * parquet reader. */
  def saveModels(spark: SparkSession, path: String, ivf: IvfIndex.Model,
                 pq: ProductQuantize.Model): Unit = {
    import spark.implicits._
    ivf.centroids.zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (v, p) => (i, p, v) }
    }.toSeq.toDF("centroid_id", "pos", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/ivf_centroids")
    pq.codebooks.zipWithIndex.flatMap { case (cb, b) =>
      cb.zipWithIndex.flatMap { case (c, code) =>
        c.zipWithIndex.map { case (v, p) => (b, code, p, v) }
      }
    }.toSeq.toDF("block", "code", "pos", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/pq_codebooks")
  }

  /** Rebuild both models from [[saveModels]] output, bit-exactly. */
  def loadModels(spark: SparkSession, path: String)
      : (IvfIndex.Model, ProductQuantize.Model) = {
    val cRows = spark.read.parquet(s"$path/ivf_centroids")
      .select(col("centroid_id").cast("int"), col("pos").cast("int"),
        col("value").cast("float"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getFloat(2)))
    require(cRows.nonEmpty, s"loadModels: empty ivf_centroids at $path")
    val centroids = cRows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, g) =>
      g.sortBy(_._2).map(_._3)
    }.toArray
    val bRows = spark.read.parquet(s"$path/pq_codebooks")
      .select(col("block").cast("int"), col("code").cast("int"),
        col("pos").cast("int"), col("value").cast("float"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getFloat(3)))
    require(bRows.nonEmpty, s"loadModels: empty pq_codebooks at $path")
    val codebooks = bRows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, blk) =>
      blk.groupBy(_._2).toSeq.sortBy(_._1).map { case (_, cw) =>
        cw.sortBy(_._3).map(_._4)
      }.toArray
    }.toArray
    (IvfIndex.Model(centroids), ProductQuantize.Model(codebooks))
  }
}
