package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou/Douze/Schmid, "Product Quantization for
  * Nearest Neighbor Search", IEEE TPAMI 2011) — the memory-compression
  * half of large-scale ANN, complementing [[IvfIndex]]'s list-pruning
  * half: each vector splits into `m` sub-blocks, each sub-block is
  * replaced by the id of its nearest per-block centroid, so a dim-float
  * vector becomes `m` small codes (the demonstrated m=16, k=64 config
  * turns 64 raw floats into 16 byte-sized codes — a 16× footprint cut —
  * which is what lets a 100 TB embedding corpus' index live in cluster
  * memory).
  *
  * Scale shape: codebooks are tiny driver state (m·k·dsub floats, like
  * the IVF centroid model) trained on a bounded deterministic sample;
  * encoding is one narrow pass; ADC search broadcasts the bounded query
  * set against the ENCODED corpus — the scan streams 8-byte codes, not
  * 256-byte vectors, and never touches the raw embedding column.
  *
  * Scoring contract: `score` is the cosine between the query and the
  * RECONSTRUCTION (decode of the code), accumulated in a fixed
  * sub-block order (flat left-to-right within a block, blocks in
  * order). The `q_sim_topk_pq_verify` twin reproduces exactly that
  * grouping from decoded vectors with built-in HOFs, so the emitted
  * score is bit-reproducible and driver-gated even though the codebooks
  * themselves are engine-internal.
  */
object ProductQuantize {

  /** Codebooks: m sub-blocks × k centroids × dsub floats. */
  final case class Model(codebooks: Array[Array[Array[Float]]]) {
    def m: Int = codebooks.length
    def k: Int = codebooks.head.length
    def dsub: Int = codebooks.head.head.length
    def dim: Int = m * dsub
    /** Reconstruction of one code array (centroids concatenated). */
    def decode(code: Seq[Int]): Array[Float] = {
      val out = new Array[Float](dim)
      var i = 0
      while (i < m) {
        System.arraycopy(codebooks(i)(code(i)), 0, out, i * dsub, dsub)
        i += 1
      }
      out
    }
  }

  /** Per-sub-block [[SampledLloyd]] k-means (L2, raw space) — the same
    * sample and loop as [[IvfIndex.train]]. Requires dim divisible by m. */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
            m: Int, k: Int): Model = {
    val sample = SampledLloyd.sample(corpus, idCol, vecCol)
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    require(sample.length >= k, s"sample ${sample.length} < k=$k")
    val dsub = dim / m
    val codebooks = Array.tabulate(m) { b =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, b * dsub, (b + 1) * dsub))
      SampledLloyd.train(sub, k, nearestL2, identity)
    }
    Model(codebooks)
  }

  private def nearestL2(cents: Array[Array[Float]], v: Array[Float]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var d = 0.0; var i = 0
      val ct = cents(c)
      while (i < v.length) {
        val diff = v(i).toDouble - ct(i); d += diff * diff; i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Narrow pass: vector → array<int> of m per-block centroid ids. A
    * vector whose length differs from the model's dim fails fast —
    * copyOfRange would otherwise silently zero-pad short vectors into
    * plausible-looking (wrong) codes, while the scorer would throw on the
    * same row only when it happened to be a query. */
  def encode(df: DataFrame, vecCol: String, model: Model): DataFrame = {
    val cb = model.codebooks
    val dsub = model.dsub
    val dim = model.dim
    val encodeUdf = udf { (v: Seq[Float]) =>
      require(v.length == dim, s"pq encode: vector dim ${v.length} != model dim $dim")
      val arr = v.toArray
      Array.tabulate(cb.length) { b =>
        nearestL2(cb(b), java.util.Arrays.copyOfRange(arr, b * dsub, (b + 1) * dsub))
      }.toSeq
    }
    df.withColumn("pq_code", encodeUdf(col(vecCol).cast("array<float>")))
  }

  /** Decoded (reconstructed) vector column from a code column. */
  def decodeCol(df: DataFrame, codeCol: String, model: Model): DataFrame = {
    val broadcastModel = model
    val decodeUdf = udf { (code: Seq[Int]) => broadcastModel.decode(code).toSeq }
    df.withColumn("pq_decoded", decodeUdf(col(codeCol)))
  }

  /** ADC top-k: broadcast the bounded query set against the ENCODED
    * corpus; score = cosine(query, reconstruction), accumulated
    * sub-block-grouped (the verify twin's exact order). Output matches
    * [[Similarity.cosineTopK]]'s shape with `score` in place of
    * `cosine`. Both sides carry (`vec_id`, `embedding`). Zero-norm sides
    * are excluded (no defined cosine). */
  def adcTopK(queries: DataFrame, corpus: DataFrame, model: Model,
              k: Int): DataFrame =
    adcTopKEncoded(queries,
      encode(corpus.select(col("vec_id"), col("embedding")), "embedding", model)
        .select(col("vec_id").as("neighbor_id"), col("pq_code")),
      model, k)

  /** The ADC scorer as a reusable UDF: cosine(query, reconstruction)
    * accumulated in the fixed sub-block order of the scoring contract.
    * NaN on a zero-norm side (callers filter). Shared by the full-scan
    * [[adcTopKEncoded]] and the IVF-pruned [[IvfPq.topK]] composition. */
  def adcCosineUdf(model: Model): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val cb = model.codebooks
    val dsub = model.dsub
    val dim = model.dim
    udf { (qv: Seq[Float], code: Seq[Int]) =>
      require(qv.length == dim, s"pq score: query dim ${qv.length} != model dim $dim")
      var num = 0.0; var qn = 0.0; var cn = 0.0
      var b = 0
      while (b < code.length) {
        val ct = cb(b)(code(b))
        var sn = 0.0; var sq = 0.0; var sc = 0.0
        var j = 0
        while (j < dsub) {
          val qx = qv(b * dsub + j).toDouble
          val cx = ct(j).toDouble
          sn += qx * cx; sq += qx * qx; sc += cx * cx
          j += 1
        }
        num += sn; qn += sq; cn += sc
        b += 1
      }
      if (qn == 0.0 || cn == 0.0) Double.NaN
      else num / (math.sqrt(qn) * math.sqrt(cn))
    }
  }

  /** [[adcTopK]] over an ALREADY-ENCODED corpus — `encoded` carries
    * (neighbor_id, pq_code). The production shape: codes are computed once
    * at ingest and reused across every search (and by the verification
    * twin), never re-derived per query. */
  def adcTopKEncoded(queries: DataFrame, encoded: DataFrame, model: Model,
                     k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<float>").as("qv"))
    val scoreUdf = adcCosineUdf(model)
    val scored = encoded.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", scoreUdf(col("qv"), col("pq_code")))
      .filter(!isnan(col("score")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("score"), 6).as("score"))
  }
}
