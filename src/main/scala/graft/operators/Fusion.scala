package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR'09) — combine
  * several ranked retrieval lists into one, score(d) = Σ_lists 1/(k+rank_d).
  * The standard way to build HYBRID retrieval: fuse the lexical BM25
  * ranking with the dense embedding-cosine ranking without calibrating
  * their incomparable score scales — only ranks enter the fusion, which is
  * exactly why RRF is robust and why it can be made engine-exact.
  *
  * Determinism contract: the textbook 1/(k+r) is irrational in floating
  * point; here each contribution is integer micro-units
  * `base div (k + rank)` — long floor division, then a long sum — so the
  * fused scores are bit-identical across engines, partitionings and
  * summation orders, and the whole fusion hash-compares against a plain
  * SQL replay. (With base = 10^6 and k = 60 the quantization error vs the
  * real-valued RRF is < 10^-6 per list — far below any rank-1 gap.)
  *
  * Scale shape: each input list is already top-k-bounded by its producer
  * (TakeOrdered / per-query window), so the union is (lists × k) rows —
  * the fusion itself is one map-side-combined groupBy on the id. Nothing
  * here scales with corpus size; the producers own that.
  */
object Fusion {

  /** Fuse ranked lists. Each input must carry `idCol` and a 1-based
    * `rankCol`; rows beyond rank 1000 are ignored (a fixed guard against
    * an unbounded producer — fusion quality lives entirely in the head).
    * Each list contributes `1000000 div (60 + rank)` micro-units per id
    * (RRF with k = 60).
    *
    * @return (id, rrf, lists): integer-micro-unit fused score and the
    *         number of lists the id appeared in, rrf-descending.
    */
  def rrfFuse(lists: Seq[DataFrame], idCol: String,
              rankCol: String): DataFrame = {
    require(lists.nonEmpty, "RRF needs at least one ranked list")
    val contribs = lists.map { df =>
      df.select(col(idCol),
          col(rankCol).cast("long").as("__rank"))
        .filter(col("__rank").between(1, 1000))
        .select(col(idCol), expr("1000000L div (60L + __rank)").as("__c"))
    }.reduce(_ unionAll _)
    contribs.groupBy(col(idCol))
      .agg(sum(col("__c")).as("rrf"), count(lit(1)).as("lists"))
      .orderBy(col("rrf").desc, col(idCol))
  }
}
