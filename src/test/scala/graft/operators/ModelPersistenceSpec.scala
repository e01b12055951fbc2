package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** "Train once, score forever": every trained artifact must survive a
  * parquet save→load round trip BIT-EXACTLY, and a reloaded model must
  * reproduce the train-fresh outputs exactly. IVF/PQ already carry this
  * contract (IvfPqSpec); this suite extends it to the BPE merge table,
  * the NB classifier grid, the interpolated trigram LM, and the PCA
  * basis — the remaining trained components. The harness twins
  * (q_bpe_reload_verify, q_classify_nb_reload, q_text_trigram_reload,
  * q_vec_pca_reload_verify) gate the same property against DuckDB. */
class ModelPersistenceSpec extends SparkSpec {

  private def tmp(name: String): String = s"${tempDir(s"graft_spec_$name")}/model"

  private def docs = spark.read
    .parquet(s"${testDataDir("0.001")}/documents.parquet")

  test("frozen BPE merges are the pinned constant the oracle literalizes") {
    // the first learned merges of the seed table, hand-derivable: 't h'
    // dominates (the/that/this family), then 'th e</w>' completes "the"
    val m = BpeTokenizer.frozenMerges
    assert(m.size === 40)
    assert(m.take(6) === Seq("t" -> "h", "th" -> "e</w>", "o" -> "f</w>",
      "a" -> "s</w>", "a" -> "n", "a" -> "t</w>"))
    assert(m.last === ("l" -> "l</w>"))
    // determinism: re-learning from the same constant reproduces exactly
    assert(BpeTokenizer.learnMergesFromCounts(
      BpeTokenizer.seedWordCounts, 40) === m)
  }

  test("BPE merge table: save→load identity, reloaded tokenization identical") {
    val path = tmp("bpe")
    val merges = BpeTokenizer.learnMerges(docs, "text", numMerges = 50)
    BpeTokenizer.saveMerges(spark, merges, path)
    val reloaded = BpeTokenizer.loadMerges(spark, path)
    assert(reloaded === merges, "load ∘ save must be the identity")
    val fresh = BpeTokenizer.tokenizeWith(docs, "doc_id", "text", merges)
    val again = BpeTokenizer.tokenizeWith(docs, "doc_id", "text", reloaded)
    assert(fresh.exceptAll(again).isEmpty && again.exceptAll(fresh).isEmpty,
      "reloaded merges must tokenize identically")
  }

  test("NB model: decimal grid round-trips bit-exactly, scores identical") {
    implicit val s: SparkSession = spark
    val path = tmp("nb")
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val score = docs.filter(col("doc_id") % 5 === 0)
    val model = Classify.trainNaiveBayes(train, "text", "lang")
    Classify.saveModel(model, path)
    val reloaded = Classify.loadModel(spark, path)
    // grid identity: decimal(18,6) is an exact scaled integer in parquet
    assert(model.lp.exceptAll(reloaded.lp).isEmpty &&
      reloaded.lp.exceptAll(model.lp).isEmpty, "lp grid drifted")
    assert(model.prior.exceptAll(reloaded.prior).isEmpty &&
      reloaded.prior.exceptAll(model.prior).isEmpty, "priors drifted")
    val a = Classify.scoreNaiveBayes(model, score, "doc_id", "text")
    val b = Classify.scoreNaiveBayes(reloaded, score, "doc_id", "text")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "reloaded model must classify identically")
  }

  test("trigram LM: double tables round-trip bit-exactly, scores identical") {
    val path = tmp("trigram")
    val model = TextAnalysis.trainTrigramLm(docs, "text")
    TextAnalysis.saveTrigramLm(model, path)
    val reloaded = TextAnalysis.loadTrigramLm(spark, path)
    for ((fresh, back, name) <- Seq(
        (model.p3, reloaded.p3, "p3"), (model.p2, reloaded.p2, "p2"),
        (model.p1, reloaded.p1, "p1")))
      assert(fresh.exceptAll(back).isEmpty && back.exceptAll(fresh).isEmpty,
        s"$name table drifted through parquet")
    val a = TextAnalysis.scoreTrigramLm(model, docs, "doc_id", "text")
    val b = TextAnalysis.scoreTrigramLm(reloaded, docs, "doc_id", "text")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "reloaded LM must score identically")
    // and the composed entry point is the train+score split, unchanged
    val c = TextAnalysis.trigramLogProb(docs, "doc_id", "text")
    assert(a.exceptAll(c).isEmpty && c.exceptAll(a).isEmpty)
  }

  test("PCA basis: doubles round-trip bit-exactly, projections identical") {
    val path = tmp("pca")
    val e = spark.read.parquet(s"${testDataDir("0.001")}/embeddings.parquet")
    val (mean, _, comps) = VectorStats.pcaComponents(e, "embedding", 4)
    VectorStats.savePcaBasis(spark, mean, comps, path)
    val (mean2, comps2) = VectorStats.loadPcaBasis(spark, path)
    assert(java.util.Arrays.equals(mean, mean2), "mean drifted")
    assert(comps.length === comps2.length)
    comps.indices.foreach(i =>
      assert(java.util.Arrays.equals(comps(i), comps2(i)), s"component $i drifted"))
    val a = VectorStats.pcaProject(e, "embedding", "proj", mean, comps)
      .select("vec_id", "proj")
    val b = VectorStats.pcaProject(e, "embedding", "proj", mean2, comps2)
      .select("vec_id", "proj")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "reloaded basis must project bit-identically")
  }
}
