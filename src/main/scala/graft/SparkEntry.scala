package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — one `queries` entry per operator of SURVEY.md §2 plus
  * the training-data-pipeline extensions, each with a DuckDB oracle where the
  * semantics are ANSI-SQL-expressible (oracle-less entries get the driver's
  * rows-only check and are verified by ScalaTest instead).
  *
  * Composition only: each registry of the registry package owns its
  * queries' lambdas, fixtures and oracle texts; this object merges them
  * under duplicate guards.
  *
  * Determinism rules (SURVEY.md §5.4): every query ends in a total-order
  * sort; aggregates over doubles go through exact decimal arithmetic and are
  * surfaced as doubles; "today" is the fixed literal 1998-12-01; int-typed
  * derived values are cast to long to match DuckDB's BIGINT.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_view_flagship")(spark, "/root/testdata/sf0.001")

  /** Per-family registries (the registry package) composing the driver
    * contract. Split from one 15k-line file in round 18: a duplicated
    * query-name literal inside one giant Map silently last-wins (the
    * round-17 q_text_chunks shadowing); smaller per-family maps plus
    * the cross-file source scan in OracleContractSpec plus the size
    * guards below make that class of bug loud. */
  val registries: Seq[registry.QueryRegistry] = Seq(
    registry.CrawlRegistry, registry.DedupRegistry, registry.EvalRegistry, registry.GraphRegistry, registry.MultimodalRegistry, registry.ParityRegistry, registry.QualityRegistry, registry.RelationalRegistry, registry.SimilarityRegistry, registry.SketchRegistry, registry.StorageRegistry, registry.StreamRegistry, registry.TextRegistry, registry.TokenizerRegistry, registry.TrainPrepRegistry, registry.WarcRegistry)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val merged = registries.map(_.queries).reduce(_ ++ _)
    require(merged.size == registries.map(_.queries.size).sum,
      "duplicate query name across registries — a ++ would silently last-win")
    merged
  }

  lazy val oracleSql: Map[String, String] = {
    val merged = registries.map(_.oracles).reduce(_ ++ _)
    require(merged.size == registries.map(_.oracles.size).sum,
      "duplicate oracle name across registries — a ++ would silently last-win")
    merged
  }
}
