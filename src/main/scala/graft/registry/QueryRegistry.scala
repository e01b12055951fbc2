package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One per-family slice of the driver contract: the query lambdas and
  * their DuckDB oracle texts for that family, composed (with duplicate
  * guards) in [[SparkEntry]]. */
private[graft] trait QueryRegistry {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]

  /** The fixture table `name` of the tables dir `dir`. */
  protected def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}
