package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{EventTime, GraftFunctions}
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.StreamingIngest

/** Parity query/oracle registry — one slice of the driver contract
  * surface, split out of the former 15k-line SparkEntry monolith so a
  * duplicated query-name literal can never silently shadow a pair out
  * of the sweep again (the round-17 q_text_chunks incident).
  * Each query's lambda, fixtures and oracle text live here; a helper
  * that a streaming twin or another family also uses is
  * `private[registry]` in its batch query's registry. Composed — with
  * a cross-registry duplicate guard — in [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]]. */
private[graft] object ParityRegistry extends QueryRegistry {

  private val asOf: Column = lit("1998-12-01").cast("date")

  private def latestOrderPerCustomer(o: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    o.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
  }

  private def flagship(spark: SparkSession, dir: String): DataFrame = {
    val latest = latestOrderPerCustomer(t(spark, dir, "orders"))
    latest
      .join(broadcast(t(spark, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === "NATION_3")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("n_name"),
        (year(asOf) - year(col("o_orderdate"))).cast("long").as("age_years"),
        when(datediff(asOf, col("o_orderdate").cast("date")) > 30, true)
          .otherwise(false).as("stale"))
      .orderBy(col("o_custkey"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- parity operators (SURVEY.md §2) ----
    "q_w1_latest_order" -> ((s, dir) =>
      latestOrderPerCustomer(t(s, dir, "orders"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        .orderBy(col("o_custkey"))),


    "q_a1_distinct" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderstatus").as("status")).distinct()
        .filter(col("status").isNotNull && col("status") =!= "")
        .orderBy(col("status"))),


    "q_u1_union_by_name" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val evens = c.filter(col("c_custkey") % 2 === 0).select(col("c_custkey"), col("c_name"))
      val odds = c.filter(col("c_custkey") % 2 === 1).select(col("c_custkey"), col("c_acctbal"))
      evens.unionByName(odds, allowMissingColumns = true).orderBy(col("c_custkey"))
    }),


    "q_p3_coalesce" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"),
        coalesce(when(col("c_mktsegment") === "BUILDING", lit(null)).otherwise(col("c_mktsegment")),
          col("c_name")).as("resolved"))
        .orderBy(col("c_custkey"))),


    "q_p6_validity_filter" -> ((s, dir) =>
      t(s, dir, "orders")
        .filter(when(col("o_orderstatus") === "O", lit(null)).otherwise(col("o_orderstatus")).isNotNull
          && col("o_orderpriority").isNotNull && col("o_orderpriority") =!= "")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
        .orderBy(col("o_orderkey"))),


    "q_e1_date_roundtrip" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"),
        // zero-padded formats: an unpadded "7/4/1996" compacts to only 6
        // digits and is (faithfully) invalid under the reference parser
        GraftFunctions.parse_date(date_format(col("o_orderdate"), "MM/dd/yyyy")).as("d_slash"),
        GraftFunctions.parse_date(date_format(col("o_orderdate"), "MM-dd-yyyy")).as("d_dash"),
        GraftFunctions.parse_date(date_format(col("o_orderdate"), "Mddyyyy")).as("d_compact"))
        .orderBy(col("o_orderkey"))),


    // E2: the validation split — deterministically corrupt every 7th date
    // and check both channels (error message + nulled value) of one parse.
    "q_e2_validation_split" -> ((s, dir) => {
      val raw = when(col("o_orderkey") % 7 === 0,
          concat(lit("13"), date_format(col("o_orderdate"), "ddyyyy")))
        .otherwise(date_format(col("o_orderdate"), "MMddyyyy"))
      val parsed = GraftFunctions.parse_date_struct(raw)
      t(s, dir, "orders").select(col("o_orderkey"),
        parsed.getField("error").as("validation_error"),
        parsed.getField("value").as("parsed"))
        .orderBy(col("o_orderkey"))
    }),


    "q_e4_e5_derived" -> ((s, dir) => {
      val consul = when(col("o_orderstatus") === "O", lit(null).cast("date"))
        .otherwise(col("o_orderdate").cast("date"))
      t(s, dir, "orders").select(col("o_orderkey"),
        (year(asOf) - year(col("o_orderdate"))).cast("long").as("age_years"),
        when(datediff(asOf, consul) > 30, true).otherwise(false).as("stale"))
        .orderBy(col("o_orderkey"))
    }),


    "q_view_flagship" -> ((s, dir) => flagship(s, dir)),


    // Source-format surface: the same table round-tripped through orc,
    // json, and csv (schema re-applied on read — never inferred) must be
    // byte-identical to the parquet original; the oracle is the original
    // replicated per format.
    "q_source_formats" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
      val base = Scratch.path(dir, "formats_rt")
      val perFormat = Seq("orc", "json", "csv").map { f =>
        sources.Formats.roundTrip(nation, f, s"$base/$f")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
            lit(f).as("via"))
      }
      perFormat.reduce(_.unionByName(_))
        .orderBy(col("via"), col("n_nationkey"))
    }),

  )

  def oracles: Map[String, String] = Map(
    "q_w1_latest_order" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) t WHERE rn = 1 ORDER BY o_custkey""".stripMargin,


    "q_a1_distinct" ->
      "SELECT DISTINCT o_orderstatus AS status FROM orders WHERE o_orderstatus IS NOT NULL AND o_orderstatus <> '' ORDER BY status",


    "q_u1_union_by_name" ->
      """SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name, c_acctbal FROM customer WHERE c_custkey % 2 = 1
        |ORDER BY c_custkey""".stripMargin,


    "q_p3_coalesce" ->
      "SELECT c_custkey, COALESCE(NULLIF(c_mktsegment, 'BUILDING'), c_name) AS resolved FROM customer ORDER BY c_custkey",


    "q_p6_validity_filter" ->
      "SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders WHERE NULLIF(o_orderstatus, 'O') IS NOT NULL AND o_orderpriority IS NOT NULL AND o_orderpriority <> '' ORDER BY o_orderkey",


    "q_e1_date_roundtrip" ->
      "SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d_slash, CAST(o_orderdate AS DATE) AS d_dash, CAST(o_orderdate AS DATE) AS d_compact FROM orders ORDER BY o_orderkey",


    "q_e2_validation_split" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN 'Invalid month: 13 (must be between 1 and 12)' END AS validation_error,
        |  CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE CAST(o_orderdate AS DATE) END AS parsed
        |FROM orders ORDER BY o_orderkey""".stripMargin,


    "q_e4_e5_derived" ->
      """SELECT o_orderkey,
        |  CAST(year(DATE '1998-12-01') - year(o_orderdate) AS BIGINT) AS age_years,
        |  CASE WHEN date_diff('day', CASE WHEN o_orderstatus = 'O' THEN NULL ELSE CAST(o_orderdate AS DATE) END, DATE '1998-12-01') > 30 THEN TRUE ELSE FALSE END AS stale
        |FROM orders ORDER BY o_orderkey""".stripMargin,


    "q_view_flagship" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, n_name,
        |  CAST(year(DATE '1998-12-01') - year(o_orderdate) AS BIGINT) AS age_years,
        |  CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-01') > 30 THEN TRUE ELSE FALSE END AS stale
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders) o
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE rn = 1 AND n_name = 'NATION_3' ORDER BY o_custkey""".stripMargin,


    "q_source_formats" ->
      """SELECT n_nationkey, n_name, n_regionkey, via FROM (
        |  SELECT n_nationkey, n_name, n_regionkey, 'orc' AS via FROM nation
        |  UNION ALL
        |  SELECT n_nationkey, n_name, n_regionkey, 'json' AS via FROM nation
        |  UNION ALL
        |  SELECT n_nationkey, n_name, n_regionkey, 'csv' AS via FROM nation) u
        |ORDER BY via, n_nationkey""".stripMargin,

  )
}
