package graft.sink

import java.util.Locale
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.schema.ColumnMappings

/** Warehouse-shaping + sink (reference `snowflake_connector.py:166-316`;
  * operators S3/S4/S9/S10/P7/P8/E3 in SURVEY.md §2).
  *
  * The reference's manual chunk loop (50k-row chunks, a dead
  * `parallel_threads` knob — `snowflake_connector.py:206-238`) is replaced by
  * Spark's parallel write: every partition is an independent writer task,
  * so "chunking" and "parallelism" fall out of partition count.
  */
object Warehouse {

  /** P7: canonical → physical names (`constants.py:57-68`); unmapped columns
    * pass through (reference `map_to_snowflake_columns`, `constants.py:88-102`). */
  def renameToWarehouse(df: DataFrame): DataFrame =
    df.withColumnsRenamed(ColumnMappings.warehouseColumnMap)

  /** P8: connector name normalization — uppercase, space/hyphen → underscore,
    * strip double-quotes (`snowflake_connector.py:203`, `:276`). */
  def normalizeNames(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(
      _.toUpperCase(Locale.ROOT).replace(' ', '_').replace('-', '_').replace("\"", "")): _*)

  /** S9+S10: lineage metadata. The rebuild records real per-row lineage
    * where the reference hardcodes a literal (`snowflake_connector.py:299`).
    * A `SOURCE_FILE` column already on the frame is kept: callers take it
    * with `input_file_name()` at the file scan, as [[graft.Pipeline.run]]
    * and the streaming ETL do. Without
    * one, `input_file_name()` is evaluated here, which gives the file name
    * only when this frame is read straight from files; over a persisted or
    * in-memory frame it is "". */
  def withMetadata(df: DataFrame): DataFrame = {
    val withSrc =
      if (df.columns.map(_.toUpperCase(Locale.ROOT)).contains("SOURCE_FILE")) df
      else df.withColumn("SOURCE_FILE", input_file_name())
    withSrc.withColumn("LOAD_DATE", current_timestamp())
  }

  /** S4 composition: canonical clean frame → physical warehouse frame.
    * The reference's string→date normalization step (E3,
    * `snowflake_connector.py:282-287`) is a no-op here because dates are
    * typed `DateType` at validation time (parse-once, SURVEY.md §1.2). */
  def toWarehouse(df: DataFrame): DataFrame =
    withMetadata(normalizeNames(renameToWarehouse(df)))

  /** S3: parallel write, unpartitioned like the reference's one table
    * (`snowflake_connector.py:166-246`): each write task writes one file and
    * `COUNTRY` is a data column. No reader prunes on a country directory —
    * the views rank the whole table before their country filter — so
    * partitioning by country would only multiply the files, one per task
    * and country. */
  def write(df: DataFrame, path: String, mode: String = "append"): Unit =
    df.write.mode(mode).parquet(path)

  /** Incremental merge: combine the existing table with an update batch and
    * keep, per key, the row ranking first by `orderCols` — the "latest
    * consultation wins" dedup applied at load time instead of view time, so
    * continuous ingest doesn't re-rank the full history on every query.
    * One shuffle on the key, same as the view dedup it amortizes. */
  def upsertLatest(existing: DataFrame, updates: DataFrame, keyCols: Seq[String],
                   orderCols: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols: _*)
    existing.unionByName(updates, allowMissingColumns = true)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Slowly-changing-dimension TYPE 2 history from an event-grain change
    * log: collapse consecutive runs of identical tracked attributes per key
    * into validity intervals (valid_from, valid_to, is_current) — the
    * standard warehouse shape for "what did this dimension row look like
    * at time T". Re-observing the SAME attribute values does NOT open a
    * new version (that is the semantic difference from naive dedup).
    *
    * Scale shape: one key-partitioned sort feeds the change flag and the
    * running run-number; the (key, run) aggregation and the valid_to lead
    * window rehash on the same key, so at 100 TB this is one sort-shuffle
    * on the dimension key plus same-key exchanges — never a global sort.
    *
    * Determinism: ordering is (tsCol, tieCols...) — pass tie columns that
    * make the ordering total, or same-instant changes are engine-ordered.
    * Attribute comparison is null-safe (a null attribute value is a value,
    * not a wildcard). */
  def scdType2(history: DataFrame, keyCol: String, attrCols: Seq[String],
               tsCol: String, tieCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(attrCols.nonEmpty, "scdType2: need at least one tracked attribute")
    val ord = (tsCol +: tieCols).map(col)
    val w = Window.partitionBy(col(keyCol)).orderBy(ord: _*)
    val attrs = struct(attrCols.map(col): _*)
    // first row of a key: lag is NULL, <=> is false -> opens run 1
    val runs = history
      .withColumn("__chg",
        when(lag(attrs, 1).over(w) <=> attrs, lit(0L)).otherwise(lit(1L)))
      .withColumn("__run", sum(col("__chg"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // every row in a (key, run) group carries identical attrs by
    // construction, so first() is deterministic here
    val grouped = runs.groupBy(col(keyCol), col("__run"))
      .agg(min(col(tsCol)).as("valid_from"),
        attrCols.map(c => first(col(c)).as(c)): _*)
    val w2 = Window.partitionBy(col(keyCol)).orderBy(col("__run"))
    grouped
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
      .withColumn("is_current", col("valid_to").isNull)
      .select((keyCol +: attrCols :+ "valid_from" :+ "valid_to" :+ "is_current")
        .map(col): _*)
  }

  /** Snapshot DIFF between two versions of a keyed table: one row per key
    * whose state changed, labeled `added` / `removed` / `changed` — the
    * audit a warehouse runs after every load ("what did this batch
    * actually do?") and the input to incremental downstream refresh (only
    * diff keys need reprocessing).
    *
    * Detection is a full-outer join on the key with NULL-SAFE comparison
    * of the tracked columns (a null attribute is a value, not a wildcard —
    * the scdType2 contract), so `added` = key only in `after`, `removed` =
    * only in `before`, `changed` = present in both with any tracked column
    * differing. Unchanged keys are dropped BEFORE the output, so the
    * result is delta-sized, not table-sized.
    *
    * Scale: ONE key-partitioned shuffle join; both sides prune to
    * key+tracked columns at the scan. */
  def snapshotDiff(before: DataFrame, after: DataFrame, keyCols: Seq[String],
                   compareCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && compareCols.nonEmpty,
      "snapshotDiff: need key and compare columns")
    def side(df: DataFrame, tag: String): DataFrame =
      df.select((keyCols ++ compareCols).map(col): _*)
        .withColumn(s"__present_$tag", lit(true))
    val b = side(before, "b")
    val a = side(after, "a")
    val joined = b.alias("b").join(a.alias("a"),
      keyCols.map(k => col(s"b.$k") <=> col(s"a.$k")).reduce(_ && _),
      "full_outer")
    val sameAttrs = compareCols
      .map(c => col(s"b.$c") <=> col(s"a.$c")).reduce(_ && _)
    val status = when(col("__present_b").isNull, lit("added"))
      .when(col("__present_a").isNull, lit("removed"))
      .when(!sameAttrs, lit("changed"))
    val keyOut = keyCols.map(k => coalesce(col(s"b.$k"), col(s"a.$k")).as(k))
    joined
      .withColumn("status", status)
      .filter(col("status").isNotNull)
      .select(keyOut ++ Seq(col("status")) ++
        compareCols.map(c => col(s"b.$c").as(s"before_$c")) ++
        compareCols.map(c => col(s"a.$c").as(s"after_$c")): _*)
  }

  /** Apply a CDC batch (op-tagged change rows: `I`nsert / `U`psert /
    * `D`elete) to a base table — the MERGE a CDC-fed warehouse runs per
    * micro-batch. Within the batch, the LATEST op per key wins (total
    * (seq, op) order via the same whole-row `max_by` as
    * [[graft.operators.Dedup.keepBestByKey]] — partial aggregation, one
    * survivor per key crosses the exchange); a final I/U overwrites or
    * inserts the row, a final D removes it. Keys untouched by the batch
    * pass through unchanged.
    *
    * Scale shape: one key-keyed aggregation over the (delta-sized) CDC
    * batch, then one key-keyed left-anti + union against the base — the
    * base table shuffles once on its key and the whole plan is
    * broadcast-eligible when the batch is small. Deterministic: `seqCol`
    * with the op tag as tie-break makes the within-batch order total (two
    * ops on one key at the SAME seq resolve to the lexically largest op —
    * U over I over D). A feed that replays the SAME (key, seq, op) with
    * DIFFERENT payloads is beyond that order: the surviving payload among
    * those rank-equal rows is arbitrary (see
    * [[graft.operators.Dedup.keepBestByKey]]) — well-formed feeds never
    * hit this, and every other malformed shape stays deterministic. */
  def applyCdc(base: DataFrame, cdc: DataFrame, keyCols: Seq[String],
               seqCol: String, opCol: String): DataFrame = {
    val dataCols = base.columns.toSeq
    require(dataCols.forall(cdc.columns.contains),
      s"applyCdc: cdc must carry every base column; missing " +
        s"${dataCols.filterNot(cdc.columns.contains).mkString(", ")}")
    // op domain is CHECKED, not assumed: a NULL or unknown op would make
    // `op =!= "D"` evaluate to NULL below — the winning row silently
    // dropped while the anti-join still removes the base row, i.e. data
    // loss with no diagnostic. Malformed feeds must fail loudly.
    val checkedCdc = cdc.withColumn(opCol,
      when(col(opCol).isin("I", "U", "D"), col(opCol))
        .otherwise(raise_error(concat(
          lit("applyCdc: invalid op '"),
          coalesce(col(opCol), lit("NULL")),
          lit("' (expected I, U, or D)")))))
    val latest = graft.operators.Dedup.keepBestByKey(
      checkedCdc.withColumn("__rank", struct(col(seqCol), col(opCol))),
      keyCols, col("__rank"), seqCol)
    val survivors = latest.filter(col(opCol) =!= "D")
      .select(dataCols.map(col): _*)
    base.join(latest.select(keyCols.map(col): _*), keyCols, "left_anti")
      .unionByName(survivors)
  }

  /** Compact a parquet directory to ~`targetMB` output files — small-file
    * pressure is the classic failure mode of continuous partitioned appends.
    * Rewrites to a temp dir then swaps. Swap safety: every rename's return
    * value is CHECKED — a failed swap restores the backup and throws, and
    * the backup is deleted only after the new data is live, so no failure
    * ordering destroys the table (the remaining window is a reader racing
    * the two renames — directory swap on a filesystem is not atomic; a
    * table format is the answer where that matters). Stale `__compacting`/
    * `__old` leftovers from a previous crash fail fast up front. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetMB: Int = 256): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    // the PATH's filesystem, not the default one (s3a:// table under an
    // hdfs:// default would otherwise throw or hit the wrong store)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + "__compacting")
    val bak = new org.apache.hadoop.fs.Path(path + "__old")
    require(!fs.exists(tmp) && !fs.exists(bak),
      s"stale compaction leftovers at $tmp or $bak — resolve before compacting")
    val bytes = fs.getContentSummary(p).getLength
    val files = math.max(1, (bytes / (targetMB.toLong << 20)).toInt)
    spark.read.parquet(path).repartition(files)
      .write.mode("overwrite").parquet(tmp.toString)
    if (!fs.rename(p, bak))
      throw new java.io.IOException(s"compact: failed to move $p aside to $bak")
    if (!fs.rename(tmp, p)) {
      val restored = fs.rename(bak, p) // put the original back
      throw new java.io.IOException(
        s"compact: failed to move $tmp into place" +
          (if (restored) "; original restored" else s"; ORIGINAL LEFT AT $bak"))
    }
    fs.delete(bak, true)
  }

  /** Persist as a bucketed+sorted managed table: joins and aggregations on
    * `bucketCols` against tables bucketed the same way need NO shuffle (the
    * co-location strategy for repeated big-big joins at scale). The write
    * overwrites: it owns the managed location, since a previous JVM (whose
    * in-memory catalog died with it) can leave the table directory behind,
    * and saveAsTable then refuses the CREATE — so it drops the catalog
    * entry AND clears the orphaned location. The location is resolved
    * through the session catalog (database location + metastore-lowercased
    * table name), NOT warehouse-dir string concatenation, so db-qualified
    * and mixed-case names under a non-default current database clean the
    * right directory. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int = 16): Unit = {
    val spark = df.sparkSession
    val parts = table.split('.')
    require(parts.length <= 2 && parts.forall(_.nonEmpty),
      s"writeBucketed: cannot parse table identifier '$table'")
    val (dbOpt, tbl) =
      if (parts.length == 2) (Some(parts(0)), parts(1)) else (None, parts(0))
    val db = dbOpt.getOrElse(spark.catalog.currentDatabase)
    val quoted = (dbOpt.toSeq :+ tbl).map(p => s"`$p`").mkString(".")
    spark.sql(s"DROP TABLE IF EXISTS $quoted")
    // Hadoop Path parses the location string directly (java.net.URI throws
    // on unencoded characters a database location may legally contain), and
    // the lowercase must be Locale.ROOT to match the metastore's — default-
    // locale lowercasing maps 'I' to dotless 'ı' under Turkish locales,
    // which would check (and delete!) the wrong directory.
    val dbLoc = new org.apache.hadoop.fs.Path(
      spark.catalog.getDatabase(db).locationUri)
    val loc = new org.apache.hadoop.fs.Path(
      dbLoc, tbl.toLowerCase(java.util.Locale.ROOT))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** S3/S4 JDBC variant — the reference's warehouse is a remote SQL store
    * reached through a connector (`snowflake_connector.py:166-246`); in Spark
    * the same sink is `format("jdbc")`, and the reference's manual chunk loop
    * maps onto partitioned writers + `batchsize`. */
  def writeJdbc(df: DataFrame, url: String, table: String,
                properties: java.util.Properties = new java.util.Properties(),
                mode: String, batchSize: Int): Unit =
    df.write.mode(mode)
      .option("batchsize", batchSize)
      .jdbc(url, table, properties)

  def readJdbc(spark: org.apache.spark.sql.SparkSession, url: String,
               table: String,
               properties: java.util.Properties = new java.util.Properties()): DataFrame =
    spark.read.jdbc(url, table, properties)
}
