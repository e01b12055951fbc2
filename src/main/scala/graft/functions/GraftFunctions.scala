package graft.functions

import org.apache.spark.sql.Column

/** Column-level entry points for the engine's one custom scalar function.
  *
  * Backed by the native codegen'd Catalyst expression
  * [[graft.expr.ParseDateStruct]] — one parse feeds both channels, and the
  * ingest validation projection stays inside whole-stage codegen (a Scala UDF
  * here would split the generated stage). SQL callers get
  * `parse_date_struct` from [[graft.GraftExtensions]].
  */
object GraftFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Full parse: struct(error, value). Exactly one of the fields is null. */
  def parse_date_struct(c: Column): Column =
    ColumnBridge.column(graft.expr.ParseDateStruct(ColumnBridge.expression(c)))

  /** Parsed date or null (validation error swallowed). Subexpression
    * elimination collapses sibling getFields over the same parse. */
  def parse_date(c: Column): Column = parse_date_struct(c).getField("value")
}
