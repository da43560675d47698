package graft.sources

import org.apache.spark.sql.types._

/** COLUMN DEFAULT VALUES — the shared encoding between the two
  * formats' spellings of the same idea:
  *
  *  - Iceberg v3 (spec §Default values): schema fields carry
  *    `initial-default` (what rows written BEFORE the field existed
  *    read) and `write-default` (what a writer fills when the caller
  *    omits the column), both as JSON single-values.
  *  - Delta (protocol §Column Default Values, writer feature
  *    `allowColumnDefaults`): field metadata key `CURRENT_DEFAULT`, a
  *    SQL expression string — WRITE-time only; rows written before the
  *    column existed read NULL (the protocol is explicit that defaults
  *    never rewrite history).
  *
  * Read-side mechanics for Iceberg: Spark's parquet reader honors the
  * `EXISTS_DEFAULT` field-metadata key for columns MISSING from a
  * file's physical schema (present columns always read their stored
  * bytes), which is exactly the spec's initial-default semantics —
  * so [[IcebergScan.sparkSchema]] maps `initial-default` to
  * `EXISTS_DEFAULT` and every scan branch inherits it for free.
  *
  * Supported default types: boolean, int, long, float, double,
  * string, date, timestamp — the primitive single-value encodings both
  * specs define and a SQL literal can spell exactly. */
object ColumnDefaults {
  import TableCommit.jstr

  /** the Spark SQL literal for `v` as type `dt` — rendered with
    * explicit casts where bare literals would parse to another type
    * (1.5 parses as DECIMAL, 42 as INT) */
  def sqlLiteral(dt: DataType, v: Any): String = (dt, v) match {
    case (BooleanType, b: java.lang.Boolean) => b.toString
    case (IntegerType, i: java.lang.Integer) => i.toString
    case (LongType, l: java.lang.Long) => s"${l}L"
    case (FloatType, f: java.lang.Float) => s"CAST('$f' AS FLOAT)"
    case (DoubleType, d: java.lang.Double) => s"CAST('$d' AS DOUBLE)"
    case (StringType, s: String) =>
      "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    case (DateType, d: java.sql.Date) => s"DATE '$d'"
    case (TimestampType, t: java.sql.Timestamp) =>
      s"TIMESTAMP '${t.toInstant.toString.stripSuffix("Z").replace("T", " ")}'"
    case _ => throw new IllegalArgumentException(
      s"unsupported default value ${Option(v).map(_.getClass.getName).getOrElse("null")} " +
        s"for ${dt.sql} — supported: boolean/int/long/float/double/string/date/timestamp")
  }

  /** Iceberg JSON single-value serialization (spec §JSON single-value)
    * of `v` as type `dt` */
  def icebergJsonValue(dt: DataType, v: Any): String = (dt, v) match {
    case (BooleanType, b: java.lang.Boolean) => b.toString
    case (IntegerType, i: java.lang.Integer) => i.toString
    case (LongType, l: java.lang.Long) => l.toString
    case (FloatType, f: java.lang.Float) => f.toString
    case (DoubleType, d: java.lang.Double) => d.toString
    case (StringType, s: String) => jstr(s)
    case (DateType, d: java.sql.Date) => jstr(d.toString)
    case (TimestampType, t: java.sql.Timestamp) =>
      jstr(t.toInstant.toString.stripSuffix("Z") match {
        case s if s.contains('.') => s
        case s => s + ".000000"
      })
    case _ => throw new IllegalArgumentException(
      s"unsupported default value for ${dt.sql}")
  }

  /** parse an Iceberg JSON single-value node back to the SQL literal
    * the reader's EXISTS_DEFAULT needs; None for shapes we don't
    * serve (readers must then fall back to NULL — conservative) */
  def sqlFromIcebergJson(dt: DataType,
      node: com.fasterxml.jackson.databind.JsonNode): Option[String] = dt match {
    case BooleanType if node.isBoolean => Some(node.asText())
    case IntegerType if node.isNumber => Some(node.asText())
    case LongType if node.isNumber => Some(node.asText() + "L")
    case FloatType if node.isNumber => Some(s"CAST('${node.asText()}' AS FLOAT)")
    case DoubleType if node.isNumber => Some(s"CAST('${node.asText()}' AS DOUBLE)")
    case StringType if node.isTextual =>
      Some("'" + node.asText().replace("\\", "\\\\").replace("'", "\\'") + "'")
    case DateType if node.isTextual => Some(s"DATE '${node.asText()}'")
    case TimestampType | TimestampNTZType if node.isTextual =>
      Some(s"TIMESTAMP '${node.asText().replace("T", " ")}'")
    case _ => scala.None
  }
}
