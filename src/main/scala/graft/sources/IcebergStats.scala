package graft.sources

import java.math.{BigDecimal => JBigDecimal}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.types._

/** Iceberg column statistics: the spec's single-value BINARY
  * serialization (little-endian fixed width for numerics/dates/
  * timestamps, raw UTF-8 for strings — iceberg.apache.org/spec
  * "Binary single-value serialization") bridged both ways:
  *
  *   - WRITE: parquet footer min/max/null-counts → per-field-id
  *     `lower_bounds`/`upper_bounds`/`null_value_counts` maps for the
  *     manifest `data_file` record ([[IcebergWrite]] attaches them).
  *   - READ: those maps decoded back into [[ParquetStats.FileStats]]'
  *     comparison domain (numbers → BigDecimal, strings/dates/
  *     timestamps → their sortable serialized forms), so the SAME
  *     pruner ([[ParquetStats.mayMatch]]) drives Iceberg file skipping
  *     that drives Delta's.
  *
  * Unsupported column types simply contribute no bounds (per-column
  * bounds are optional in the spec; the pruner keeps files it cannot
  * prove out). Parquet string stats may be TRUNCATED by the writer —
  * parquet-mr's truncator keeps them valid as bounds (max's last byte
  * is incremented), so decoding them stays conservative. */
object IcebergStats {

  /** types this codec serializes (the minimal writer's primitive set
    * minus decimal/binary) */
  private def supported(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | StringType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  // ---- encode: JVM value (from parquet Statistics) → spec binary ------

  private def le(n: Int): ByteBuffer =
    ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  /** bounds for a wide string column must not bloat every manifest —
    * Iceberg's write.metadata.metrics default truncates to 16 chars.
    * Truncation happens in CHAR space (code units, never splitting a
    * surrogate pair) so the result is always valid Unicode and the
    * pruner's String.compareTo ordering is preserved. */
  private val StringBoundChars = 16

  /** a prefix is ≤ the full string → always a valid LOWER bound */
  private[graft] def truncateLowerStr(s: String): String =
    if (s.length <= StringBoundChars) s
    else {
      var cut = StringBoundChars
      if (Character.isHighSurrogate(s.charAt(cut - 1))) cut -= 1
      s.substring(0, cut)
    }

  /** truncated UPPER bound: the prefix with its last safely-
    * incrementable char bumped (and the tail dropped) is > every
    * string sharing the prefix. A char is safe to bump when +1 does
    * not overflow, land in the surrogate range, or corrupt a pair;
    * unsafe trailing chars are dropped first. None when nothing can
    * be bumped — the column then carries no upper bound, which only
    * costs pruning power, never correctness. */
  private[graft] def truncateUpperStr(s: String): Option[String] = {
    if (s.length <= StringBoundChars) return Some(s)
    val p = truncateLowerStr(s)
    var i = p.length - 1
    def safe(c: Char): Boolean =
      !Character.isSurrogate(c) && c != 0xFFFF.toChar &&
        !(c >= 0xD7FF.toChar && c < 0xE000.toChar)
    while (i >= 0 && !safe(p.charAt(i))) i -= 1
    if (i < 0) scala.None
    else scala.Some(p.substring(0, i) + (p.charAt(i) + 1).toChar)
  }

  private def encode(dt: DataType, v: Any): Option[Array[Byte]] = (dt, v) match {
    case (BooleanType, b: java.lang.Boolean) =>
      Some(Array[Byte](if (b) 1 else 0))
    case (ByteType | ShortType | IntegerType | DateType, i: java.lang.Integer) =>
      Some(le(4).putInt(i).array())
    case (LongType | TimestampType | TimestampNTZType, l: java.lang.Long) =>
      Some(le(8).putLong(l).array())
    case (FloatType, f: java.lang.Float) =>
      Some(le(4).putFloat(f).array())
    case (DoubleType, d: java.lang.Double) =>
      Some(le(8).putDouble(d).array())
    case (StringType, b: org.apache.parquet.io.api.Binary) =>
      Some(b.getBytes)
    case _ => None
  }

  /** [[encode]] for plain JVM values (manifest partition records hand
    * us String, not parquet Binary) — the partition-pruning entry */
  private[sources] def encodeValue(dt: DataType, v: Any): Option[Array[Byte]] = v match {
    case s: String => encode(dt, org.apache.parquet.io.api.Binary.fromString(s))
    case other => encode(dt, other)
  }

  /** (lower, upper, nullCounts) keyed by Iceberg field id, from one
    * parquet footer (the one [[TableCommit.stage]] read for the row
    * count). Bounds only for columns whose
    * EVERY row group has usable statistics. */
  def footerBounds(footer: ParquetMetadata, schema: StructType,
      idByName: Map[String, Int])
      : (Map[Int, Array[Byte]], Map[Int, Array[Byte]], Map[Int, Long]) = {
    val blocks = footer.getBlocks.asScala.toSeq
    val lower = Map.newBuilder[Int, Array[Byte]]
    val upper = Map.newBuilder[Int, Array[Byte]]
    val nulls = Map.newBuilder[Int, Long]
    schema.fields.filter(f => supported(f.dataType)).foreach { f =>
      idByName.get(f.name).foreach { id =>
        val chunks = blocks.flatMap(_.getColumns.asScala.find { c =>
          val p = c.getPath.toArray
          p.length == 1 && p(0) == f.name
        })
        if (chunks.length == blocks.length && blocks.nonEmpty) {
          val stats: Seq[Statistics[_]] = chunks.map(_.getStatistics)
          if (stats.forall(s => s != null && s.isNumNullsSet))
            nulls += id -> stats.map(_.getNumNulls).sum
          if (stats.forall(s => s != null && s.hasNonNullValue)) {
            val per = stats.flatMap { s =>
              for {
                lo <- encode(f.dataType, s.genericGetMin)
                hi <- encode(f.dataType, s.genericGetMax)
                loC <- toCmp(f.dataType, lo)
                hiC <- toCmp(f.dataType, hi)
              } yield (lo, hi, loC, hiC)
            }
            if (per.length == stats.length) {
              val lo0 = per.minBy(_._3)(cmpOrd)._1
              val hi0 = per.maxBy(_._4)(cmpOrd)._2
              f.dataType match {
                case StringType =>
                  lower += id -> truncateLowerStr(
                    new String(lo0, StandardCharsets.UTF_8))
                    .getBytes(StandardCharsets.UTF_8)
                  truncateUpperStr(new String(hi0, StandardCharsets.UTF_8))
                    .foreach(u => upper += id -> u.getBytes(StandardCharsets.UTF_8))
                case _ =>
                  lower += id -> lo0
                  upper += id -> hi0
              }
            }
          }
        }
      }
    }
    (lower.result(), upper.result(), nulls.result())
  }

  // ---- decode: spec binary → the pruner's comparison domain -----------

  /** decoded value in [[ParquetStats.FileStats]]' domain: BigDecimal
    * for numerics, sortable serialized strings for string/date/ts */
  def decode(dt: DataType, bytes: Array[Byte]): Option[Any] = dt match {
    case BooleanType if bytes.length == 1 =>
      Some(new JBigDecimal(if (bytes(0) == 0) 0 else 1))
    case ByteType | ShortType | IntegerType if bytes.length == 4 =>
      Some(new JBigDecimal(
        ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getInt))
    case LongType if bytes.length == 8 =>
      Some(new JBigDecimal(
        ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getLong))
    case FloatType if bytes.length == 4 =>
      val f = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getFloat
      if (f.isNaN || f.isInfinite) None else Some(new JBigDecimal(f.toDouble))
    case DoubleType if bytes.length == 8 =>
      val d = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getDouble
      if (d.isNaN || d.isInfinite) None else Some(new JBigDecimal(d))
    case StringType => Some(new String(bytes, StandardCharsets.UTF_8))
    case DateType if bytes.length == 4 =>
      Some(java.time.LocalDate.ofEpochDay(
        ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getInt.toLong).toString)
    case TimestampType | TimestampNTZType if bytes.length == 8 =>
      Some(ParquetStats.microsString(
        ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getLong))
    case _ => None
  }

  /** one file's manifest-carried stats as [[ParquetStats.FileStats]] */
  def toFileStats(schema: StructType, nameById: Map[Int, StructField],
      numRecords: Long,
      lower: Map[Int, Array[Byte]], upper: Map[Int, Array[Byte]],
      nulls: Map[Int, Long]): ParquetStats.FileStats = {
    def dec(m: Map[Int, Array[Byte]]): Map[String, Any] =
      m.flatMap { case (id, bytes) =>
        nameById.get(id).flatMap(f => decode(f.dataType, bytes).map(f.name -> _))
      }
    ParquetStats.FileStats(numRecords, dec(lower), dec(upper),
      nulls.flatMap { case (id, n) => nameById.get(id).map(_.name -> n) })
  }

  // ordering mirror for min-of-mins / max-of-maxes across row groups
  private sealed trait Cmp
  private final case class NumC(v: JBigDecimal) extends Cmp
  private final case class StrC(v: String) extends Cmp
  private val cmpOrd: Ordering[Cmp] = new Ordering[Cmp] {
    def compare(a: Cmp, b: Cmp): Int = (a, b) match {
      case (NumC(x), NumC(y)) => x.compareTo(y)
      case (StrC(x), StrC(y)) => x.compareTo(y)
      case _ => 0
    }
  }
  private def toCmp(dt: DataType, bytes: Array[Byte]): Option[Cmp] =
    decode(dt, bytes).map {
      case d: JBigDecimal => NumC(d)
      case s: String => StrC(s)
    }
}
