package graft.catalog

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one reader of the canonical stat encoding — what
  * [[graft.write.FooterStats]] and [[graft.write.FileStatsFold]] write and
  * `Stager.canonicalKey` probes with: epoch days for dates, epoch micros
  * for timestamps, plain string forms for everything else. [[StatCompare]]
  * orders stat strings; this turns them back into values. Each caller
  * keeps its own type admission: metadata aggregates and claiming take
  * every [[decodable]] type as a key, CBO reports only primitive bounds.
  */
object StatValue {

  /** A column's values on one file, as its stats tell them. */
  sealed trait Shape
  /** Every row holds `v` (no nulls, `min == max`). */
  final case class Point(v: Any) extends Shape
  /** Every row is null (no bounds, `nullCount == rowCount`). */
  case object AllNull extends Shape
  /** No nulls, values within `[lo, hi]`, `lo != hi`. */
  final case class Interval(lo: Any, hi: Any) extends Shape
  /** Missing stats, partial nulls, or an undecodable value. */
  case object Unknown extends Shape

  /** Types [[decode]] reads. */
  def decodable(dt: DataType): Boolean = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | _: DecimalType | DateType | TimestampType |
        TimestampNTZType => true
    case _ => false
  }

  /** A canonical stat string as its catalyst value: epoch-day ints for
    * dates, epoch-micros longs for timestamps, `UTF8String` for strings,
    * `Decimal` at the column's precision and scale for decimals. None for
    * an undecodable type or a malformed string. */
  def decode(dt: DataType, s: String): Option[Any] =
    try dt match {
      case StringType => Some(UTF8String.fromString(s))
      case ByteType => Some(s.toByte)
      case ShortType => Some(s.toShort)
      case IntegerType | DateType => Some(s.toInt)
      case LongType | TimestampType | TimestampNTZType => Some(s.toLong)
      case FloatType => Some(s.toFloat)
      case DoubleType => Some(s.toDouble)
      case d: DecimalType =>
        Some(Decimal(new java.math.BigDecimal(s), d.precision, d.scale))
      case _ => None
    } catch { case _: NumberFormatException | _: ArithmeticException => None }

  /** Column `col` (of type `dt`) on file `f`. */
  def of(f: DataFile, col: String, dt: DataType): Shape =
    f.stats.get(col) match {
      case Some(ColumnStats(Some(lo), Some(hi), Some(0L), _, _)) =>
        if (lo == hi) decode(dt, lo).fold[Shape](Unknown)(Point(_))
        else (decode(dt, lo), decode(dt, hi)) match {
          case (Some(a), Some(b)) => Interval(a, b)
          case _ => Unknown
        }
      case Some(ColumnStats(None, None, Some(n), _, _)) if n == f.rowCount =>
        AllNull
      case _ => Unknown
    }
}
