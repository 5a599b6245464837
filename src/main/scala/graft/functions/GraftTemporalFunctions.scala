package graft.functions

import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The engine's temporal partition transforms (`year`/`month`/`day`/
  * `hour`, [[graft.partition.Transforms.expression]] semantics: calendar
  * year int, "yyyy-MM" string, date, "yyyy-MM-dd-HH" string — all under
  * the engine's pinned UTC sessions) served as V2 catalog functions, so
  * [[graft.catalog.GraftScan]]'s `KeyGroupedPartitioning` over
  * `days(ts)`-style transforms resolves on both sides of a join and a
  * ts-equality join of two day-partitioned tables plans shuffle-free.
  * `produceResult` must agree bit-for-bit with the write-side column
  * expressions — it is what Spark evaluates to route a plain relation
  * into the table's layout under one-sided SPJ shuffle. */
object GraftTemporalFunctions {

  val names: Seq[String] = Seq("years", "months", "days", "hours")

  private val TruncName = """truncate_(\d+)""".r

  def forName(name: String): Option[UnboundFunction] = name match {
    case "years" => Some(Unbound("years", IntegerType))
    case "months" => Some(Unbound("months", StringType))
    case "days" => Some(Unbound("days", DateType))
    case "hours" => Some(Unbound("hours", StringType))
    case TruncName(w) => Some(TruncateUnbound(w.toInt))
    case _ => None
  }

  /** `truncate_W(col)` with the write-side semantics of
    * [[graft.partition.Transforms.expression]]: string prefix of W
    * chars; int/long/decimal floored to a multiple of W. The width is
    * baked into the FUNCTION NAME (a width-parameterized family, not a
    * literal argument) because Spark's clustering-compatibility check
    * requires every leaf of a reported partition transform to be a join
    * key — a `truncate(col, 4)` report carries the literal 4 as a leaf
    * and silently disqualifies the partitioning, while `truncate_4(col)`
    * has the column as its only child. `canonicalName` carries the
    * width, so differently-truncated sides can never co-partition. */
  private final case class TruncateUnbound(width: Int) extends UnboundFunction {
    override def name(): String = s"truncate_$width"
    override def description(): String =
      s"truncate_$width(col): graft truncate partition transform"
    override def bind(inputType: StructType): BoundFunction = {
      if (inputType.fields.length != 1)
        throw new UnsupportedOperationException(
          s"truncate_$width takes one argument, got ${inputType.simpleString}")
      inputType.fields(0).dataType match {
        case dt @ (StringType | IntegerType | LongType) =>
          TruncateBound(dt, width)
        case dt: DecimalType => TruncateBound(dt, width)
        case other => throw new UnsupportedOperationException(
          s"truncate does not support ${other.simpleString}")
      }
    }
  }

  final case class TruncateBound(in: DataType, w: Int) extends ScalarFunction[Any] {
    override def inputTypes(): Array[DataType] = Array(in)
    override def resultType(): DataType = in
    override def name(): String = s"truncate_$w"
    override def canonicalName(): String =
      s"graft.truncate[$w](${in.catalogString})"
    override def isResultNullable: Boolean = true
    override def produceResult(input: InternalRow): Any = {
      if (input.isNullAt(0)) return null
      in match {
        case StringType =>
          val s = input.get(0, StringType).asInstanceOf[UTF8String]
          s.substringSQL(1, w)
        case IntegerType =>
          val v = input.getInt(0)
          Integer.valueOf(v - java.lang.Math.floorMod(v, w))
        case LongType =>
          val v = input.getLong(0)
          java.lang.Long.valueOf(v - java.lang.Math.floorMod(v, w.toLong))
        case d: DecimalType =>
          // floor to a multiple of w in the unscaled domain (write-side
          // Transforms.expression decimal rule)
          val v = input.getDecimal(0, d.precision, d.scale)
          val unit = new java.math.BigDecimal(
            java.math.BigInteger.valueOf(w.toLong), d.scale)
          val jb = v.toJavaBigDecimal
          val rem = jb.remainder(unit)
          val adj = if (rem.signum() < 0) rem.add(unit) else rem
          org.apache.spark.sql.types.Decimal(jb.subtract(adj), d.precision, d.scale)
        case other => throw new IllegalStateException(s"unbindable $other")
      }
    }
  }

  private final case class Unbound(fname: String, out: DataType)
      extends UnboundFunction {
    override def name(): String = fname
    override def description(): String =
      s"$fname(col): graft temporal partition transform"
    override def bind(inputType: StructType): BoundFunction = {
      if (inputType.fields.length != 1)
        throw new UnsupportedOperationException(
          s"$fname takes one temporal argument, got ${inputType.simpleString}")
      inputType.fields(0).dataType match {
        case dt @ (TimestampType | TimestampNTZType | DateType) =>
          Bound(fname, out, dt)
        case other => throw new UnsupportedOperationException(
          s"$fname does not support ${other.simpleString}")
      }
    }
  }

  private val monthFmt = DateTimeFormatter.ofPattern("yyyy-MM")
  private val hourFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd-HH")

  final case class Bound(fname: String, out: DataType, in: DataType)
      extends ScalarFunction[Any] {
    override def inputTypes(): Array[DataType] = Array(in)
    override def resultType(): DataType = out
    override def name(): String = fname
    override def canonicalName(): String = s"graft.$fname(${in.catalogString})"
    override def isResultNullable: Boolean = true

    private def localDateTime(row: InternalRow): LocalDateTime = in match {
      case DateType =>
        LocalDate.ofEpochDay(row.getInt(0).toLong).atStartOfDay()
      case _ => // micros since epoch, UTC wall clock (sessions pin UTC).
        // Split into seconds + nanos-of-second: a micros*1000 nano
        // conversion overflows Long past 2262-04-11, silently mis-keying
        // far-future timestamps (e.g. a 9999-12-31 sentinel) on the
        // shuffle side of a one-sided SPJ.
        val us = row.getLong(0)
        LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt, ZoneOffset.UTC)
    }

    override def produceResult(input: InternalRow): Any = {
      if (input.isNullAt(0)) return null
      val t = localDateTime(input)
      fname match {
        case "years" => Integer.valueOf(t.getYear)
        case "months" => UTF8String.fromString(monthFmt.format(t))
        case "days" => Integer.valueOf(t.toLocalDate.toEpochDay.toInt)
        case "hours" => UTF8String.fromString(hourFmt.format(t))
        case other => throw new IllegalStateException(s"unbindable $other")
      }
    }
  }
}
