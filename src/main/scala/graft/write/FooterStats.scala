package graft.write

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, DecimalLogicalTypeAnnotation, StringLogicalTypeAnnotation, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.types._
import graft.catalog.{ColumnStats, DataFile}
import scala.jdk.CollectionConverters._

/** Per-file column stats from parquet FOOTERS — no data re-read.
  *
  * The staged files were just written, so their footers already carry
  * min/max/null-count per row group; folding them is driver-side,
  * metadata-scale work. What a footer cannot hold (derived partition
  * values, blooms, sketches) is folded as the rows are written
  * ([[FileStatsFold]]). Values are canonicalized as the pruner reads them
  * back (`TableMetadata.statTypeOf`): temporal types as epoch longs,
  * everything else via plain string form.
  *
  * Parquet may truncate long binary stats to bounded prefixes; prefix
  * bounds stay conservative for range pruning, which is the only consumer
  * of string stats.
  */
object FooterStats {

  /** `conf` is an already-loaded Hadoop configuration (the session's),
    * used for the file and for the reader's options: a fresh
    * `Configuration` re-parses the default resources on first use. */
  def collect(files: Seq[String], schema: StructType,
      conf: Configuration): Seq[DataFile] = {
    val options = HadoopReadOptions.builder(conf).build()
    files.map { f =>
      val footer = {
        val in = HadoopInputFile.fromPath(new Path(f), conf)
        val r = ParquetFileReader.open(in, options)
        try r.getFooter finally r.close()
      }
      val blocks = footer.getBlocks.asScala.toSeq
      val rowCount = blocks.map(_.getRowCount).sum
      val stats = schema.fields.flatMap { field =>
        val perBlock = blocks.flatMap { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == field.name)
        }
        if (perBlock.isEmpty) None
        else {
          val s = perBlock.map(_.getStatistics)
          if (s.exists(st => st == null || !st.isNumNullsSet)) None
          else {
            val nulls = s.map(_.getNumNulls).sum
            val nonNull = s.filter(st => st.hasNonNullValue)
            if (nonNull.isEmpty) Some(field.name -> ColumnStats(None, None, Some(nulls)))
            else {
              val meta = perBlock.head
              val prim = meta.getPrimitiveType
              def decode(vals0: Seq[AnyRef]): Option[Seq[String]] = {
                val vals = vals0.map(v => canonical(prim.getPrimitiveTypeName,
                  prim.getLogicalTypeAnnotation, field.dataType, v))
                if (vals.exists(_.isEmpty)) None else Some(vals.map(_.get))
              }
              val mins = decode(nonNull.map(_.genericGetMin.asInstanceOf[AnyRef]))
              val maxs = decode(nonNull.map(_.genericGetMax.asInstanceOf[AnyRef]))
              (mins, maxs) match {
                case (Some(mn), Some(mx)) =>
                  Some(field.name -> ColumnStats(
                    Some(ordered(field.dataType, mn).head),
                    Some(ordered(field.dataType, mx).last),
                    Some(nulls)))
                case _ => Some(field.name -> ColumnStats(None, None, Some(nulls)))
              }
            }
          }
        }
      }.toMap
      DataFile(f, rowCount, java.nio.file.Files.size(java.nio.file.Paths.get(f)), stats)
    }.filter(_.rowCount > 0)
  }

  /** Sort canonical strings with the same typed ordering the pruner uses. */
  private def ordered(dt: DataType, vs: Seq[String]): Seq[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
        TimestampType | TimestampNTZType | _: TimeType => vs.sortBy(_.toLong)
    case FloatType | DoubleType => vs.sortBy(_.toDouble)
    case _: DecimalType => vs.sortBy(new java.math.BigDecimal(_))
    case _ => vs.sorted
  }

  /** One footer statistic in the canonical string encoding. */
  private def canonical(prim: PrimitiveTypeName,
      logical: LogicalTypeAnnotation, sparkType: DataType,
      v: AnyRef): Option[String] = (prim, logical, v) match {
    case (_, d: DecimalLogicalTypeAnnotation, x) =>
      val unscaled = x match {
        case i: java.lang.Integer => java.math.BigInteger.valueOf(i.longValue())
        case l: java.lang.Long => java.math.BigInteger.valueOf(l)
        case b: Binary => new java.math.BigInteger(b.getBytes)
        case _ => return None
      }
      Some(new java.math.BigDecimal(unscaled, d.getScale).toPlainString)
    case (_, _: DateLogicalTypeAnnotation, i: java.lang.Integer) =>
      Some(i.toString) // days since epoch — matches canonical date encoding
    case (_, t: TimestampLogicalTypeAnnotation, l: java.lang.Long) =>
      val micros = t.getUnit match {
        case LogicalTypeAnnotation.TimeUnit.MILLIS => l * 1000L
        case LogicalTypeAnnotation.TimeUnit.MICROS => l.longValue()
        case LogicalTypeAnnotation.TimeUnit.NANOS => l / 1000L
      }
      Some(micros.toString)
    // TIME → micros-of-day, the canonical engine encoding for the type
    case (_, t: LogicalTypeAnnotation.TimeLogicalTypeAnnotation,
        x: java.lang.Number) =>
      val micros = t.getUnit match {
        case LogicalTypeAnnotation.TimeUnit.MILLIS => x.longValue() * 1000L
        case LogicalTypeAnnotation.TimeUnit.MICROS => x.longValue()
        case LogicalTypeAnnotation.TimeUnit.NANOS => x.longValue() / 1000L
      }
      Some(micros.toString)
    case (_, _: StringLogicalTypeAnnotation, b: Binary) =>
      Some(b.toStringUsingUTF8)
    case (PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64, _,
        x: java.lang.Number) => Some(x.longValue().toString)
    case (PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE, _,
        x: java.lang.Number) => Some(x.doubleValue().toString)
    case (PrimitiveTypeName.BOOLEAN, _, _) => None
    case _ => None
  }
}
