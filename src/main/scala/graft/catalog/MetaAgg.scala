package graft.catalog

import org.apache.spark.sql.Row
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate._
import org.apache.spark.sql.types._

/** Metadata-tier aggregate answering: COUNT(*)/COUNT(col)/MIN/MAX folded
  * from the snapshot's per-file stats — zero file IO, O(manifest) driver
  * work. The tier ABOVE parquet-footer aggregate pushdown (which still
  * opens every footer: 10⁵ files = 10⁵ reads at 100 TB; this is one
  * in-memory fold over stats the scan already holds). The same answering
  * Iceberg performs from manifests, including its partition-level form:
  * GROUP BY columns that are IDENTITY partition sources are served
  * per-group, because value-exact staging (one partition tuple per file,
  * so min == max on the source column) makes each file's group key a
  * metadata fact.
  *
  * Strictly conservative — `answer` returns None (falling back to the
  * parquet tier) unless the result is provably exact from stats:
  *
  *  - no outstanding MoR deletes (callers guard; deleted rows would count),
  *  - no filters of any kind (a filter changes every aggregate),
  *  - no DISTINCT,
  *  - GROUP BY only on identity-partition source columns where EVERY
  *    file is single-valued (min == max, no nulls) or provably all-null
  *    (the null partition slice, emitted as a null group),
  *  - COUNT(col) needs a null count on EVERY file (schema-evolution
  *    stragglers that predate the column refuse),
  *  - MIN/MAX only for numeric/date/timestamp columns — string footer
  *    stats may be writer-truncated, so they are never trusted as
  *    ORDERED bounds (string group KEYS are safe: parquet's truncation
  *    rounds min down and max up, so a truncated pair can never satisfy
  *    min == max) — and only when every file carries the bound or is
  *    provably all-null.
  */
object MetaAgg {

  private def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 =>
      Some(nr.fieldNames()(0))
    case _ => None
  }

  /** Types whose canonical stat encoding round-trips exactly as an
    * ORDERED bound (see [[graft.write.FooterStats]]): numerics as
    * themselves, dates as epoch-day, timestamps as epoch-micros. */
  private def minMaxSupported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
        DoubleType | _: DecimalType | DateType | TimestampType |
        TimestampNTZType => true
    case _ => false
  }

  /** Key-decodable types: everything [[decodeStat]] handles — the
    * group/filter-key admission rule (ordered-bound use additionally
    * requires [[minMaxSupported]]). */
  def keyDecodable(dt: DataType): Boolean =
    dt == StringType || minMaxSupported(dt)

  def decodeStat(dt: DataType, s: String): Any = dt match {
    case StringType => s
    case ByteType => s.toByte
    case ShortType => s.toShort
    case IntegerType => s.toInt
    case LongType => s.toLong
    case FloatType => s.toFloat
    case DoubleType => s.toDouble
    case d: DecimalType => new java.math.BigDecimal(s)
    case DateType => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(s.toLong))
    case TimestampType =>
      val micros = s.toLong
      val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
      t
    case TimestampNTZType =>
      val micros = s.toLong
      java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(micros, 1000000L),
        (Math.floorMod(micros, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
    case other => throw new IllegalStateException(s"MetaAgg.decode: $other")
  }

  /** Try to answer the whole pushed aggregation from stats. Returns the
    * scan output schema (PARTIAL-aggregate shape — group columns first,
    * then aggregate columns; Spark re-aggregates the returned rows, so
    * counts are LongType and min/max carry the column type) plus one row
    * per group (a single row for a global aggregate). */
  def answer(agg: Aggregation, schema: StructType, files: Seq[DataFile],
      partitionSpec: Seq[PartitionFieldSpec] = Nil)
      : Option[(StructType, Seq[Row])] = {

    // --- group keys: identity-partition sources, value-exact per file
    val groupNamesOpt = agg.groupByExpressions().toSeq.map(fieldOf)
    if (groupNamesOpt.exists(_.isEmpty)) return None
    val groupNames = groupNamesOpt.flatten
    val groupable = groupNames.forall { n =>
      schema.fieldNames.contains(n) &&
        partitionSpec.exists(s => s.source == n && s.transform == "identity") &&
        (schema(n).dataType == StringType || minMaxSupported(schema(n).dataType))
    }
    if (!groupable) return None

    /** The file's single group-key value: Some(Some(v)) when value-exact,
      * Some(None) for the all-null slice, None = refuse. */
    def keyOf(f: DataFile, name: String): Option[Option[Any]] =
      f.stats.get(name) match {
        case Some(cs) => (cs.min, cs.max) match {
          case (Some(a), Some(b)) if a == b && cs.nullCount.contains(0L) =>
            Some(Some(decodeStat(schema(name).dataType, a)))
          case (None, None) if cs.nullCount.contains(f.rowCount) =>
            Some(None)
          case _ => None
        }
        case _ => None
      }

    val keyed: Seq[Option[(Seq[Any], DataFile)]] = files.map { f =>
      val ks = groupNames.map(n => keyOf(f, n))
      if (ks.exists(_.isEmpty)) None
      else Some((ks.flatten.map(_.orNull), f))
    }
    if (keyed.exists(_.isEmpty)) return None
    val groups: Seq[(Seq[Any], Seq[DataFile])] =
      if (groupNames.isEmpty) Seq((Nil, files))
      else keyed.flatten.groupBy(_._1).toSeq.map { case (k, fs) =>
        (k, fs.map(_._2))
      }

    // --- aggregate folds over one group's files
    def countCol(fs: Seq[DataFile], name: String): Option[Long] = {
      if (!schema.fieldNames.contains(name)) return None
      val nulls = fs.map(_.stats.get(name).flatMap(_.nullCount))
      if (nulls.exists(_.isEmpty)) None
      else Some(fs.map(_.rowCount).sum - nulls.flatten.sum)
    }

    def bound(fs: Seq[DataFile], name: String, wantMin: Boolean)
        : Option[Option[Any]] = {
      if (!schema.fieldNames.contains(name)) return None
      val dt = schema(name).dataType
      if (!minMaxSupported(dt)) return None
      val perFile: Seq[Option[Option[String]]] = fs.map { f =>
        f.stats.get(name) match {
          case Some(cs) =>
            (if (wantMin) cs.min else cs.max) match {
              case Some(v) => Some(Some(v))
              case None if cs.nullCount.contains(f.rowCount) => Some(None)
              case None => None
            }
          case None => None
        }
      }
      if (perFile.exists(_.isEmpty)) return None
      val bounds = perFile.flatten.flatten
      if (bounds.isEmpty) Some(None)
      else {
        val pick = bounds.reduce { (a, b) =>
          val c = StatCompare.compare(dt, a, b)
          if ((c <= 0) == wantMin) a else b
        }
        Some(Some(decodeStat(dt, pick)))
      }
    }

    val aggFields: Seq[Option[(StructField, Seq[DataFile] => Option[Any])]] =
      agg.aggregateExpressions().toSeq.zipWithIndex.map {
        case (_: CountStar, i) =>
          Some((StructField(s"a$i", LongType, nullable = false),
            (fs: Seq[DataFile]) => Some(fs.map(_.rowCount).sum)))
        case (c: Count, i) if !c.isDistinct =>
          fieldOf(c.column).map(n =>
            (StructField(s"a$i", LongType, nullable = false),
              (fs: Seq[DataFile]) => countCol(fs, n).map(identity[Any])))
        case (m: Min, i) =>
          fieldOf(m.column).map(n =>
            (StructField(s"a$i", schema(n).dataType),
              (fs: Seq[DataFile]) => bound(fs, n, wantMin = true)
                .map(_.orNull)))
        case (m: Max, i) =>
          fieldOf(m.column).map(n =>
            (StructField(s"a$i", schema(n).dataType),
              (fs: Seq[DataFile]) => bound(fs, n, wantMin = false)
                .map(_.orNull)))
        case _ => None
      }
    if (aggFields.exists(_.isEmpty)) return None
    val folds = aggFields.flatten

    val outSchema = StructType(
      groupNames.zipWithIndex.map { case (n, i) =>
        StructField(s"g$i", schema(n).dataType, nullable = true)
      } ++ folds.map(_._1))

    val rows = groups.map { case (key, fs) =>
      val vals = folds.map { case (_, fold) => fold(fs) }
      if (vals.exists(_.isEmpty)) return None // an unfoldable group: refuse
      Row((key ++ vals.map(_.get)): _*)
    }
    Some((outSchema, rows))
  }
}
