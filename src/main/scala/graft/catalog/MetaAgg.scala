package graft.catalog

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
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
  *  - no filters beyond those [[StatsPrune.claim]] applied exactly by
  *    file selection (callers fold over the claimed files),
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

  /** Types whose stat bounds are exact (see [[graft.write.FooterStats]]):
    * every decodable type but strings, which writers may truncate. */
  private def minMaxSupported(dt: DataType): Boolean =
    dt != StringType && StatValue.decodable(dt)

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
        StatValue.decodable(schema(n).dataType)
    }
    if (!groupable) return None

    // each file's key: its value on every group column, null for the
    // all-null slice; any other shape refuses
    val keyed: Seq[(Seq[Any], DataFile)] = files.map { f =>
      groupNames.map(n => StatValue.of(f, n, schema(n).dataType) match {
        case StatValue.Point(v) => v
        case StatValue.AllNull => null
        case _ => return None
      }) -> f
    }
    val groups: Seq[(Seq[Any], Seq[DataFile])] =
      if (groupNames.isEmpty) Seq((Nil, files))
      else keyed.groupBy(_._1).toSeq.map { case (k, fs) =>
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
        StatValue.decode(dt, pick).map(Some(_))
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
      // stat values are catalyst values; the scan serves external rows
      CatalystTypeConverters.convertToScala(
        InternalRow.fromSeq(key ++ vals.map(_.get)), outSchema).asInstanceOf[Row]
    }
    Some((outSchema, rows))
  }
}
