package graft.catalog

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Expression => V2Expression}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReaderFactory, Scan, Statistics, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one scan graft's SQL read path plans: the inner parquet [[Scan]],
  * forwarded, plus up to four decorations.
  *
  *  - `keyed`: a storage-partitioned-join report. The scan of a
  *    bucket/identity/temporal-partitioned table reports Spark's
  *    `KeyGroupedPartitioning`, so two graft tables co-partitioned on the
  *    join key sort-merge join with ZERO shuffle on either side (and a
  *    `GROUP BY` on the partition key aggregates exchange-free). This is
  *    the DSv2 connector contract Iceberg uses; Spark's own file sources
  *    cannot do it. The per-file partition key comes from commit-time
  *    footer stats: the [[graft.write.Stager]] clusters every partitioned
  *    write by the derived transform columns, so each data file's
  *    derived-column stats have `min == max` — that value IS the file's
  *    partition tuple (an all-null source column groups to a null tuple
  *    via `nullCount == rowCount`). Files that predate the current spec or
  *    straddle values make the table ineligible ([[keyGrouping]] is None)
  *    — correctness never depends on the report. Split granularity is
  *    preserved: each inner [[FilePartition]] is re-cut per key, not
  *    collapsed to one partition per key; Spark's
  *    `BatchScanExec.groupPartitions` merges same-key splits only when a
  *    key-grouped plan is actually chosen.
  *  - `colStats`: CBO column statistics plus the engine's exact row count
  *    (Spark's parquet V2 scan reports only bytes; CBO cardinality
  *    estimation starts from rows).
  *  - `mor`: outstanding merge-on-read deletes, applied per row by
  *    [[MorSpjReader]] under the parquet scan — parquet pushdown and
  *    vectorized-backed reads instead of the join-based V1 `MorRead` scan.
  *    Deletes remove rows but never change a file's partition tuple, so a
  *    keyed report stays valid under MoR.
  *  - `runtimeFiltering`: off for the row-level FULL-GROUP fallback scan,
  *    whose commit replaces the entire planned file set, so it must read
  *    every row of it. Off, the scan reports neither runtime-filter
  *    attributes nor the key grouping. An empty `filterAttributes()` is
  *    what Spark's `RowLevelOperationRuntimeGroupFiltering` (guarded on
  *    `nonEmpty`) and DPP (pruning keys must be a subset of it) read as
  *    "no runtime filtering".
  *
  * A keyed or MoR scan plans its own input partitions (it is its own
  * [[Batch]]), with descriptions prefixed `graft-spj`, `graft-spj-mor` or
  * `graft-mor `. A stats-only decoration keeps `inner.toBatch` and the
  * inner description, so exchange reuse between identical scans is
  * unchanged. Build through [[GraftScan.apply]], which returns the inner
  * scan itself when there is nothing to add. */
final class GraftScan private (
    inner: Scan,
    keyed: Option[GraftScan.KeyGrouping],
    colStats: Option[(java.util.Map[NamedReference, ColumnStatistics], Long)],
    mor: Option[GraftScan.MorInfo],
    runtimeFiltering: Boolean)
  extends Scan with Batch with SupportsReportPartitioning
    with SupportsReportStatistics with SupportsRuntimeV2Filtering {
  import GraftScan._

  /** The same scan without runtime filtering (see the class doc). */
  def withoutRuntimeFiltering: GraftScan =
    new GraftScan(inner, keyed, colStats, mor, runtimeFiltering = false)

  private def reportsKeys: Option[KeyGrouping] =
    keyed.filter(_ => runtimeFiltering)

  override def readSchema(): StructType =
    mor.fold(inner.readSchema())(_.requestedSchema)
  override def description(): String = {
    val tag = (keyed.isDefined, mor.isDefined) match {
      case (true, true) => "graft-spj-mor "
      case (true, false) => "graft-spj "
      case (false, true) => "graft-mor "
      case (false, false) => ""
    }
    tag + inner.description()
  }
  override def toBatch: Batch =
    if (keyed.isEmpty && mor.isEmpty) inner.toBatch else this
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    // MoR: row-based by contract (per-row delete probing + positional
    // row counting happen on the row stream)
    if (mor.isDefined) Scan.ColumnarSupportMode.UNSUPPORTED
    else inner.columnarSupportMode()
  override def supportedCustomMetrics():
      Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    inner.supportedCustomMetrics()
  override def reportDriverMetrics():
      Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    inner.reportDriverMetrics()

  /** Join sizing must not degrade under the decoration: the parquet
    * scan's own estimate (broadcast decisions depend on it), with the
    * column stats and the exact row count when CBO asked for them. */
  override def estimateStatistics(): Statistics = {
    val base = inner match {
      case s: SupportsReportStatistics => s.estimateStatistics()
      case _ => new Statistics {
        override def sizeInBytes = java.util.OptionalLong.empty()
        override def numRows = java.util.OptionalLong.empty()
      }
    }
    colStats.fold(base) { case (cs, rows) =>
      new Statistics {
        override def sizeInBytes = base.sizeInBytes()
        override def numRows =
          if (base.numRows().isPresent) base.numRows()
          else java.util.OptionalLong.of(rows)
        override def columnStats() = cs
      }
    }
  }

  override def outputPartitioning(): Partitioning =
    reportsKeys.fold[Partitioning](new UnknownPartitioning(0))(k =>
      new KeyGroupedPartitioning(k.keyExprs, k.nKeys))

  /** Dynamic partition pruning: the value-exact layout means a file
    * whose partition key is outside the runtime IN-set provably holds
    * no matching row, so it is never opened. This is what keeps a
    * dim-filtered fact join at 100 TB from scanning every partition —
    * the DSv2 analogue of Hive-layout DPP, driven by the SAME
    * transform evaluation the key report binds. Over-retention is
    * always sound (the join re-filters); files are only dropped on a
    * provable key mismatch. The inner parquet scan has no runtime
    * filtering of its own, so an unkeyed scan offers none. */
  @volatile private var runtimeKept: Option[Set[String]] = None

  override def filterAttributes(): Array[NamedReference] =
    reportsKeys.fold(Array.empty[NamedReference]) { k =>
      k.fields.map(_._1.source).distinct
        .filter(src => k.fields.forall { case (s, dt) =>
          s.source != src || fieldEval(s, dt).isDefined })
        .map(Expressions.column).toArray
    }

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    reportsKeys.foreach { k =>
      // field index -> allowed encoded key values, intersected across
      // every delivered IN predicate
      var allowed = Map.empty[Int, Set[String]]
      predicates.foreach { p =>
        if (p.name() == "IN") {
          p.children().headOption match {
            case Some(ref: NamedReference) if ref.fieldNames().length == 1 =>
              val colName = ref.fieldNames()(0)
              val lits = p.children().drop(1).collect {
                case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
                  l.value().asInstanceOf[Any]
              }
              k.fields.zipWithIndex.foreach { case ((s, dt), idx) =>
                if (s.source == colName) fieldEval(s, dt).foreach { ev =>
                  val keys = lits.map(v => encode1(if (v == null) null else ev(v))).toSet
                  allowed = allowed.updated(idx,
                    allowed.get(idx).fold(keys)(_ intersect keys))
                }
              }
            case _ => ()
          }
        }
      }
      if (allowed.nonEmpty)
        runtimeKept = Some(k.keyByPath.collect {
          case (path, fk) if allowed.forall { case (i, ok) => ok.contains(fk.enc(i)) } =>
            path
        }.toSet)
    }

  override def createReaderFactory(): PartitionReaderFactory = {
    val base = inner.toBatch.createReaderFactory()
    mor.fold(base) { mi =>
      MorSpjReader.factory(
        org.apache.spark.sql.SparkSession.active, base,
        mi.tableSchema, mi.extendedSchema, mi.requestedSchema,
        mi.files, mi.deletes, mi.posDeletes)
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val parts = inner.toBatch.planInputPartitions()
    mor.fold(planKeyed(parts))(planMor(parts, _))
  }

  /** Re-cut each inner split on key boundaries, tagging every emitted
    * split with its `HasPartitionKey`. Any file the key map does not
    * cover (never expected — the map is built from the same snapshot
    * file list the parquet table reads) falls back to the inner
    * partitions verbatim rather than planning a wrong grouping; under MoR
    * that fallback would SKIP delete application, so [[planMor]] fails
    * loudly instead. */
  private def planKeyed(parts: Array[InputPartition]): Array[InputPartition] = {
    val out = Array.newBuilder[InputPartition]
    var idx = 0
    parts.foreach {
      case fp: FilePartition =>
        val withKeys = fp.files.flatMap { pf =>
          val (path, key) = keyOf(pf).getOrElse(return parts)
          // runtime-pruned file: provably holds no matching partition
          // key — skip it entirely (an empty group simply vanishes;
          // Spark allows dropped values, never new ones)
          if (runtimeKept.forall(_.contains(path))) Some(pf -> key) else None
        }
        withKeys.groupBy(_._2.tupleId).foreach { case (_, pairs) =>
          val key = pairs.head._2.row
          out += new FilePartition(idx, pairs.map(_._1)) with HasPartitionKey {
            override def partitionKey(): InternalRow = key
          }
          idx += 1
        }
      case _ => return parts
    }
    out.result()
  }

  /** MoR partition planning. Equality-only deletes keep the inner split
    * granularity, grouping splits by (partition key, data sequence) —
    * every file in a partition shares the sequence the reader fences
    * against. Outstanding POSITIONAL deletes additionally require
    * row-index counting, so each data file becomes ONE whole-file
    * partition (splits merged back). Same-key partitions still land in
    * one task when Spark picks the key-grouped plan
    * (`BatchScanExec.groupPartitions`), so a keyed join stays
    * shuffle-free. An unresolvable file fails loudly — reading it raw
    * would skip delete application. */
  private def planMor(parts: Array[InputPartition],
      mi: MorInfo): Array[InputPartition] = {
    def resolve(pf: PartitionedFile): (String, FileKey) =
      if (keyed.isEmpty)
        (enginePath(pf, mi.seqByPath.contains)
          .getOrElse(normPath(pf.urlEncodedPath)), NoKey)
      else keyOf(pf).getOrElse(throw new IllegalStateException(
        s"graft-spj-mor: data file ${pf.urlEncodedPath} has no " +
          "partition key in the snapshot — refusing to read it raw " +
          "(deletes would not apply)"))
    def seqOf(path: String, pf: PartitionedFile): Long =
      mi.seqByPath.getOrElse(path, throw new IllegalStateException(
        s"graft-mor: data file ${pf.urlEncodedPath} has no sequence in " +
          "the snapshot — refusing to read it raw (deletes would not apply)"))
    def keep(path: String): Boolean = runtimeKept.forall(_.contains(path))
    val out = Array.newBuilder[InputPartition]
    var idx = 0
    if (mi.posDeletes.nonEmpty) {
      val seen = scala.collection.mutable.Set.empty[String]
      parts.foreach {
        case fp: FilePartition => fp.files.foreach { pf =>
          val (path, key) = resolve(pf)
          if (!seen.contains(path)) {
            seen += path
            if (keep(path)) {
              val whole = pf.copy(pf.partitionValues, pf.filePath, 0L,
                pf.fileSize, pf.locations, pf.modificationTime, pf.fileSize,
                pf.otherConstantMetadataColumnValues)
              out += new MorPartition(idx, Array(whole), key.row,
                seqOf(path, pf), Some(path))
              idx += 1
            }
          }
        }
        case p => throw new IllegalStateException(
          s"graft-mor: unexpected non-file partition $p")
      }
    } else {
      parts.foreach {
        case fp: FilePartition =>
          val withKeys = fp.files.flatMap { pf =>
            val (path, key) = resolve(pf)
            if (keep(path)) Some((pf, key, seqOf(path, pf))) else None
          }
          withKeys.groupBy(t => (t._2.tupleId, t._3)).foreach {
            case ((_, seq), grp) =>
              out += new MorPartition(idx, grp.map(_._1), grp.head._2.row,
                seq, None)
              idx += 1
          }
        case p => throw new IllegalStateException(
          s"graft-mor: unexpected non-file partition $p")
      }
    }
    out.result()
  }

  private def keyOf(pf: PartitionedFile): Option[(String, FileKey)] =
    keyed.flatMap { k =>
      enginePath(pf, k.keyByPath.contains).map(p => p -> k.keyByPath(p))
    }
}

object GraftScan {

  /** Decorate `inner` (see [[GraftScan]]); with nothing to add, `inner`
    * itself, so a conf-off plan is byte-identical to the raw parquet
    * scan. */
  def apply(inner: Scan, keyed: Option[KeyGrouping],
      colStats: Option[(java.util.Map[NamedReference, ColumnStatistics], Long)],
      mor: Option[MorInfo]): Scan =
    if (keyed.isEmpty && colStats.isEmpty && mor.isEmpty) inner
    else new GraftScan(inner, keyed, colStats, mor, runtimeFiltering = true)

  /** MoR delete state: schemas (`extendedSchema` = requested columns ∪
    * equality-delete key columns, what the inner scan reads) + the delete
    * sets, plus the per-path data sequence (delete fencing). */
  final case class MorInfo(tableSchema: StructType,
      extendedSchema: StructType, requestedSchema: StructType,
      files: Seq[DataFile], deletes: Seq[DeleteFile],
      posDeletes: Seq[PosDeleteFile]) {
    val seqByPath: Map[String, Long] =
      files.map(f => normPath(f.path) -> f.dataSeq).toMap
  }

  /** A table's key-grouped layout: the V2 key expressions Spark binds,
    * every data file's partition key, the distinct key count, and the
    * spec fields with their derived stat types. */
  final case class KeyGrouping(keyExprs: Array[V2Expression],
      keyByPath: Map[String, FileKey], nKeys: Int,
      fields: Seq[(PartitionFieldSpec, DataType)])

  /** The key-grouped layout of `files`, or None: every partition-spec
    * field must be a supported transform of a column in `readSchema` (a
    * key over a column pruned from the scan output cannot be resolved by
    * the planner), and every data file must carry a decodable
    * single-valued partition tuple. */
  def keyGrouping(spec: Seq[PartitionFieldSpec], schema: StructType,
      readSchema: StructType, files: Seq[DataFile]): Option[KeyGrouping] = {
    if (spec.isEmpty || files.isEmpty) return None
    if (!spec.forall(s => readSchema.fieldNames.contains(s.source))) return None
    val supported =
      Set("identity", "bucket", "year", "month", "day", "hour", "truncate")
    if (!spec.forall(s => supported.contains(s.transform))) return None
    // derived stat type per transform — must agree with the canonical
    // stat encoding (TableMetadata.statTypeOf / FileStatsFold)
    val fieldTypes: Seq[DataType] = spec.map { s =>
      s.transform match {
        case "bucket" | "year" => IntegerType
        case "month" | "hour" => StringType
        case "day" => DateType
        case _ => schema.fields.find(_.name == s.source).map(_.dataType)
          .getOrElse(return None)
      }
    }
    val decoded: Seq[(String, FileKey)] = files.map { f =>
      val vals = spec.zip(fieldTypes).map { case (s, dt) =>
        decodeKey(f, s.name, dt).getOrElse(return None)
      }
      // injective tuple id: length-prefixed value strings (a separator
      // collision would silently merge two partition groups)
      val enc = vals.map(encode1).toArray
      val tupleId = enc.mkString("|")
      val row: InternalRow = new GenericInternalRow(vals.toArray)
      normPath(f.path) -> FileKey(tupleId, row, enc)
    }
    val keyExprs: Array[V2Expression] = spec.map { s =>
      s.transform match {
        case "bucket" =>
          Expressions.bucket(s.param.getOrElse(return None), s.source)
        case "year" => Expressions.years(s.source)
        case "month" => Expressions.months(s.source)
        case "day" => Expressions.days(s.source)
        case "hour" => Expressions.hours(s.source)
        // width baked into the function name: a literal-argument report
        // fails Spark's leaves-must-be-join-keys clustering check (see
        // GraftTemporalFunctions.TruncateUnbound)
        case "truncate" => Expressions.apply(
          s"truncate_${s.param.getOrElse(return None)}",
          Expressions.column(s.source))
        case _ => Expressions.identity(s.source)
      }
    }.toArray
    val nKeys = decoded.map(_._2.tupleId).distinct.size
    Some(KeyGrouping(keyExprs, decoded.toMap, nKeys, spec.zip(fieldTypes)))
  }

  /** A MoR partition: a [[FilePartition]] whose files all share one
    * partition tuple AND one data sequence (`fileSeq` fences equality
    * deletes); `posPath` is set — and the partition is a single whole
    * file — when positional deletes are outstanding, so the reader can
    * count row indexes. */
  final class MorPartition(idx: Int, pfiles: Array[PartitionedFile],
      key: InternalRow, val fileSeq: Long, val posPath: Option[String])
    extends FilePartition(idx, pfiles) with HasPartitionKey {
    override def partitionKey(): InternalRow = key
  }

  /** Per-field partition-key encoding shared by the tuple id and the
    * runtime-pruning comparison: injective on values, null-distinct. */
  private def encode1(v: Any): String = v match {
    case null => "~"
    case v => { val s = v.toString; s.length.toString + ":" + s }
  }

  /** A file's partition-tuple identity: the grouping id, the catalyst
    * key row, and the per-field encoded values (for runtime pruning). */
  final case class FileKey(
      tupleId: String, row: InternalRow, enc: Array[String])

  /** The key of every file of an unkeyed MoR scan: one group. */
  private val NoKey = FileKey("", new GenericInternalRow(Array.empty[Any]),
    Array.empty)

  /** Source-value → partition-key evaluator for one spec field — the
    * SAME V2 functions Spark binds for SPJ routing, so a runtime join
    * value is keyed exactly as the layout keyed the stored rows. None ⇒
    * this field cannot participate in runtime pruning (never expected
    * for a keyed spec, which pre-validates transforms). */
  private def fieldEval(s: PartitionFieldSpec, srcType: DataType): Option[Any => Any] = {
    import graft.functions.{GraftBucketFunction, GraftTemporalFunctions}
    def via(fname: String, out: DataType): Option[Any => Any] = {
      val b = GraftTemporalFunctions.Bound(fname, out, srcType)
      Some(v => b.produceResult(new GenericInternalRow(Array[Any](v))))
    }
    s.transform match {
      case "identity" => Some(identity[Any])
      case "bucket" => s.param.map { n =>
        val b = GraftBucketFunction.Bound(srcType)
        (v: Any) => b.produceResult(
          new GenericInternalRow(Array[Any](Integer.valueOf(n), v)))
      }
      case "year" => via("years", IntegerType)
      case "month" => via("months", StringType)
      case "day" => via("days", DateType)
      case "hour" => via("hours", StringType)
      case "truncate" => s.param.map { w =>
        val b = GraftTemporalFunctions.TruncateBound(srcType, w)
        (v: Any) => b.produceResult(new GenericInternalRow(Array[Any](v)))
      }
      case _ => None
    }
  }

  /** The file's single partition value for one derived column, as a
    * catalyst internal value; None ⇒ ineligible (absent stats, straddling
    * values, partial nulls, or an undecodable type). */
  private def decodeKey(f: DataFile, name: String, dt: DataType): Option[Any] = {
    val st = f.stats.get(name).getOrElse(return None)
    val nulls = st.nullCount.getOrElse(0L)
    if (nulls == f.rowCount && f.rowCount > 0) return Some(null)
    if (nulls != 0L) return None
    (st.min, st.max) match {
      case (Some(lo), Some(hi)) if lo == hi => decodeValue(dt, lo)
      case _ => None
    }
  }

  /** Canonical stat string → catalyst internal value (the encoding
    * [[graft.write.FileStatsFold]] wrote: epoch-day ints for dates,
    * epoch-micros longs for timestamps). */
  private def decodeValue(dt: DataType, s: String): Option[Any] =
    try dt match {
      case IntegerType | DateType => Some(s.toInt)
      case LongType | TimestampType | TimestampNTZType => Some(s.toLong)
      case ShortType => Some(s.toShort)
      case ByteType => Some(s.toByte)
      case StringType => Some(UTF8String.fromString(s))
      case FloatType => Some(s.toFloat)
      case DoubleType => Some(s.toDouble)
      case d: DecimalType =>
        Some(Decimal(new java.math.BigDecimal(s), d.precision, d.scale))
      case _ => None
    } catch { case _: NumberFormatException => None }

  /** Engine metadata stores plain absolute paths; PartitionedFile carries
    * a URI-ish SparkPath ("file:///..."). Compare on the URI path. */
  private def normPath(p: String): String =
    try {
      val u = new java.net.URI(p)
      if (u.getScheme != null && u.getPath != null) u.getPath else p
    } catch { case _: java.net.URISyntaxException => p }

  /** `pf`'s engine path, if `known`: its URI path as-is, else
    * URL-decoded. */
  private def enginePath(pf: PartitionedFile,
      known: String => Boolean): Option[String] = {
    val p1 = normPath(pf.urlEncodedPath)
    if (known(p1)) Some(p1)
    else Some(normPath(java.net.URLDecoder.decode(pf.urlEncodedPath, "UTF-8")))
      .filter(known)
  }
}
