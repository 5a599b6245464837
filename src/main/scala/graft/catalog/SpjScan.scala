package graft.catalog

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, Expression => V2Expression}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReaderFactory, Scan, Statistics, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Storage-partitioned-join support: wraps the hot-path parquet [[Scan]]
  * of a bucket/identity-partitioned table so it reports Spark's
  * `KeyGroupedPartitioning` — two graft tables co-partitioned on the
  * join key then sort-merge join with ZERO shuffle on either side (and a
  * `GROUP BY` on the partition key aggregates exchange-free). This is
  * the DSv2 connector contract Iceberg uses; Spark's own file sources
  * cannot do it, and at 100 TB it deletes the single largest cost of a
  * fact-fact join (re-shuffling both sides on every query) in favor of
  * the layout the writer already paid for once.
  *
  * The per-file partition key comes from commit-time footer stats: the
  * [[graft.write.Stager]] clusters every partitioned write by the
  * derived transform columns, so each data file's derived-column stats
  * have `min == max` — that value IS the file's partition tuple (an
  * all-null source column groups to a null tuple via `nullCount ==
  * rowCount`). Files that predate the current spec (spec evolution) or
  * straddle values make the table ineligible and the scan is returned
  * unwrapped — correctness never depends on the wrap.
  *
  * Split granularity is preserved: each inner [[FilePartition]] is
  * re-cut per key, not collapsed to one partition per key, so when SPJ
  * does not apply the scan parallelism stays byte-sized; Spark's
  * `BatchScanExec.groupPartitions` merges same-key splits only when a
  * key-grouped plan is actually chosen. Gated on
  * `spark.sql.sources.v2.bucketing.enabled` at build() (Spark ignores
  * the report when the flag is off, so an unwrapped scan is the exact
  * pre-SPJ plan). */
object SpjScan {

  /** Wrap `scan` if every partition-spec field is a supported transform
    * of a column the scan reads and every current data file carries a
    * decodable single-valued partition tuple; otherwise return `scan`
    * unchanged. */
  def wrap(scan: Scan, spec: Seq[PartitionFieldSpec], schema: StructType,
      files: Seq[DataFile],
      colStats: Option[java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]] =
        None): Scan =
    eligibility(spec, schema, scan.readSchema(), files).fold(scan) { e =>
      new GroupedScan(scan, e.keyExprs, e.keyByPath, e.nKeys, e.fields,
        colStats)
    }

  /** Merge-on-read SPJ: wrap `scan` (the inner parquet scan, pruned to
    * `extendedSchema` = requested columns ∪ equality-delete key columns)
    * so it reports the SAME `KeyGroupedPartitioning` as the clean path
    * while [[MorSpjReader]] applies the outstanding deletes per row.
    * Deletes remove rows but never change a file's partition tuple, so
    * the commit-time key layout stays valid under MoR — this is what
    * keeps a merged co-bucketed fact table joining shuffle-free instead
    * of dropping to the reshuffling V1 fallback. None ⇒ ineligible
    * (caller falls back to the V1 MorRead scan; correctness never
    * depends on the wrap). */
  def wrapMor(scan: Scan, spec: Seq[PartitionFieldSpec],
      tableSchema: StructType, extendedSchema: StructType,
      requestedSchema: StructType, files: Seq[DataFile],
      deletes: Seq[DeleteFile], posDeletes: Seq[PosDeleteFile]): Option[Scan] =
    eligibility(spec, tableSchema, requestedSchema, files).map { e =>
      new GroupedScan(scan, e.keyExprs, e.keyByPath, e.nKeys, e.fields,
        colStats = None,
        mor = Some(MorInfo(tableSchema, extendedSchema, requestedSchema,
          files, deletes, posDeletes)))
    }

  /** Plain (non-key-reporting) MoR wrap: the per-row delete reader over
    * the parquet scan WITHOUT a partitioning report — for unpartitioned
    * tables and spec shapes the SPJ key decode cannot serve. Still a
    * strict upgrade over the V1 DataFrame fallback: parquet pushdown
    * (equality-only mode), vectorized-backed reads, no per-query
    * broadcast-join planning. Needs no stats eligibility — only per-file
    * data sequences, which every snapshot carries. */
  def wrapMorPlain(scan: Scan, tableSchema: StructType,
      extendedSchema: StructType, requestedSchema: StructType,
      files: Seq[DataFile], deletes: Seq[DeleteFile],
      posDeletes: Seq[PosDeleteFile]): Scan =
    new MorPlainScan(scan, MorInfo(tableSchema, extendedSchema,
      requestedSchema, files, deletes, posDeletes))

  /** MoR wrap state: schemas + the delete sets, plus per-path data
    * sequence (delete fencing) and file size (whole-file splits for
    * positional row counting). */
  private final case class MorInfo(tableSchema: StructType,
      extendedSchema: StructType, requestedSchema: StructType,
      files: Seq[DataFile], deletes: Seq[DeleteFile],
      posDeletes: Seq[PosDeleteFile]) {
    val seqByPath: Map[String, Long] =
      files.map(f => normPath(f.path) -> f.dataSeq).toMap
  }

  private final case class Eligibility(keyExprs: Array[V2Expression],
      keyByPath: Map[String, FileKey], nKeys: Int,
      fields: Seq[(PartitionFieldSpec, DataType)])

  /** Shared eligibility + key decode for the clean and MoR wraps: every
    * partition-spec field a supported transform of a column in
    * `readSchema` (a key over a column pruned from the scan output cannot
    * be resolved by the planner), every data file carrying a decodable
    * single-valued partition tuple. */
  private def eligibility(spec: Seq[PartitionFieldSpec], schema: StructType,
      readSchema: StructType, files: Seq[DataFile]): Option[Eligibility] = {
    if (spec.isEmpty || files.isEmpty) return None
    if (!spec.forall(s => readSchema.fieldNames.contains(s.source))) return None
    val supported =
      Set("identity", "bucket", "year", "month", "day", "hour", "truncate")
    if (!spec.forall(s => supported.contains(s.transform))) return None
    // derived stat type per transform — must agree with the canonical
    // stat encoding (TableMetadata.statTypeOf / Stager.statColumn)
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
    Some(Eligibility(keyExprs, decoded.toMap, nKeys, spec.zip(fieldTypes)))
  }

  /** A key-grouped MoR partition: a [[FilePartition]] whose files all
    * share one partition tuple AND one data sequence (`fileSeq` fences
    * equality deletes); `posPath` is set — and the partition is a single
    * whole file — when positional deletes are outstanding, so the reader
    * can count row indexes. */
  final class MorPartition(idx: Int,
      pfiles: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
      key: InternalRow, val fileSeq: Long, val posPath: Option[String])
    extends FilePartition(idx, pfiles) with HasPartitionKey {
    override def partitionKey(): InternalRow = key
  }

  /** Shared MoR partition planning (keyed and plain wraps). Equality-only
    * deletes keep the inner split granularity, grouping splits by
    * (group id, data sequence) — every file in a partition shares the
    * sequence the reader fences against. Outstanding POSITIONAL deletes
    * additionally require row-index counting, so each data file becomes
    * ONE whole-file partition (splits merged back). `resolve` yields the
    * file's engine path, grouping id, and partition-key row (empty for
    * the plain wrap); `keep` applies runtime pruning. An unresolvable
    * file fails loudly — reading it raw would skip delete application. */
  private def planMorShared(parts: Array[InputPartition], mi: MorInfo,
      resolve: org.apache.spark.sql.execution.datasources.PartitionedFile =>
        (String, String, InternalRow),
      keep: String => Boolean): Array[InputPartition] = {
    def seqOf(path: String,
        pf: org.apache.spark.sql.execution.datasources.PartitionedFile): Long =
      mi.seqByPath.getOrElse(path, throw new IllegalStateException(
        s"graft-mor: data file ${pf.urlEncodedPath} has no sequence in " +
          "the snapshot — refusing to read it raw (deletes would not apply)"))
    val out = Array.newBuilder[InputPartition]
    var idx = 0
    if (mi.posDeletes.nonEmpty) {
      val seen = scala.collection.mutable.Set.empty[String]
      parts.foreach {
        case fp: FilePartition => fp.files.foreach { pf =>
          val (path, _, key) = resolve(pf)
          if (!seen.contains(path)) {
            seen += path
            if (keep(path)) {
              val whole = pf.copy(pf.partitionValues, pf.filePath, 0L,
                pf.fileSize, pf.locations, pf.modificationTime, pf.fileSize,
                pf.otherConstantMetadataColumnValues)
              out += new MorPartition(idx, Array(whole), key, seqOf(path, pf),
                Some(path))
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
            val (path, gid, key) = resolve(pf)
            if (keep(path)) Some((pf, gid, key, seqOf(path, pf))) else None
          }
          withKeys.groupBy(t => (t._2, t._4)).foreach { case ((_, seq), grp) =>
            out += new MorPartition(idx, grp.map(_._1), grp.head._3, seq, None)
            idx += 1
          }
        case p => throw new IllegalStateException(
          s"graft-mor: unexpected non-file partition $p")
      }
    }
    out.result()
  }

  /** The plain MoR wrap: per-row delete application over the parquet
    * scan, no partitioning report (see [[wrapMorPlain]]). */
  private final class MorPlainScan(inner: Scan, mi: MorInfo)
    extends Scan with Batch with SupportsReportStatistics {

    override def readSchema(): StructType = mi.requestedSchema
    override def description(): String = s"graft-mor ${inner.description()}"
    override def toBatch: Batch = this
    override def columnarSupportMode(): Scan.ColumnarSupportMode =
      Scan.ColumnarSupportMode.UNSUPPORTED
    override def estimateStatistics(): Statistics = ScanStats.innerOf(inner)
    override def createReaderFactory(): PartitionReaderFactory =
      MorSpjReader.factory(org.apache.spark.sql.SparkSession.active,
        inner.toBatch.createReaderFactory(), mi.tableSchema,
        mi.extendedSchema, mi.requestedSchema, mi.files, mi.deletes,
        mi.posDeletes)
    override def planInputPartitions(): Array[InputPartition] = {
      val empty = new GenericInternalRow(Array.empty[Any])
      planMorShared(inner.toBatch.planInputPartitions(), mi,
        pf => {
          val p1 = normPath(pf.urlEncodedPath)
          val path =
            if (mi.seqByPath.contains(p1)) p1
            else normPath(
              java.net.URLDecoder.decode(pf.urlEncodedPath, "UTF-8"))
          (path, "", empty)
        },
        _ => true)
    }
  }

  /** Per-field partition-key encoding shared by the tuple id and the
    * runtime-pruning comparison: injective on values, null-distinct. */
  private def encode1(v: Any): String = v match {
    case null => "~"
    case v => { val s = v.toString; s.length.toString + ":" + s }
  }

  /** A file's partition-tuple identity: the grouping id, the catalyst
    * key row, and the per-field encoded values (for runtime pruning). */
  private final case class FileKey(
      tupleId: String, row: InternalRow, enc: Array[String])

  /** Source-value → partition-key evaluator for one spec field — the
    * SAME V2 functions Spark binds for SPJ routing, so a runtime join
    * value is keyed exactly as the layout keyed the stored rows. None ⇒
    * this field cannot participate in runtime pruning (never expected
    * for a wrapped spec, which pre-validates transforms). */
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
    * [[graft.write.Stager.statColumn]] wrote: epoch-day ints for dates,
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

  private final class GroupedScan(
      inner: Scan,
      keyExprs: Array[V2Expression],
      keyByPath: Map[String, FileKey],
      nKeys: Int,
      fields: Seq[(PartitionFieldSpec, DataType)],
      colStats: Option[java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]] =
        None,
      mor: Option[MorInfo] = None)
    extends Scan with Batch with SupportsReportPartitioning
      with SupportsReportStatistics
      with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

    override def readSchema(): StructType =
      mor.fold(inner.readSchema())(_.requestedSchema)
    override def description(): String =
      s"graft-spj${if (mor.isDefined) "-mor" else ""} ${inner.description()}"
    override def toBatch: Batch = this
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

    /** Join sizing must not degrade under the wrap: forward the parquet
      * scan's exact estimate (broadcast decisions depend on it). */
    override def estimateStatistics(): Statistics = {
      val base = ScanStats.innerOf(inner)
      colStats.fold(base)(cs => new Statistics {
        override def sizeInBytes = base.sizeInBytes()
        override def numRows = base.numRows()
        override def columnStats() = cs
      })
    }

    override def outputPartitioning(): Partitioning =
      new KeyGroupedPartitioning(keyExprs, nKeys)

    /** Dynamic partition pruning: the value-exact layout means a file
      * whose partition key is outside the runtime IN-set provably holds
      * no matching row, so it is never opened. This is what keeps a
      * dim-filtered fact join at 100 TB from scanning every partition —
      * the DSv2 analogue of Hive-layout DPP, driven by the SAME
      * transform evaluation the SPJ report binds. Over-retention is
      * always sound (the join re-filters); files are only dropped on a
      * provable key mismatch. */
    @volatile private var runtimeKept: Option[Set[String]] = None

    override def filterAttributes(): Array[
        org.apache.spark.sql.connector.expressions.NamedReference] =
      fields.map(_._1.source).distinct
        .filter(src => fields.forall { case (s, dt) =>
          s.source != src || fieldEval(s, dt).isDefined })
        .map(Expressions.column).toArray

    override def filter(predicates: Array[
        org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
      // field index -> allowed encoded key values, intersected across
      // every delivered IN predicate
      var allowed = Map.empty[Int, Set[String]]
      predicates.foreach { p =>
        if (p.name() == "IN") {
          p.children().headOption match {
            case Some(ref: org.apache.spark.sql.connector.expressions.NamedReference)
                if ref.fieldNames().length == 1 =>
              val colName = ref.fieldNames()(0)
              val lits = p.children().drop(1).collect {
                case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
                  l.value().asInstanceOf[Any]
              }
              fields.zipWithIndex.foreach { case ((s, dt), idx) =>
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
        runtimeKept = Some(keyByPath.collect {
          case (path, k) if allowed.forall { case (i, ok) => ok.contains(k.enc(i)) } =>
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

    /** Re-cut each inner split on key boundaries, tagging every emitted
      * split with its `HasPartitionKey`. On the clean path, any file the
      * key map does not cover (never expected — the map is built from the
      * same snapshot file list the parquet table reads) falls back to the
      * inner partitions verbatim rather than planning a wrong grouping;
      * under MoR that fallback would SKIP delete application, so an
      * unmapped file fails loudly instead. */
    override def planInputPartitions(): Array[InputPartition] = {
      val parts = inner.toBatch.planInputPartitions()
      mor match {
        case None => planClean(parts)
        case Some(mi) => planMor(parts, mi)
      }
    }

    private def planClean(parts: Array[InputPartition]): Array[InputPartition] = {
      val out = Array.newBuilder[InputPartition]
      var idx = 0
      parts.foreach {
        case fp: FilePartition =>
          val withKeys = fp.files.flatMap { pf =>
            val resolved = resolveKey(pf).getOrElse(return parts)
            // runtime-pruned file: provably holds no matching partition
            // key — skip it entirely (an empty group simply vanishes;
            // Spark allows dropped values, never new ones)
            if (runtimeKept.forall(_.contains(resolved._1))) Some(pf -> resolved._2)
            else None
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

    /** MoR partition planning — [[planMorShared]] with this scan's key
      * decode and runtime pruning. Same-key partitions still land in one
      * task when Spark picks the key-grouped plan
      * (`BatchScanExec.groupPartitions`), so the join stays shuffle-free
      * and only intra-file split parallelism is given up — on the path
      * that previously had NO key report at all. */
    private def planMor(parts: Array[InputPartition],
        mi: MorInfo): Array[InputPartition] =
      planMorShared(parts, mi,
        pf => {
          val (path, k) = resolveKey(pf).getOrElse(
            throw new IllegalStateException(
              s"graft-spj-mor: data file ${pf.urlEncodedPath} has no " +
                "partition key in the snapshot — refusing to read it raw " +
                "(deletes would not apply)"))
          (path, k.tupleId, k.row)
        },
        path => runtimeKept.forall(_.contains(path)))

    private def resolveKey(
        pf: org.apache.spark.sql.execution.datasources.PartitionedFile):
        Option[(String, FileKey)] = {
      val p1 = normPath(pf.urlEncodedPath)
      keyByPath.get(p1).map(k => (p1, k)).orElse {
        val p2 = normPath(
          java.net.URLDecoder.decode(pf.urlEncodedPath, "UTF-8"))
        keyByPath.get(p2).map(k => (p2, k))
      }
    }
  }
}
