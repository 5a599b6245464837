package graft.catalog

import java.util.{Set => JSet}
import org.apache.spark.sql.{Column, DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** The read half of graft's V2 tables, and the DataFrame facade's
  * read-only table: a pinned file set, its deletes and a read schema,
  * served by a snapshot-pinned V2 parquet table (pushdown, pruning,
  * sparse null-fill). [[GraftV2Table]] adds the SQL catalog's writes.
  *
  * Merge-on-read snapshots (outstanding [[DeleteFile]]s) cannot be served
  * by a raw parquet scan — that would resurrect deleted rows — so the
  * parquet scan is decorated with the delete state ([[GraftScan]]), or,
  * past the driver-state gate, replaced by a V1 relation wrapping
  * [[MorRead]]. */
class GraftReadTable private[catalog] (spark: SparkSession, tableName: String,
    protected val committedSchema: StructType, protected val morFiles: Seq[DataFile],
    protected val morDeletes: Seq[DeleteFile],
    protected val morPosDeletes: Seq[PosDeleteFile],
    // the metadata the table was loaded from: partition spec, properties
    // and the stat types [[StatsPrune]] compares under
    protected val meta: TableMetadata)
  extends Table with SupportsRead with SupportsMetadataColumns {

  override def name(): String = tableName
  override def schema(): StructType = committedSchema

  private val partitionSpec = meta.partitionSpec
  private val tableProperties = meta.properties

  override def properties(): java.util.Map[String, String] =
    tableProperties.asJava

  /** The parquet table over the file subset `fs` (pruning survivors, a
    * claimed set or a limit/TopN prefix) under the read schema. */
  private def parquetOver(fs: Seq[DataFile]): SupportsRead =
    new ParquetTable(tableName, spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      CaseInsensitiveStringMap.empty(), fs.map(_.path), Some(committedSchema),
      classOf[ParquetFileFormat])

  /** Iceberg-style `_file` metadata column: each row's origin data-file
    * path (the engine's metadata path convention). The group id of the
    * copy-on-write row-level protocol — runtime group filtering's
    * matching subquery projects it to decide which files a DML statement
    * actually touches. */
  override def metadataColumns(): Array[MetadataColumn] =
    Array(new MetadataColumn {
      override def name(): String = GroupScan.FileColumn
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "origin data file path"
    })

  /** The engine partition spec mapped back to V2 transforms, so
    * `DESCRIBE TABLE` / `SHOW CREATE TABLE` show the real layout. Uses
    * the spec PINNED at load (consistent with schema/files; no
    * per-call metadata read). */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    def param(s: PartitionFieldSpec): Int = s.param.getOrElse(
      throw new IllegalStateException(
        s"partition field ${s.name}: ${s.transform} without a parameter"))
    partitionSpec.map { s =>
      s.transform match {
        case "identity" => Expressions.identity(s.source)
        case "bucket" => Expressions.bucket(param(s), s.source)
        case "year" => Expressions.years(s.source)
        case "month" => Expressions.months(s.source)
        case "day" => Expressions.days(s.source)
        case "hour" => Expressions.hours(s.source)
        case "truncate" =>
          Expressions.apply("truncate",
            Expressions.column(s.source),
            Expressions.literal(Integer.valueOf(param(s))))
        case other =>
          Expressions.apply(other, Expressions.column(s.source))
      }
    }.toArray
  }

  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FileAwareScanBuilder(options, pruneFiles = true)

  /** The table's scan builder, `_file`-aware: plain reads delegate to the
    * V2 parquet builder (full pushdown — the hot path) or the MoR V1
    * fallback exactly as before, but a scan REQUESTING the `_file`
    * metadata column (runtime group filtering's matching subquery, or an
    * explicit user projection) switches to a DataFrame-backed V1 scan
    * that captures `_file` from `_metadata` at the scan relation. In
    * that mode, catalyst filters already forwarded to the (now unused)
    * parquet builder are re-applied on the DataFrame — a filter Spark
    * believes pushed must never be silently dropped.
    *
    * Filters no exact claim tier takes are still used once, by
    * [[StatsPrune]]: every scan form plans over the surviving data and
    * delete files (`pruneFiles`; off for row-level operation scans,
    * whose commit replaces the whole planned set and so must read every
    * row of it), and the filters stay residual. */
  protected final class FileAwareScanBuilder(options: CaseInsensitiveStringMap,
      pruneFiles: Boolean)
    extends ScanBuilder with SupportsPushDownRequiredColumns
      with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
      with SupportsPushDownAggregates
      with org.apache.spark.sql.connector.read.SupportsPushDownLimit
      with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

    private val hasDeletes = morDeletes.nonEmpty || morPosDeletes.nonEmpty
    // Under MoR the parquet builder is still constructed when the table
    // is partitioned — the MoR [[GraftScan]] serves the (key-grouped)
    // read through it. Column pruning is applied at build()
    // with the delete key columns appended. Filter pushdown forwards
    // when only EQUALITY deletes are outstanding (deletes and filters
    // both merely remove rows, so pushdown commutes with the per-row
    // delete probe); outstanding POSITIONAL deletes disable it, because
    // row-index counting needs the unskipped row stream. If the SPJ-MoR
    // wrap falls through to the V1 scan, forwarded filters are
    // re-applied on the DataFrame (a filter Spark believes pushed must
    // never be dropped).
    // LAZY: constructing the parquet builder forces its FileIndex, which
    // stats every live file path — O(files) filesystem calls. The
    // metadata-served plan shapes (meta-agg fold, claimed-filter scan,
    // LIMIT/TopN prefix) never read through this builder, so a
    // 100k-file table answering a claimed aggregate must not pay a
    // 100k-path listing at plan time (pinned by ManifestScaleSpec).
    // Built over the StatsPrune survivors; pruning is skipped once built.
    private var innerBuilt: Option[ScanBuilder] = None
    private def inner: Option[ScanBuilder] = {
      if (innerBuilt.isEmpty)
        innerBuilt = Some(parquetOver(scanFiles).newScanBuilder(options))
      innerBuilt
    }
    private var scanFiles: Seq[DataFile] = morFiles
    private var scanDeletes: Seq[DeleteFile] = morDeletes
    private def morCanPush: Boolean =
      hasDeletes && morPosDeletes.isEmpty

    private var required: Option[StructType] = None
    private var catalystFilters:
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil

    private def fileRequested: Boolean =
      required.exists(_.fieldNames.contains(GroupScan.FileColumn))

    override def pruneColumns(requiredSchema: StructType): Unit = {
      required = Some(requiredSchema)
      // metaAgg/claimed builds never read through `inner` (they rebuild a
      // reader over the claimed subset, or return driver-local rows) —
      // forwarding the prune would force the full-table FileIndex
      if (!hasDeletes && metaAgg.isEmpty && claimedFiles.isEmpty &&
          !requiredSchema.fieldNames.contains(GroupScan.FileColumn))
        inner.foreach {
          case p: SupportsPushDownRequiredColumns =>
            p.pruneColumns(requiredSchema)
          case _ => ()
        }
    }

    override def pushFilters(
        filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression]):
        Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
      catalystFilters = filters
      // Identity-partition-key-only predicates over a fully value-exact
      // file set are applied EXACTLY by whole-file selection (a file is
      // wholly in or wholly out, because every row in it carries THE
      // key tuple) — claim them with an empty residual, so Spark drops
      // its Filter node and filter-free plan forms (metadata aggregate
      // pushdown above all) sit directly on the scan. Refused whenever
      // any file is undecidable or any predicate strays off the keys.
      // The second tier ([[rangeClaimFiles]]) claims by range-constancy:
      // comparison predicates no file's stat interval straddles — the
      // transform-partitioned (day/month/hour) temporal-WHERE form.
      if (filters.nonEmpty && !hasDeletes) {
        claimedFiles = metaFilteredFiles().orElse(rangeClaimFiles())
        if (claimedFiles.isDefined) return Nil
      }
      if (filters.isEmpty) return filters // nothing to forward: keep inner unforced
      if (pruneFiles && innerBuilt.isEmpty) {
        val pruning = filters.flatMap(
          org.apache.spark.sql.classic.GraftSqlShims.sourceFilter)
        scanFiles = StatsPrune.prune(meta, morFiles, pruning)
        scanDeletes = StatsPrune.deletes(meta, morDeletes, pruning)
      }
      inner match {
        case Some(p: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters)
            if !hasDeletes || morCanPush =>
          forwardedFilters = true
          p.pushFilters(filters)
        case _ => filters // V1/positional-MoR modes: all residual
      }
    }
    private var claimedFiles: Option[Seq[DataFile]] = None
    private var forwardedFilters = false

    override def pushedFilters:
        Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
      if (!forwardedFilters) Array.empty
      else inner match {
        case Some(p: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters)
            if !hasDeletes || morCanPush =>
          p.pushedFilters
        case _ => Array.empty
      }

    private var aggPushed = false
    private var metaAgg:
      Option[(StructType, Seq[org.apache.spark.sql.Row])] = None

    /** The file set a metadata-tier aggregate may fold over, after
      * applying any pushed filters AT THE FILE LEVEL — Some(files) when
      * that application is provably exact, None to fall back to the
      * parquet tier. No filters → all files. Otherwise every filter
      * must be deterministic, subquery-free, and reference ONLY
      * identity-partition source columns; value-exact staging then
      * makes each file's key tuple a metadata fact, so evaluating the
      * predicate once per file against the decoded keys selects exactly
      * the matching rows (a file is wholly in or wholly out — the
      * filtered form of Iceberg's manifest answering; an all-null key
      * evaluates to null → excluded, matching WHERE semantics). */
    private def metaFilteredFiles(): Option[Seq[DataFile]] = {
      if (catalystFilters.isEmpty) return Some(morFiles)
      import org.apache.spark.sql.catalyst.expressions._
      val keyCols = partitionSpec.filter(_.transform == "identity")
        .map(_.source).filter(committedSchema.fieldNames.contains).toSet
      val refs = catalystFilters.flatMap(_.references.toSeq.map(_.name)).toSet
      if (!catalystFilters.forall(_.deterministic) ||
          !refs.subsetOf(keyCols) ||
          catalystFilters.exists(_.exists(_.isInstanceOf[PlanExpression[_]])))
        return None
      val attrs: Seq[Attribute] =
        catalystFilters.flatMap(_.references.toSeq).distinctBy(_.exprId)
      if (!attrs.forall(a => MetaAgg.keyDecodable(a.dataType))) return None
      val pred = GraftV2Table.filePredicate(catalystFilters.reduce(And), attrs)
      val converters = attrs.map(a =>
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(a.dataType))
      // per-file single-valued key or provably all-null, else refuse
      val decided = morFiles.map { f =>
        val key: Seq[Option[Option[Any]]] = attrs.map { a =>
          f.stats.get(a.name) match {
            case Some(cs) => (cs.min, cs.max) match {
              case (Some(x), Some(y)) if x == y && cs.nullCount.contains(0L) =>
                Some(Some(MetaAgg.decodeStat(a.dataType, x)))
              case (None, None) if cs.nullCount.contains(f.rowCount) =>
                Some(None)
              case _ => None
            }
            case _ => None
          }
        }
        if (key.exists(_.isEmpty)) None
        else {
          val row = org.apache.spark.sql.catalyst.InternalRow.fromSeq(
            key.flatten.zip(converters).map { case (v, conv) =>
              v.map(conv).orNull
            })
          Some((f, pred.eval(row)))
        }
      }
      if (decided.exists(_.isEmpty)) None
      else Some(decided.flatten.collect { case (f, true) => f })
    }

    /** Second claiming tier, RANGE-CONSTANCY: a predicate built from
      * attr-vs-literal comparisons is exactly applied by whole-file
      * selection whenever, for every live file, every comparison leaf is
      * CONSTANT over the file's exact stat interval [min,max] — then all
      * rows of the file agree on the predicate, and one evaluation at a
      * representative decides the file. This is the general form of
      * Iceberg's manifest answering for transform-partitioned layouts: a
      * day/month/hour-partitioned table keeps each file's timestamp range
      * inside one grain, so a grain-aligned `ts >= DATE '…'` never
      * straddles a file and the WHERE becomes pure file selection
      * (metadata aggregates then answer with zero file IO). Any file
      * straddling a literal refuses the whole claim — correctness never
      * depends on partial claiming. Restricted to types whose stat
      * encodings are EXACT total orders (integers, date, timestamp,
      * decimal): no strings (writer truncation), no float/double (NaN
      * sits outside interval reasoning). Straddle detection for the
      * non-monotone leaves (=, <=>, IN) additionally requires the
      * leaf's `attr < literal` variant to be constant on the interval —
      * for monotone leaves that variant is implied, so it is simply
      * required for all. Mixed-null files (0 < nullCount < rowCount)
      * refuse: their rows split into classes the single representative
      * cannot speak for; all-null and null-free files evaluate as one
      * class under WHERE's null-excludes semantics. */
    private def rangeClaimFiles(): Option[Seq[DataFile]] = {
      import org.apache.spark.sql.catalyst.expressions._
      import org.apache.spark.sql.types._
      if (!catalystFilters.forall(_.deterministic) ||
          catalystFilters.exists(_.exists(_.isInstanceOf[PlanExpression[_]])))
        return None
      val pred = catalystFilters.reduce(And)
      val attrs: Seq[Attribute] = pred.references.toSeq.distinctBy(_.exprId)
      def rangeOk(dt: DataType): Boolean = dt match {
        case ByteType | ShortType | IntegerType | LongType | DateType |
            TimestampType | TimestampNTZType | _: DecimalType => true
        case _ => false
      }
      if (attrs.isEmpty || !attrs.forall(a => rangeOk(a.dataType) &&
          committedSchema.fieldNames.contains(a.name))) return None

      // shape check + per-leaf constancy obligations (leaf, attr<lit)
      val checks = scala.collection.mutable.ArrayBuffer.empty[Expression]
      def attrLit(l: Expression, r: Expression): Option[(Attribute, Literal)] =
        (l, r) match {
          case (a: AttributeReference, lit: Literal) => Some((a, lit))
          case (lit: Literal, a: AttributeReference) => Some((a, lit))
          case _ => None
        }
      def valid(e: Expression): Boolean = e match {
        case And(l, r) => valid(l) && valid(r)
        case Or(l, r) => valid(l) && valid(r)
        case Not(c) => valid(c)
        case Literal(_, BooleanType) => true
        case IsNull(_: AttributeReference) => true
        case IsNotNull(_: AttributeReference) => true
        case bc: BinaryComparison =>
          attrLit(bc.left, bc.right) match {
            case Some((a, lit)) =>
              checks += bc; checks += LessThan(a, lit); true
            case None => false
          }
        case In(a: AttributeReference, elems)
            if elems.forall(_.isInstanceOf[Literal]) =>
          checks += e
          elems.foreach(l => checks += LessThan(a, l.asInstanceOf[Literal]))
          true
        case InSet(a: AttributeReference, hset) =>
          checks += e
          hset.foreach(v => checks += LessThan(a, Literal(v, a.dataType)))
          true
        case _ => false
      }
      if (!valid(pred)) return None

      val evalPred = GraftV2Table.filePredicate(pred, attrs)
      val evalChecks = checks.toSeq.map(c => GraftV2Table.filePredicate(c, attrs))
      val converters = attrs.map(a =>
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(a.dataType))
      // per-file: Some(bound pair) = one row class with reps (min, max);
      // None = refuse (missing/mixed-null/inexact stats)
      val decided: Seq[Option[(DataFile, Boolean)]] = morFiles.map { f =>
        if (f.rowCount == 0L) Some((f, false)) // no rows to lose
        else {
          val reps: Seq[Option[(Any, Any)]] = attrs.zip(converters).map {
            case (a, conv) =>
              f.stats.get(a.name) match {
                case Some(cs) if cs.nullCount.contains(0L) &&
                    cs.min.isDefined && cs.max.isDefined =>
                  Some((conv(MetaAgg.decodeStat(a.dataType, cs.min.get)),
                    conv(MetaAgg.decodeStat(a.dataType, cs.max.get))))
                case Some(cs) if cs.nullCount.contains(f.rowCount) =>
                  Some((null, null))
                case _ => None
              }
          }
          if (reps.exists(_.isEmpty)) None
          else {
            val rs = reps.flatten
            val mnRow = org.apache.spark.sql.catalyst.InternalRow
              .fromSeq(rs.map(_._1))
            val mxRow = org.apache.spark.sql.catalyst.InternalRow
              .fromSeq(rs.map(_._2))
            val constant =
              evalChecks.forall(c => c.eval(mnRow) == c.eval(mxRow))
            if (!constant) None
            else Some((f, evalPred.eval(mnRow)))
          }
        }
      }
      if (decided.exists(_.isEmpty)) None
      else Some(decided.flatten.collect { case (f, true) => f })
    }
    private var pushedLimit: Option[Int] = None

    // LIMIT pushdown, metadata form: a bare `LIMIT n` (no filters — a
    // filter could eliminate every row in the chosen files, returning
    // fewer than n; no MoR deletes — same reason) needs only the FIRST
    // files whose snapshot row counts cover n. Partial pushdown: Spark
    // keeps its limit operator above the narrowed scan, so correctness
    // never depends on the subset arithmetic.
    override def pushLimit(n: Int): Boolean = {
      if (hasDeletes || catalystFilters.nonEmpty || n < 0) return false
      pushedLimit = Some(n)
      true
    }
    override def isPartiallyPushed(): Boolean = true

    // TopN pushdown, the sort-order payoff: `ORDER BY key [, tiebreak…]
    // LIMIT k` on a table whose files cover STRICTLY disjoint ranges of
    // the lead sort key (declared write sort-order produces exactly this
    // layout) needs only the file prefix, in key order, that covers k
    // rows past a strict range gap — every excluded row is then strictly
    // greater (asc) on the lead key than every planned row, so the
    // global top-k is inside the prefix REGARDLESS of tiebreak columns.
    // Spark keeps its sort+limit above the narrowed scan (partial push).
    // Refused whenever the proof doesn't hold from stats: filters or MoR
    // deletes outstanding, any nulls in the key column (asc sorts them
    // first), missing bounds, or no strict gap early enough to help.
    override def pushTopN(
        orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
        n: Int): Boolean = {
      import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
      if (hasDeletes || catalystFilters.nonEmpty || n < 0 || orders.isEmpty)
        return false
      val lead = orders(0)
      val name = lead.expression() match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          nr.fieldNames()(0)
        case _ => return false
      }
      if (!committedSchema.fieldNames.contains(name)) return false
      val dt = committedSchema(name).dataType
      val asc = lead.direction() == SortDirection.ASCENDING
      // every file needs exact bounds and a proven absence of nulls
      val statted = morFiles.map(f => f.stats.get(name) match {
        case Some(cs) if cs.min.isDefined && cs.max.isDefined &&
            cs.nullCount.contains(0L) => Some((f, cs.min.get, cs.max.get))
        case _ => None
      })
      if (statted.exists(_.isEmpty)) return false
      val inKeyOrder = statted.flatten.sortWith { case ((_, aMin, aMax), (_, bMin, bMax)) =>
        if (asc) StatCompare.compare(dt, aMin, bMin) < 0
        else StatCompare.compare(dt, aMax, bMax) > 0
      }
      // walk until coverage >= n AND the next file sits past a STRICT gap
      // from the RUNNING extreme of the whole prefix (max of maxes asc /
      // min of mins desc), not merely the cut file's own bound — with
      // overlapping layouts (multi-append, a wide early file plus later
      // narrow ones) an earlier prefix file can reach past the cut
      // file's max, and the gap proof must hold against EVERY planned
      // file, so every excluded file is strictly past every planned row
      var acc = 0L
      var cut = -1
      var i = 0
      var prefixExtreme: String = null
      while (i < inKeyOrder.size - 1 && cut < 0) {
        acc += inKeyOrder(i)._1.rowCount
        val fileBound = if (asc) inKeyOrder(i)._3 else inKeyOrder(i)._2
        prefixExtreme =
          if (prefixExtreme == null) fileBound
          else if (asc && StatCompare.compare(dt, fileBound, prefixExtreme) > 0) fileBound
          else if (!asc && StatCompare.compare(dt, fileBound, prefixExtreme) < 0) fileBound
          else prefixExtreme
        val strictGap =
          if (asc) StatCompare.compare(dt, prefixExtreme, inKeyOrder(i + 1)._2) < 0
          else StatCompare.compare(dt, prefixExtreme, inKeyOrder(i + 1)._3) > 0
        if (acc >= n && strictGap) cut = i
        i += 1
      }
      if (cut < 0) return false // never a useful strict gap: full scan
      topNFiles = Some(inKeyOrder.take(cut + 1).map(_._1))
      true
    }
    private var topNFiles: Option[Seq[DataFile]] = None

    /** The narrowed scan for a pushed limit/TopN: a fresh parquet reader
      * over the covering file prefix, column pruning re-applied. None
      * when the prefix spans (nearly) the whole table — the normal scan
      * (with its SPJ/CBO reporting) is better then. Evaluated at
      * build() time, after pruning and limit pushes. */
    private lazy val limitedScan: Option[Scan] = {
      val subset: Option[Seq[DataFile]] = topNFiles.orElse(
        pushedLimit.map { n =>
          var acc = 0L
          morFiles.takeWhile { f =>
            val need = acc < n; acc += f.rowCount; need
          }
        })
      subset.filter(_ => !fileRequested && !aggPushed)
        .filter(_.size < morFiles.size).map(subsetScan)
    }

    /** A fresh parquet scan over the file subset `fs`, column pruning
      * re-applied. */
    private def subsetScan(fs: Seq[DataFile]): Scan = {
      val b = parquetOver(fs).newScanBuilder(options)
      required.foreach(r => b match {
        case p: SupportsPushDownRequiredColumns => p.pruneColumns(r)
        case _ => ()
      })
      b.build()
    }

    // Aggregate pushdown, two tiers (and never under MoR — the raw data
    // would count logically-deleted rows):
    //  1. METADATA: a global, filter-free COUNT/MIN/MAX folds straight
    //     out of snapshot stats ([[MetaAgg]]) — zero file IO, where the
    //     parquet tier below still opens every footer (10⁵ files at
    //     100 TB = 10⁵ reads);
    //  2. PARQUET: delegate to the inner builder's footer-stats pushdown.
    override def pushAggregation(
        aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
      if (!hasDeletes) {
        // over the claimed (exactly file-filtered) set when filters were
        // claimed; over everything when there were none
        val foldable =
          if (catalystFilters.isEmpty) Some(morFiles) else claimedFiles
        foldable.foreach { fs =>
          metaAgg = MetaAgg.answer(aggregation, committedSchema, fs,
            partitionSpec)
          if (metaAgg.isDefined) { aggPushed = true; return true }
        }
      }
      // The inner parquet builder covers ALL files and received no
      // filters once they were claimed (pushFilters returned Nil without
      // forwarding) — delegating would accept an aggregate over the
      // unfiltered table while build() returns the claimed-files row
      // scan: broken plan shape. Claimed filters ⇒ metadata tier or bust.
      if (claimedFiles.isDefined) return false
      // Parquet footer-aggregate pushdown crashes on schema-evolution
      // stragglers (a file written before ADD COLUMN has no such footer
      // column — the reader indexes past its schema). Refuse delegation
      // unless every referenced column has stats on EVERY live file;
      // stats presence is the commit-time witness that the file was
      // written under a schema containing the column.
      val refCols = {
        import org.apache.spark.sql.connector.expressions.NamedReference
        def collect(e: org.apache.spark.sql.connector.expressions.Expression): Seq[String] =
          e match {
            case nr: NamedReference if nr.fieldNames.length == 1 =>
              Seq(nr.fieldNames()(0))
            case other => other.children().toSeq.flatMap(collect)
          }
        (aggregation.aggregateExpressions().toSeq ++
          aggregation.groupByExpressions().toSeq).flatMap(collect)
      }
      if (!refCols.forall(c => scanFiles.forall(_.stats.contains(c))))
        return false
      inner match {
        case Some(p: SupportsPushDownAggregates) if !hasDeletes =>
          aggPushed = p.pushAggregation(aggregation)
          aggPushed
        case _ => false
      }
    }

    override def supportCompletePushDown(
        aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
      // the metadata tier answers in PARTIAL shape (one row Spark
      // re-aggregates — cost-free and schema-exact), so never claim
      // complete pushdown for it
      if (metaAgg.isDefined || claimedFiles.isDefined) false
      else inner match {
        case Some(p: SupportsPushDownAggregates) if !hasDeletes =>
          p.supportCompletePushDown(aggregation)
        case _ => false
      }

    override def build(): Scan =
      if (metaAgg.isDefined) {
        // metadata-tier aggregate: driver-local rows (one per group; one
        // total for a global aggregate), no file IO at all — the scan IS
        // the answer
        val (aggSchema, rows) = metaAgg.get
        GraftV2Table.v1ScanOf(aggSchema, ctx =>
          ctx.sparkSession.createDataFrame(rows.asJava, aggSchema),
          desc = Some("graft-meta-agg")).build()
      } else if (limitedScan.isDefined) {
        limitedScan.get
      } else if (fileRequested) {
        dataFrameScan(required.get, catalystFilters, MorRead.read(_,
          committedSchema, scanFiles, scanDeletes, morPosDeletes, withFile = true))
      } else {
        // Claimed identity-key filters: the predicate IS the file
        // selection — a scan over exactly the matching files. Each
        // surviving file is still value-exact, so the key-grouped report
        // stays truthful (an SPJ join filtered on its partition key must
        // not lose its shuffle-free plan to the claim).
        val (scan, files, mor) = claimedFiles match {
          case Some(fs) => (subsetScan(fs), fs, None)
          // always constructed on the clean path
          case None if !hasDeletes => (inner.get.build(), scanFiles, None)
          case None => morScan().getOrElse(return dataFrameScan(
            required.getOrElse(committedSchema),
            if (morCanPush) catalystFilters else Nil,
            MorRead.read(_, committedSchema, scanFiles, scanDeletes,
              morPosDeletes)))
        }
        decorate(scan, files, mor)
      }

    /** The one decoration point of the parquet scan (see [[GraftScan]]):
      * the key-grouped report when the session opts into V2 bucketing,
      * CBO column stats when it opts into CBO (deletes-free scans only),
      * and the MoR delete state. Neither report on a pushed aggregate,
      * whose scan schema is the aggregate result. Confs off and no
      * deletes leave the raw parquet scan, so plans are byte-identical. */
    private def decorate(scan: Scan, files: Seq[DataFile],
        mor: Option[GraftScan.MorInfo]): Scan = {
      val conf = org.apache.spark.sql.internal.SQLConf.get
      val keyed =
        if (!aggPushed && conf.v2BucketingEnabled)
          GraftScan.keyGrouping(partitionSpec, committedSchema,
            mor.fold(scan.readSchema())(_.requestedSchema), files)
        else None
      val colStats =
        if (!aggPushed && mor.isEmpty && conf.cboEnabled)
          Some(ColumnStatsSupport.columnStats(
            committedSchema, tableProperties, files))
            .filter(!_.isEmpty).map(_ -> files.map(_.rowCount).sum)
        else None
      GraftScan(scan, keyed, colStats, mor)
    }

    /** A DataFrame-backed V1 scan of `out` over `read`, sized by the exact
      * file footprint. Catalyst `filters` already forwarded to the (now
      * unused) parquet builder are re-applied on the DataFrame,
      * attributes rebound by name onto its output (exprIds differ) — a
      * filter Spark believes pushed must never be dropped. */
    private def dataFrameScan(out: StructType,
        filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
        read: org.apache.spark.sql.SparkSession =>
          org.apache.spark.sql.DataFrame): Scan =
      GraftV2Table.v1ScanOf(out, ctx => {
        var df = read(ctx.sparkSession)
        val byName = df.queryExecution.analyzed.output
          .map(a => a.name -> a).toMap
        filters.foreach { e =>
          val bound = e.transform {
            case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
              byName.getOrElse(a.name,
                throw new IllegalStateException(
                  s"cannot rebind pushed filter $e: no column ${a.name}"))
          }
          df = df.filter(
            org.apache.spark.sql.classic.GraftSqlShims.column(bound))
        }
        df.select(out.fieldNames.map(col).toIndexedSeq: _*)
      }, Some(fileStats(scanFiles))).build()

    /** The merge-on-read parquet scan, pruned to the requested columns ∪
      * the equality-delete key columns, with its delete state: the MoR
      * [[GraftScan]] applies the deletes per row, keeping the clean
      * path's key-grouped report when the layout qualifies (a merged
      * co-bucketed fact table joins shuffle-free) and otherwise still
      * giving parquet pushdown and vectorized-backed reads. None ⇒ the
      * V1 `MorRead` scan, when a delete is keyed on a since-dropped
      * column (the extended read schema cannot carry it), or when the
      * metadata-summed outstanding delete rows exceed
      * [[MorRead.driverStateMaxRows]]. */
    private def morScan(): Option[(Scan, Seq[DataFile], Option[GraftScan.MorInfo])] = {
      val requested = required.getOrElse(committedSchema)
      // Positional-delete invariant: the wrap counts parquet row_index by
      // position in the unskipped row stream, which is only correct when
      // NO filter reached the parquet scan (morCanPush guards this at
      // forward time — this assert catches a future pushdown change
      // before it silently mis-applies positions).
      if (morPosDeletes.nonEmpty) inner.foreach {
        case p: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
          require(p.pushedFilters.isEmpty,
            "graft-mor: positional deletes outstanding but filters were " +
              "pushed to the parquet scan — row-index counting would skip " +
              s"or mis-apply deletes (pushed: ${p.pushedFilters.mkString(", ")})")
        case _ => ()
      }
      // Size gate: bound driver memory BEFORE reading a delete byte. The
      // MoR scan collects the WHOLE delete state to the driver
      // ([[MorSpjReader.collectState]]); that is only sound for
      // trickle-merge-sized backlogs. Past the metadata-summed threshold
      // the scan degrades to the V1 MorRead join application
      // (Spark-managed memory; broadcast under MorRead's own row gate,
      // shuffle-join above it) — a merge-heavy table that missed its
      // compaction window loses the key-grouped report, never the driver.
      val deleteStateRows =
        scanDeletes.map(_.rowCount).sum + morPosDeletes.map(_.rowCount).sum
      if (deleteStateRows > MorRead.driverStateMaxRows) return None
      inner.flatMap { b =>
        val extraKeys = scanDeletes.flatMap(_.keyColumns).distinct
          .filterNot(requested.fieldNames.contains)
        if (extraKeys.exists(k => !committedSchema.fieldNames.contains(k)))
          None // delete keyed on a since-dropped column: V1 path
        else {
          val extended = StructType(requested.fields ++
            extraKeys.map(committedSchema(_)))
          b match {
            case p: SupportsPushDownRequiredColumns =>
              p.pruneColumns(extended)
            case _ => ()
          }
          Some((b.build(), scanFiles, Some(GraftScan.MorInfo(committedSchema,
            extended, requested, scanFiles, scanDeletes, morPosDeletes))))
        }
      }
    }
  }

  /** Exact table footprint from commit-time footer stats (pre-delete
    * upper bound under MoR — sound for join sizing). */
  private def fileStats(files: Seq[DataFile]): org.apache.spark.sql.connector.read.Statistics =
    ScanStats.of(files.map(_.sizeBytes).sum, files.map(_.rowCount).sum)
}

/** The V2 table handed out by [[GraftSparkCatalog]]: the read half plus
  * the catalog identity. SQL writes route through the ENGINE's write
  * path via the V1Write shim — `INSERT INTO` is an Append load and
  * `INSERT OVERWRITE` a Replace load, so SQL ingestion gets the same
  * safe-casting, schema-evolution, staging stats, and atomic CAS commit
  * as programmatic loads (a raw file-writing V2 sink would bypass all of
  * it). Merge keeps requiring the programmatic API: a bare INSERT
  * carries no primary-key/disposition contract. */
final class GraftV2Table private[catalog] (spark: SparkSession, fullName: String,
    readSchema: StructType, files: Seq[DataFile], deletes: Seq[DeleteFile],
    posDeletes: Seq[PosDeleteFile], m: TableMetadata,
    ns: String, tableName: String, cat: GraftCatalog)
  extends GraftReadTable(spark, fullName, readSchema, files, deletes, posDeletes, m)
    with SupportsWrite with SupportsDelete with SupportsRowLevelOperations {

  /** Engine identity for injected plan rewrites (dynamic overwrite)
    * that must route a V2 write node through the engine writer. */
  private[catalog] def graftIdentity: (GraftCatalog, String, String) =
    (cat, ns, tableName)

  /** `AUTOMATIC_SCHEMA_EVOLUTION` opts into Spark's
    * `MERGE INTO ... WITH SCHEMA EVOLUTION`: the analyzer turns the
    * source's extra columns into `TableChange.AddColumn`s routed through
    * [[GraftSparkCatalog.alterTable]] — the SAME evolution rules the
    * write path enforces (nullable adds only, safe type promotion), so
    * SQL merge evolution cannot reach a schema state a load could not. */
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION).asJava

  /** `DELETE FROM <table> WHERE <cond>` — routed through the engine's
    * predicate-delete path. Mode comes from the `graft.delete.mode`
    * table property: `merge-on-read` commits a positional delete vector
    * (no rewrite); anything else (default) is copy-on-write, restaging
    * only the files with matching rows. Spark only calls this when the
    * WHOLE condition translated to source filters, so the semantics are
    * exact. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(GraftV2Table.toColumn(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val cond = filters.flatMap(GraftV2Table.toColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    val mor = cat.loadTable(ns, tableName).metadata.properties
      .get("graft.delete.mode").contains("merge-on-read")
    val w = new graft.write.GraftWriter(cat)
    w.deleteWhere(ns, tableName, cond,
      graft.write.WriteConfig(retryUnitMs = 50, mergeOnRead = mor),
      loadId = s"sql-del-${java.util.UUID.randomUUID().toString.take(12)}")
    ()
  }

  /** SQL `UPDATE` / `MERGE INTO` (and DELETEs whose predicate cannot
    * translate to source filters, e.g. with subqueries). Two modes:
    *
    *  - default: the group-based (copy-on-write) protocol —
    *    [[GraftReplaceBatchWrite]] swaps the planned file set for the
    *    post-DML rows through the snapshot CAS commit;
    *  - `graft.delete.mode = merge-on-read` plus a `graft.primary-key`
    *    table property: the delta protocol ([[GraftDeltaOperation]]) —
    *    Spark scans only MATCHED rows, the write commits equality-delete
    *    key files + new data files, O(delta) instead of O(table). */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation = {
        val props = cat.loadTable(ns, tableName).metadata.properties
        val pk = GraftV2Table.parsePrimaryKey(props)
        if (props.get("graft.delete.mode").contains("merge-on-read") &&
            pk.nonEmpty)
          new GraftDeltaOperation(ns, tableName, cat,
            opts => new FileAwareScanBuilder(opts, pruneFiles = false),
            committedSchema, info.command(), pk,
            morFiles.map(_.path).toSet,
            (morDeletes.map(_.path) ++ morPosDeletes.map(_.path)).toSet)
        else
          new GraftRowLevelOperation(ns, tableName, cat,
            opts => new FileAwareScanBuilder(opts, pruneFiles = false), meta,
            committedSchema, info.command(),
            morFiles,
            (morDeletes.map(_.path) ++ morPosDeletes.map(_.path)).toSet)
      }
    }

  /** SQL writes: `INSERT INTO` appends, `INSERT OVERWRITE` (and
    * `truncate()`) replaces, and a FILTERED overwrite — `INSERT INTO ...
    * REPLACE WHERE`, static `INSERT OVERWRITE ... PARTITION (p = v)`,
    * `DataFrameWriterV2.overwrite(cond)` — routes through
    * [[graft.write.GraftWriter.overwriteWhere]]: one snapshot, only the
    * files holding matching rows restaged. A filter the engine cannot
    * translate fails loudly at build (never a silent full truncate). */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var overwrite = false
      private var cond: Option[Column] = None
      override def truncate(): WriteBuilder = {
        overwrite = true; cond = None; this
      }
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        val trivial = filters.isEmpty ||
          filters.forall(_.isInstanceOf[sources.AlwaysTrue])
        if (trivial) { overwrite = true; cond = None }
        else {
          val cols = filters.map(f => GraftV2Table.toColumn(f).getOrElse(
            throw new UnsupportedOperationException(
              s"overwrite filter not supported by this table: $f")))
          cond = Some(cols.reduce(_ && _)); overwrite = false
        }
        this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          (data, _) => {
            val w = new graft.write.GraftWriter(cat)
            val loadId = s"sql-${java.util.UUID.randomUUID().toString.take(12)}"
            cond match {
              case Some(c) =>
                w.overwriteWhere(ns, tableName, c, data,
                  graft.write.WriteConfig(retryUnitMs = 50), loadId)
              case None =>
                w.writeTable(ns, tableName, Seq(data),
                  if (overwrite) graft.write.Replace else graft.write.Append,
                  graft.write.WriteConfig(retryUnitMs = 50), loadId = loadId)
            }
            ()
          }
      }
    }
}

object GraftV2Table {
  /** The one factory of graft's tables over a pinned snapshot: `files`
    * with `deletes` and `posDeletes` applied, read under `schema` — the
    * SQL catalog's [[GraftV2Table]] given its `identity` (catalog,
    * namespace, table), the facade's read-only table without. */
  def apply(spark: SparkSession, name: String, meta: TableMetadata,
      schema: StructType, files: Seq[DataFile], deletes: Seq[DeleteFile],
      posDeletes: Seq[PosDeleteFile],
      identity: Option[(GraftCatalog, String, String)] = None): GraftReadTable =
    withStatsRule(spark, identity.fold(new GraftReadTable(spark, name, schema,
      files, deletes, posDeletes, meta)) { case (cat, ns, table) =>
      new GraftV2Table(spark, name, schema, files, deletes, posDeletes, meta, ns, table, cat)
    })

  /** A metadata table (history/snapshots/files/refs/deletes) over `df`. */
  def metaTable(spark: SparkSession, name: String, df: DataFrame): Table =
    withStatsRule(spark, new GraftMetaTable(name, df))

  /** `t`, with [[V1ScanStatsRule]] registered in `spark` at analysis —
    * before the first optimizer run that plans one of its V1 shims (MoR
    * fallback, `_file` scan, metadata aggregate, metadata table). */
  private def withStatsRule[T](spark: SparkSession, t: T): T = {
    V1ScanStatsRule.register(spark); t
  }

  /** The `graft.primary-key` table property, parsed: comma-separated,
    * trimmed, empties dropped. Single definition shared by operation
    * routing and the catalog's schema-nullability view. */
  def parsePrimaryKey(props: Map[String, String]): Seq[String] =
    props.get("graft.primary-key").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  /** A pushed filter as a predicate over one file's stat row, evaluated
    * interpreted: the claim tiers evaluate it a few times per file on the
    * driver, and `Predicate.create` would compile a class per query
    * (literals are inlined into generated code, so no two queries share
    * one), costing more than every evaluation it serves. */
  private[catalog] def filePredicate(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      attrs: Seq[org.apache.spark.sql.catalyst.expressions.Attribute])
      : org.apache.spark.sql.catalyst.expressions.BasePredicate = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, BindReferences, Predicate}
    Predicate.createInterpreted(BindReferences.bindReference(e, AttributeSeq(attrs)))
  }

  /** Wrap a raw V1Scan the way `V2ScanRelationPushDown` would — row-level
    * scan planning builds the scan relation directly and skips that
    * conversion, so an unwrapped V1Scan would plan as an (unsupported)
    * batch scan. Shared by the CoW and delta operations. */
  def wrapV1(inner: ScanBuilder): ScanBuilder = new ScanBuilder {
    override def build(): Scan = inner.build() match {
      case v1: V1Scan
          with org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        new StatsV1ScanWrapper(v1, Nil,
          org.apache.spark.sql.execution.datasources.v2.PushedDownOperators(
            None, None, None, None, Nil, Nil, Nil, None))
      case v1: V1Scan =>
        org.apache.spark.sql.execution.datasources.v2.V1ScanWrapper(v1, Nil,
          org.apache.spark.sql.execution.datasources.v2.PushedDownOperators(
            None, None, None, None, Nil, Nil, Nil, None))
      // the full-group row-level fallback must NOT advertise runtime
      // filtering: a key-grouped scan exposes PARTITION SOURCE columns
      // as filter attributes (sound for join DPP on normal reads), and
      // Spark's RowLevelOperationRuntimeGroupFiltering would treat them
      // as GROUP columns — injecting a row-granularity `key IN (matched
      // keys)` filter that drops every carried row of the replaced
      // files. Under a bucket transform the group is bucket(key), not
      // key, so the filter is unsound; with a pure-insert MERGE source
      // its IN-list is empty and the whole table is lost (caught by the
      // model checker's seed-7 sequence). The fallback's contract is to
      // read EVERY row of the planned set — narrowing belongs to the
      // GroupScan path, whose filter attribute is `_file` (a true group
      // key).
      case g: GraftScan => g.withoutRuntimeFiltering
      case s => s
    }
  }

  /** One V1Scan shim for every DataFrame-backed read path (the MoR
    * fallback scan and the metadata tables): a ScanBuilder whose scan
    * materializes `mkDf(ctx)` through a V1 TableScan relation. When
    * `stats` is provided the scan reports it (exact commit-time footer
    * sizes), and [[V1ScanStatsRule]] carries it through Spark's
    * stats-less `V1ScanWrapper` so a small MoR table can still broadcast
    * in joins. */
  def v1ScanOf(outSchema: StructType,
      mkDf: SQLContext => org.apache.spark.sql.DataFrame,
      stats: Option[org.apache.spark.sql.connector.read.Statistics] = None,
      desc: Option[String] = None):
      ScanBuilder = {
    trait Shim extends V1Scan {
      // both: description() is the V2 API, toString is what
      // RowDataSourceScanExec actually renders into the plan
      override def description(): String = desc.getOrElse(this.getClass.getName)
      override def toString: String = description()
      override def readSchema(): StructType = outSchema
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        new BaseRelation with TableScan {
          override def toString: String = desc.getOrElse(this.getClass.getName)
          override def sqlContext: SQLContext = context
          override def schema: StructType = outSchema
          override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
            mkDf(context).rdd
        }.asInstanceOf[T]
    }
    new ScanBuilder {
      override def build(): Scan = stats match {
        case Some(st) => new Shim
            with org.apache.spark.sql.connector.read.SupportsReportStatistics {
          override def estimateStatistics():
              org.apache.spark.sql.connector.read.Statistics = st
        }
        case None => new Shim {}
      }
    }
  }

  /** V1 `Filter` → `Column` translation for the delete path; `None`
    * marks a filter the engine cannot express, which makes
    * `canDeleteWhere` refuse (Spark then fails the DELETE loudly rather
    * than running it with weaker semantics). */
  def toColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.And(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case sources.Not(c) => toColumn(c).map(not)
    case sources.AlwaysTrue() => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}

/** Read-only V2 table serving a driver-computed metadata DataFrame
  * (history/snapshots/files/refs/deletes) through the V1Scan shim —
  * metadata-scale by construction. */
final class GraftMetaTable private[catalog] (tableName: String,
    df: org.apache.spark.sql.DataFrame) extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = df.schema
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    GraftV2Table.v1ScanOf(df.schema, _ => df, Some(ScanStats.ofLocal(df)))
}
