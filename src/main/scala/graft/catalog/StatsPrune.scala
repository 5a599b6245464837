package graft.catalog

import org.apache.spark.sql.sources
import org.apache.spark.sql.types._

/** The engine's one answer to "which files, which deletes might match?":
  * file-level `might-match` evaluation of V1 source filter trees against
  * the stats every commit already carries — the Iceberg manifest-pruning
  * semantics PyIceberg applies to a `row_filter` scan
  * (`destination_client.py:320-322`). Every reader and the merge path ask
  * through here: `scanRange`/`readPointLookup`, the merge's
  * affected-file selection, the row-level operation scan, and the SQL
  * catalog scan.
  *
  * Pruning levels, all conservative (anything not provably disjoint is
  * kept):
  *  - manifest refs: `colMin`/`colMax` ranges skip whole manifests
  *    before any body is opened;
  *  - data files: min/max, null counts, [[KeyBloom]] membership for
  *    point probes, and the derived bucket stats of a bucket-partitioned
  *    source column (the probe's bucket is computed with the same
  *    [[graft.functions.IcebergBucket]] expression the writer stages
  *    with);
  *  - equality deletes: a delete file whose key-column stats exclude the
  *    filter cannot remove a row the filter keeps.
  *
  * Values may be given in their natural type or already in canonical
  * stat form (`Stager.canonicalKey` is idempotent on canonical strings).
  * Types come from [[TableMetadata.statTypeOf]], so derived partition
  * columns (`user_id_bucket_4`) resolve too. */
object StatsPrune {

  /** Current-snapshot data files that might hold a row matching every
    * filter. Manifests whose ref ranges exclude a filter are never
    * opened; per-file stats prune within the opened ones. */
  def files(m: TableMetadata, filters: Seq[sources.Filter]): Seq[DataFile] = {
    val ev = new Eval(m)
    val listed = m.currentSnapshot match {
      case Some(s) if s.resolvedRefs.isDefined && s.files.isEmpty =>
        s.resolvedRefs.get.filter(r => ev.all(refView(r), filters))
          .flatMap(r => ManifestIO.read(r.path))
      case _ => m.currentFiles
    }
    listed.filter(ev.all(_, filters))
  }

  /** The subset of an already-listed file set that might match. */
  def prune(m: TableMetadata, files: Seq[DataFile],
      filters: Seq[sources.Filter]): Seq[DataFile] =
    if (filters.isEmpty) files
    else { val ev = new Eval(m); files.filter(ev.all(_, filters)) }

  /** Equality deletes that might remove a row matching every filter: a
    * deleted row carries one of the file's key tuples, so when the
    * key-column stats exclude a filter, every row the delete could remove
    * fails that filter anyway. Sound only where the filters are applied
    * to the result rows (every caller keeps them residual). */
  def deletes(m: TableMetadata, deletes: Seq[DeleteFile],
      filters: Seq[sources.Filter]): Seq[DeleteFile] =
    if (filters.isEmpty) deletes
    else {
      val ev = new Eval(m)
      deletes.filter(d => ev.all(DataFile(d.path, d.rowCount, 0L,
        d.stats.filter { case (c, _) => d.keyColumns.contains(c) }), filters))
    }

  /** `lo <= column <= hi`, both bounds inclusive. */
  def between(column: String, lo: Any, hi: Any): sources.Filter =
    sources.And(sources.GreaterThanOrEqual(column, lo),
      sources.LessThanOrEqual(column, hi))

  /** A manifest ref seen as one file whose stats are the ref's aggregated
    * column ranges (no null counts, no blooms). */
  private def refView(r: ManifestRef): DataFile = {
    val mins = r.colMin.getOrElse(Map.empty)
    val maxs = r.colMax.getOrElse(Map.empty)
    DataFile(r.path, r.rowCount, r.sizeBytes, mins.collect {
      case (c, mn) if maxs.contains(c) =>
        c -> ColumnStats(Some(mn), Some(maxs(c)), None)
    })
  }

  /** One evaluation over one table: stat types, canonical probe values
    * and probe buckets are resolved once, not once per file. */
  private final class Eval(m: TableMetadata) {
    private val types = scala.collection.mutable.Map.empty[String, Option[DataType]]
    /** Only types whose stat strings order like their values (binary
      * and collated strings do not). */
    private def typeOf(col: String): Option[DataType] =
      types.getOrElseUpdate(col, m.statTypeOf(col).filter {
        case _: NumericType | DateType | TimestampType | TimestampNTZType |
            BooleanType | _: TimeType => true
        case dt => dt == StringType
      })

    private val canon = scala.collection.mutable.Map.empty[(String, Any), String]
    private def canonical(dt: DataType, col: String, v: Any): String =
      canon.getOrElseUpdate((col, v), graft.write.Stager.canonicalKey(dt, v))

    /** Compare a stat string against a value; None when the comparison
      * cannot be made (unknown column, a value foreign to the type). */
    private def cmp(col: String, stat: String, v: Any): Option[Int] =
      typeOf(col).flatMap(dt => scala.util.Try(
        StatCompare.compare(dt, stat, canonical(dt, col, v))).toOption)

    private val bucketFields: Map[String, Seq[PartitionFieldSpec]] =
      m.partitionSpec.filter(s => s.transform == "bucket" && s.param.isDefined)
        .groupBy(_.source)
    private val buckets = scala.collection.mutable.Map.empty[(String, Int, Any), Option[Int]]

    /** The probe's bucket under `bucket(n)`, from the staging expression
      * itself; None when the value does not cast to the column type. */
    private def bucketOf(col: String, n: Int, v: Any): Option[Int] =
      buckets.getOrElseUpdate((col, n, v), typeOf(col).flatMap { dt =>
        import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
        scala.util.Try(graft.functions.IcebergBucket(
          Cast(Literal(v), dt,
            Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone),
            EvalMode.TRY),
          n).eval()).toOption.collect { case b: Int => b }
      })

    def all(f: DataFile, filters: Seq[sources.Filter]): Boolean =
      filters.forall(mightMatch(f, _))

    private def stats(f: DataFile, col: String): Option[ColumnStats] =
      f.stats.get(col)

    def mightMatch(f: DataFile, filter: sources.Filter): Boolean =
      filter match {
        case sources.EqualTo(a, v) => pointHit(f, a, v)
        case sources.EqualNullSafe(a, null) => mightHaveNull(f, a)
        case sources.EqualNullSafe(a, v) => pointHit(f, a, v)
        case sources.In(a, vs) =>
          vs == null || vs.isEmpty || vs.exists(v => v != null && pointHit(f, a, v))
        case sources.GreaterThan(a, v) =>
          stats(f, a).flatMap(_.max).flatMap(cmp(a, _, v)).forall(_ > 0)
        case sources.GreaterThanOrEqual(a, v) =>
          stats(f, a).flatMap(_.max).flatMap(cmp(a, _, v)).forall(_ >= 0)
        case sources.LessThan(a, v) =>
          stats(f, a).flatMap(_.min).flatMap(cmp(a, _, v)).forall(_ < 0)
        case sources.LessThanOrEqual(a, v) =>
          stats(f, a).flatMap(_.min).flatMap(cmp(a, _, v)).forall(_ <= 0)
        case sources.IsNull(a) => mightHaveNull(f, a)
        case sources.IsNotNull(a) =>
          // all-null iff a known null count equals the row count
          !stats(f, a).flatMap(_.nullCount).contains(f.rowCount) || f.rowCount == 0
        case sources.StringStartsWith(a, v) =>
          // s startsWith v ⟹ s >= v, and mn <= s ⟹ mn.take(|v|) <= v
          stats(f, a) match {
            case Some(ColumnStats(Some(mn), Some(mx), _, _, _)) =>
              mx.compareTo(v) >= 0 && mn.take(v.length).compareTo(v) <= 0
            case _ => true
          }
        case sources.And(l, r) => mightMatch(f, l) && mightMatch(f, r)
        case sources.Or(l, r) => mightMatch(f, l) || mightMatch(f, r)
        case sources.AlwaysFalse() => false
        case _ => true // Not / string ops / unknown: keep conservatively
      }

    private def mightHaveNull(f: DataFile, col: String): Boolean =
      // a missing stat entry means the column postdates the file (sparse
      // null-fill) or stats were not collected — keep either way
      stats(f, col).flatMap(_.nullCount).forall(_ > 0)

    /** Point membership: min/max overlap, bloom membership when a
      * [[KeyBloom]] was collected for the column, and the probe's bucket
      * inside the file's derived bucket range for every `bucket(n)` field
      * over the column. */
    private def pointHit(f: DataFile, col: String, v: Any): Boolean =
      v == null || (inRange(f, col, v) && inBuckets(f, col, v))

    private def inRange(f: DataFile, col: String, v: Any): Boolean =
      stats(f, col) match {
        case Some(ColumnStats(mn, mx, _, bloom, _)) =>
          mn.flatMap(cmp(col, _, v)).forall(_ <= 0) &&
            mx.flatMap(cmp(col, _, v)).forall(_ >= 0) &&
            ((bloom, typeOf(col)) match {
              case (Some(b64), Some(dt)) =>
                KeyBloom.mightContain(b64, canonical(dt, col, v))
              case _ => true
            })
        case None => true
      }

    private def inBuckets(f: DataFile, col: String, v: Any): Boolean =
      bucketFields.getOrElse(col, Nil).forall { s =>
        (bucketOf(col, s.param.get, v), stats(f, s.name)) match {
          case (Some(b), Some(ColumnStats(Some(mn), Some(mx), _, _, _))) =>
            StatCompare.compare(IntegerType, mn, b.toString) <= 0 &&
              StatCompare.compare(IntegerType, mx, b.toString) >= 0
          case _ => true
        }
      }
  }
}
