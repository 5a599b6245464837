package graft.write

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, BoundReference, Cast, Expression, Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.HllSketchAgg
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types._
import graft.catalog.{ColumnStats, DataFile, KeyBloom, PartitionFieldSpec}
import graft.partition.Transforms

/** What a graft parquet file holds beyond its footer, folded while its
  * rows are written — PyIceberg likewise takes a file's metrics from what
  * its own writer returns (`destination_client.py:320-322`), never from a
  * re-read. Per file: the row count; min/max/nulls of each derived
  * partition-transform value; each bloom column's [[KeyBloom]]
  * (`KeyBloom.positions` over `Stager.canonicalKey`, the probe side's
  * encoding); each sketch column's DataSketches HLL sketch (lgK 12, the
  * `hll_sketch_agg` update rules). Data-column min/max/nulls come from the
  * footer parquet has already written ([[FooterStats]]).
  *
  * Stat strings use the canonical encoding the pruner reads back
  * (`TableMetadata.statTypeOf`): epoch days for dates, epoch micros for
  * timestamps, Spark's string cast for everything else, with min/max taken
  * in Spark's typed order. Rows handed to [[FileStatsFold#Acc.add]] are in
  * the `schema` the fold was built for. One fold serves every writer: the
  * distributed `Stager.stage` (as Spark's write-stats hook, [[tracker]]),
  * the SQL row-level `DataWriter`s and the driver's `Stager.stageRows`. */
final class FileStatsFold private (
    derived: IndexedSeq[(String, DataType, Expression)],
    blooms: IndexedSeq[(String, Int, DataType)],
    sketches: IndexedSeq[(String, Int, DataType)]) extends Serializable {
  import FileStatsFold._

  /** A fresh accumulator for one file. */
  def open(): Acc = new Acc

  /** The fold as Spark's write-stats hook for a write under `dest`. */
  def tracker(dest: String): Tracker = new Tracker(this, dest)

  // one per deserialized fold, i.e. per task: a task writes its files
  // one at a time, and `add` reads each projected row before the next
  @transient private lazy val values =
    if (derived.isEmpty) null else UnsafeProjection.create(derived.map(_._3))
  @transient private lazy val order = derived.map(d => PhysicalDataType.ordering(d._2))

  final class Acc private[FileStatsFold] {
    private var rows = 0L
    private val lo, hi = new Array[Any](derived.size)
    private val nulls = new Array[Long](derived.size)
    private val words = Array.ofDim[Long](blooms.size, KeyBloom.NumLongs)
    private val hll = sketches.map { case (_, i, dt) =>
      new HllSketchAgg(BoundReference(i, dt, nullable = true), 12) }
    private val hllBufs = hll.map(_.createAggregationBuffer())

    def add(row: InternalRow): Unit = {
      rows += 1
      if (values != null) {
        val v = values(row)
        var j = 0
        while (j < derived.size) {
          if (v.isNullAt(j)) nulls(j) += 1
          else {
            val x = v.get(j, derived(j)._2)
            if (lo(j) == null || order(j).lt(x, lo(j))) lo(j) = InternalRow.copyValue(x)
            if (hi(j) == null || order(j).gt(x, hi(j))) hi(j) = InternalRow.copyValue(x)
          }
          j += 1
        }
      }
      var b = 0
      while (b < blooms.size) {
        val (_, i, dt) = blooms(b)
        if (!row.isNullAt(i))
          KeyBloom.positions(Stager.canonicalKey(dt, row.get(i, dt)))
            .foreach(p => words(b)(p / 64) |= 1L << (p % 64))
        b += 1
      }
      var k = 0
      while (k < hll.size) { hll(k).update(hllBufs(k), row); k += 1 }
    }

    def result: Folded = {
      val d = derived.indices.map { j =>
        val dt = derived(j)._2
        derived(j)._1 -> ColumnStats(Option(lo(j)).map(render(dt, _)),
          Option(hi(j)).map(render(dt, _)), Some(nulls(j)))
      }
      val b = blooms.indices.map(i =>
        blooms(i)._1 -> ColumnStats(None, None, None, bloom = Some(KeyBloom.encode(words(i).toSeq))))
      val s = sketches.indices.map(i =>
        sketches(i)._1 -> ColumnStats(None, None, None, hll = Some(
          java.util.Base64.getEncoder.encodeToString(
            hll(i).eval(hllBufs(i)).asInstanceOf[Array[Byte]]))))
      Folded(rows, overlay(Map.empty, d ++ b ++ s))
    }
  }
}

object FileStatsFold {

  /** One file's fold: its row count and its stats entries. */
  final case class Folded(rows: Long, stats: Map[String, ColumnStats])

  /** A fold for rows in `schema`: `spec`'s derived values, blooms for the
    * `bloomColumns` and sketches for the `sketchColumns` present in
    * `schema` with a supported type. A partition spec's transforms are
    * resolved here on the driver, against an empty relation. */
  def apply(spark: SparkSession, schema: StructType,
      spec: Seq[PartitionFieldSpec] = Nil, bloomColumns: Seq[String] = Nil,
      sketchColumns: Seq[String] = Nil): FileStatsFold = {
    def present(cols: Seq[String], ok: DataType => Boolean) =
      cols.distinct.filter(c => schema.fieldNames.contains(c) && ok(schema(c).dataType))
        .map(c => (c, schema.fieldIndex(c), schema(c).dataType)).toIndexedSeq
    val derived =
      if (spec.isEmpty) IndexedSeq.empty
      else {
        // runtime-replaceable functions (to_date, …) take their executable
        // form, as the optimizer would give them
        val Project(list, child) = ReplaceExpressions(spark.createDataFrame(
          java.util.Collections.emptyList[Row](), schema)
          .select(spec.map(s => Transforms.expression(s, schema(s.source).dataType)): _*)
          .queryExecution.analyzed)
        spec.zip(list).map { case (s, e) =>
          val bound = BindReferences.bindReference(e match {
            case a: Alias => a.child
            case other => other
          }, child.output)
          (s.name, bound.dataType, bound: Expression)
        }.filter(d => hasStats(d._2)).toIndexedSeq
      }
    new FileStatsFold(derived, present(bloomColumns, KeyBloom.supportsBloom),
      present(sketchColumns, supportsSketch))
  }

  /** The fold for a write to the table `m` in `schema`: its partition
    * spec, and the bloom and sketch columns its properties declare. */
  def forTable(spark: SparkSession, m: graft.catalog.TableMetadata,
      schema: StructType): FileStatsFold =
    apply(spark, schema, m.partitionSpec, GraftWriter.tableBloomColumns(m),
      GraftWriter.tableSketchColumns(m))

  /** Types `hll_sketch_agg` accepts. */
  def supportsSketch(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | StringType | BinaryType => true
    case _ => false
  }

  /** Derived-value types with min/max stats (binary, boolean and nested
    * values have none). */
  private def hasStats(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
        _: DecimalType | StringType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Canonical stat string: the internal value for integral and temporal
    * types (dates are epoch days, timestamps epoch micros), Spark's string
    * cast for the rest. */
  private def render(dt: DataType, v: Any): String = dt match {
    case FloatType | DoubleType | _: DecimalType =>
      Cast(Literal(v, dt), StringType).eval().toString
    case _ => v.toString
  }

  /** `entries` laid over `stats`: an entry's fields win where it has them. */
  private def overlay(stats: Map[String, ColumnStats],
      entries: Iterable[(String, ColumnStats)]): Map[String, ColumnStats] =
    entries.foldLeft(stats) { case (m, (c, e)) =>
      m.updated(c, m.get(c).fold(e)(o => ColumnStats(e.min.orElse(o.min),
        e.max.orElse(o.max), e.nullCount.orElse(o.nullCount),
        e.bloom.orElse(o.bloom), e.hll.orElse(o.hll))))
    }

  /** `file` (footer stats) completed with its fold: folded entries win. */
  def complete(file: DataFile, folded: Folded): DataFile =
    file.copy(stats = overlay(file.stats, folded.stats))

  /** A task's folds, keyed by the path each file was written at. */
  final case class TaskFiles(files: Map[String, Folded]) extends WriteTaskStats

  /** Spark's write-stats hook: each task folds the rows of every file it
    * writes and returns the folds with its commit message; once the job
    * has committed, [[files]] holds them on the driver keyed by each
    * file's committed path under `dest`. */
  final class Tracker private[FileStatsFold] (fold: FileStatsFold, dest: String)
      extends WriteJobStatsTracker {
    @transient @volatile private var done = Map.empty[String, Folded]

    def files: Map[String, Folded] = done

    override def newTaskInstance(): WriteTaskStatsTracker = new WriteTaskStatsTracker {
      private val accs = scala.collection.mutable.LinkedHashMap.empty[String, fold.Acc]
      override def newPartition(values: InternalRow): Unit = ()
      override def newFile(path: String): Unit = accs(path) = fold.open()
      override def closeFile(path: String): Unit = ()
      override def newRow(path: String, row: InternalRow): Unit = accs(path).add(row)
      override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
        TaskFiles(accs.map { case (p, a) => p -> a.result }.toMap)
    }

    override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
      done = stats.flatMap { case TaskFiles(m) =>
        m.map { case (p, f) => committed(p) -> f } }.toMap

    /** A task writes under the commit protocol's attempt directory
      * (`<dest>/_temporary/<n>/_temporary/attempt_…/<rel>`) and the job
      * commit moves `<rel>` to `<dest>/<rel>`. */
    private def committed(written: String): String = {
      val p = new org.apache.hadoop.fs.Path(written).toUri.getPath
      val rel =
        if (!p.contains("/_temporary/")) p.stripPrefix(dest).stripPrefix("/")
        else p.split('/').dropWhile(!_.startsWith("attempt_")).drop(1).mkString("/")
      s"$dest/$rel"
    }
  }
}
