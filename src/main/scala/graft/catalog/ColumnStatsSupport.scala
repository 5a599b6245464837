package graft.catalog

import java.util.{Optional, OptionalLong}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Column-level statistics for cost-based optimization.
  *
  * Spark's CBO (join reordering, selectivity estimation) reads per-column
  * NDV/null/min-max through the DSv2 `Statistics.columnStats()` surface
  * (`DataSourceV2Relation.transformV2Stats` converts them into catalyst
  * `ColumnStat`s when `spark.sql.cbo.enabled` is on). The engine already
  * keeps EXACT per-file null counts and min/max in commit-time footer
  * stats; the one number a scan cannot derive from per-file metadata is
  * the table-wide distinct count — that is what `ANALYZE` computes (the
  * same HLL estimate Spark's own `ANALYZE TABLE ... FOR COLUMNS` uses)
  * and stores in table properties, snapshot-stamped so staleness is
  * visible.
  *
  * At 100 TB the payoff is plan shape, not scan speed: with NDVs a
  * multi-join query orders the joins by estimated cardinality instead of
  * raw byte size, and an equi-join on a low-NDV column stops being
  * under-estimated. Reporting is gated on `cboEnabled`, so a default
  * session's plans are byte-identical.
  */
object ColumnStatsSupport {

  /** `graft.stats.<col>` property value: `ndv:nulls:avgLen:maxLen`
    * (-1 = absent). */
  val PropPrefix = "graft.stats."
  val SnapshotProp = "graft.stats.snapshot-id"

  /** `graft.hist.<col>` property value:
    * `e0,e1,…,en|ndv0,…,ndv(n-1)|height` — equi-height histogram
    * endpoints (approx percentiles), per-bin distinct counts, rows per
    * bin. Generated by [[analyze]] when the session opts in via Spark's
    * own `spark.sql.statistics.histogram.enabled`. */
  val HistPrefix = "graft.hist."

  private[catalog] final case class Analyzed(
      ndv: Long, nulls: Long, avgLen: Long, maxLen: Long)

  private def parse(v: String): Option[Analyzed] =
    v.split(":") match {
      case Array(a, b, c, d) =>
        try Some(Analyzed(a.toLong, b.toLong, c.toLong, d.toLong))
        catch { case _: NumberFormatException => None }
      case _ => None
    }

  /** Types the single-pass analyzer covers (HLL over nested types is
    * meaningless for CBO estimation). */
  private def analyzable(dt: DataType): Boolean = dt match {
    case _: StructType | _: ArrayType | _: MapType => false
    case _ => true
  }

  /** One distributed pass: HLL distinct + null count per column, length
    * stats for strings/binary. Commits the results as table properties
    * stamped with the analyzed snapshot id. Returns (rowCount, columns
    * analyzed). */
  def analyze(t: GraftTable, requested: Seq[String]): (Long, Seq[String]) = {
    val m = t.metadata
    val targets =
      (if (requested.isEmpty) m.schema.fields.toSeq
       else requested.map(c => m.schema.fields.find(_.name == c).getOrElse(
         throw new IllegalArgumentException(s"no such column: $c"))))
        .filter(f => analyzable(f.dataType))
    require(targets.nonEmpty, "no analyzable columns")
    val df = t.read()
    val aggs = count(lit(1)).as("__rows") +: targets.flatMap { f =>
      val c = col(f.name)
      val lenCol = f.dataType match {
        case StringType => Some(length(c))
        case BinaryType => Some(octet_length(c))
        case _ => None
      }
      Seq(approx_count_distinct(c).as(s"__ndv_${f.name}"),
        count(when(c.isNull, 1)).as(s"__nulls_${f.name}")) ++
        lenCol.toSeq.flatMap(lc => Seq(
          avg(lc).cast("long").as(s"__avglen_${f.name}"),
          max(lc).cast("long").as(s"__maxlen_${f.name}")))
    }
    // Equi-height histograms (skew-aware selectivity): generation is
    // gated on Spark's own spark.sql.statistics.histogram.enabled, like
    // ANALYZE TABLE, and covers numeric columns (the shapes catalyst's
    // FilterEstimation interpolates over). Endpoints ride the SAME
    // single pass as the NDV aggregation via percentile_approx.
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val histTargets =
      if (conf.histogramEnabled) targets.filter(f => histogramable(f.dataType))
      else Nil
    val nBins = conf.histogramNumBins
    val histAggs = histTargets.map { f =>
      val fracs = (0 to nBins).map(_.toDouble / nBins)
      percentile_approx(col(f.name).cast("double"),
        array(fracs.map(lit): _*),
        lit(conf.percentileAccuracy)).as(s"__hist_${f.name}")
    }
    val row = df.agg(aggs.head, aggs.tail ++ histAggs: _*).collect()(0)
    def l(name: String): Long =
      if (row.schema.fieldNames.contains(name) && !row.isNullAt(
        row.fieldIndex(name))) row.getLong(row.fieldIndex(name)) else -1L
    val rows = l("__rows")
    // second pass: per-bin NDV for every histogram column, still ONE
    // job (n conditional HLL aggregates per column)
    val histProps: Map[String, String] = if (histTargets.isEmpty) Map.empty
    else {
      val endpoints: Seq[(StructField, Seq[Double])] = histTargets.flatMap { f =>
        val idx = row.fieldIndex(s"__hist_${f.name}")
        if (row.isNullAt(idx)) None
        else Some(f -> row.getSeq[Double](idx))
      }.filter(_._2.length == nBins + 1)
      if (endpoints.isEmpty) Map.empty
      else {
        val binAggs = endpoints.flatMap { case (f, es) =>
          val c = col(f.name).cast("double")
          (0 until nBins).map { i =>
            val cond =
              if (i == 0) c >= lit(es(0)) && c <= lit(es(1))
              else c > lit(es(i)) && c <= lit(es(i + 1))
            approx_count_distinct(when(cond, c))
              .as(s"__bin_${f.name}_$i")
          }
        }
        val binRow = df.agg(binAggs.head, binAggs.tail: _*).collect()(0)
        endpoints.map { case (f, es) =>
          val ndvs = (0 until nBins).map(i =>
            binRow.getLong(binRow.fieldIndex(s"__bin_${f.name}_$i")))
          val nulls = l(s"__nulls_${f.name}")
          val height =
            (rows - math.max(0L, nulls)).toDouble / nBins
          s"$HistPrefix${f.name}" ->
            (es.mkString(",") + "|" + ndvs.mkString(",") + "|" + height)
        }.toMap
      }
    }
    val props = targets.map { f =>
      val a = Analyzed(l(s"__ndv_${f.name}"), l(s"__nulls_${f.name}"),
        l(s"__avglen_${f.name}"), l(s"__maxlen_${f.name}"))
      s"$PropPrefix${f.name}" -> s"${a.ndv}:${a.nulls}:${a.avgLen}:${a.maxLen}"
    }.toMap
    t.commit { fresh =>
      fresh.copy(properties = fresh.properties ++ props ++ histProps +
        (SnapshotProp -> fresh.currentSnapshotId.getOrElse(0L).toString))
    }
    (rows, targets.map(_.name))
  }

  /** Types catalyst's histogram estimator interpolates over. */
  private def histogramable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
        DoubleType | _: DecimalType => true
    case _ => false
  }

  /** Parse a stored `graft.hist.<col>` property into the V2 histogram. */
  private def parseHistogram(v: String):
      Option[org.apache.spark.sql.connector.read.colstats.Histogram] = {
    import org.apache.spark.sql.connector.read.colstats.{Histogram, HistogramBin}
    v.split("\\|") match {
      case Array(es, ns, h) =>
        try {
          val endpoints = es.split(",").map(_.toDouble)
          val ndvs = ns.split(",").map(_.toLong)
          val rowsPerBin = h.toDouble
          if (endpoints.length != ndvs.length + 1) None
          else {
            val parsedBins: Array[HistogramBin] = ndvs.indices.map { i =>
              new HistogramBin {
                override def lo(): Double = endpoints(i)
                override def hi(): Double = endpoints(i + 1)
                override def ndv(): Long = ndvs(i)
              }
            }.toArray
            Some(new Histogram {
              override def height(): Double = rowsPerBin
              override def bins(): Array[HistogramBin] = parsedBins
            })
          }
        } catch { case _: NumberFormatException => None }
      case _ => None
    }
  }

  /** Types whose catalyst value is a primitive the stats estimator
    * accepts as a min/max (epoch day/micros for temporal types): every
    * decodable type but strings and decimals. */
  private def primitiveBound(dt: DataType): Boolean = dt match {
    case StringType | _: DecimalType => false
    case _ => StatValue.decodable(dt)
  }

  /** Merge analyzed NDVs with per-file exact stats for the CURRENT file
    * set: null counts and min/max come from footer stats when every live
    * file carries them (exact and fresh even after later loads), NDV and
    * length stats from the last ANALYZE. Columns with neither source are
    * omitted. */
  def columnStats(schema: StructType, properties: Map[String, String],
      files: Seq[DataFile]):
      java.util.Map[NamedReference, ColumnStatistics] = {
    val out = new java.util.HashMap[NamedReference, ColumnStatistics]()
    schema.fields.foreach { f =>
      val analyzed = properties.get(s"$PropPrefix${f.name}").flatMap(parse)
      val perFile = files.flatMap(_.stats.get(f.name))
      val exactNulls =
        if (files.nonEmpty && perFile.length == files.length &&
            perFile.forall(_.nullCount.isDefined))
          Some(perFile.flatMap(_.nullCount).sum)
        else None
      val bound = (s: String) =>
        if (primitiveBound(f.dataType)) StatValue.decode(f.dataType, s) else None
      val mins = perFile.flatMap(_.min.flatMap(bound))
      val maxs = perFile.flatMap(_.max.flatMap(bound))
      val num = (x: Any) => x.asInstanceOf[Number].doubleValue()
      val minV =
        if (mins.length == files.length && files.nonEmpty) mins.minByOption(num)
        else None
      val maxV =
        if (maxs.length == files.length && files.nonEmpty) maxs.maxByOption(num)
        else None
      val hist = properties.get(s"$HistPrefix${f.name}")
        .flatMap(parseHistogram)
      // Per-file HLL sketches (written via graft.sketch-columns) union on
      // the driver into a LIVE-file-set NDV — fresher than any stored
      // ANALYZE number because it tracks appends, whole-file deletes,
      // and compaction with zero data reads. Served only when every live
      // file either carries a sketch or is provably all-null for the
      // column (contributing no distinct values), so a mixed-vintage
      // table (files written before the property) falls back to ANALYZE.
      val sketchNdv: Option[Long] =
        if (files.nonEmpty && files.forall(df =>
            df.stats.get(f.name).exists(cs => cs.hll.isDefined ||
              cs.nullCount.contains(df.rowCount))))
          sketchUnionEstimate(files.flatMap(_.stats.get(f.name))
            .flatMap(_.hll))
        else None
      if (analyzed.isDefined || exactNulls.isDefined || sketchNdv.isDefined) {
        out.put(Expressions.column(f.name), new ColumnStatistics {
          override def distinctCount(): OptionalLong =
            sketchNdv.map(OptionalLong.of).getOrElse(
              analyzed.filter(_.ndv >= 0)
                .map(a => OptionalLong.of(a.ndv))
                .getOrElse(OptionalLong.empty()))
          override def histogram(): Optional[
              org.apache.spark.sql.connector.read.colstats.Histogram] =
            hist.map(Optional.of(_)).getOrElse(Optional.empty())
          override def nullCount(): OptionalLong =
            exactNulls.orElse(analyzed.filter(_.nulls >= 0).map(_.nulls))
              .map(OptionalLong.of).getOrElse(OptionalLong.empty())
          override def min(): Optional[AnyRef] =
            minV.map(v => Optional.of(v.asInstanceOf[AnyRef]))
              .getOrElse(Optional.empty())
          override def max(): Optional[AnyRef] =
            maxV.map(v => Optional.of(v.asInstanceOf[AnyRef]))
              .getOrElse(Optional.empty())
          override def avgLen(): OptionalLong =
            analyzed.filter(_.avgLen >= 0)
              .map(a => OptionalLong.of(a.avgLen)).getOrElse(OptionalLong.empty())
          override def maxLen(): OptionalLong =
            analyzed.filter(_.maxLen >= 0)
              .map(a => OptionalLong.of(a.maxLen)).getOrElse(OptionalLong.empty())
        })
      }
    }
    out
  }

  /** Driver-side union of base64 DataSketches HLL sketches (the binary
    * format Spark's `hll_sketch_agg` writes) → rounded NDV estimate.
    * Sketches are KBs and union is O(register-array), so this is
    * metadata-scale work even over 10⁵ files. None on decode failure —
    * corrupt stats must degrade to the ANALYZE fallback, never throw in
    * plan-time stats reporting. */
  private def sketchUnionEstimate(b64s: Seq[String]): Option[Long] =
    try {
      if (b64s.isEmpty) return Some(0L)
      val u = new org.apache.datasketches.hll.Union(12)
      b64s.foreach { s =>
        u.update(org.apache.datasketches.hll.HllSketch.heapify(
          // MIME decoder: Spark's base64() chunks long output with CRLF
          // line breaks (RFC 2045), which the basic decoder rejects
          org.apache.datasketches.memory.Memory.wrap(
            java.util.Base64.getMimeDecoder.decode(s))))
      }
      Some(Math.round(u.getEstimate))
    } catch { case scala.util.control.NonFatal(_) => None }
}
