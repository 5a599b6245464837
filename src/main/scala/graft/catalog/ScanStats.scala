package graft.catalog

import java.util.OptionalLong
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.read.{Statistics => V2Statistics, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, PushedDownOperators, V1ScanWrapper}

/** Size/row statistics for the engine's V1-shim scans.
  *
  * Spark's join planning reads `DataSourceV2ScanRelation.computeStats`,
  * which consults the SCAN object for [[SupportsReportStatistics]] and
  * otherwise falls back to `spark.sql.defaultSizeInBytes` = Long.MaxValue
  * — "never broadcast". The parquet hot path reports file sizes on its
  * own, but every DataFrame-backed V1 fallback (merge-on-read reads,
  * `_file`-projecting scans, metadata tables) planned as a statless black
  * box: a 2 KB MoR dimension table joined to a fact table got a
  * sort-merge join, which at cluster scale shuffles the entire fact side.
  * The engine KNOWS the exact footprint from commit-time footer stats
  * ([[DataFile.rowCount]]/[[DataFile.sizeBytes]]), so report it. (The
  * parquet hot path's own decorations — column stats, key grouping, MoR
  * deletes — live in [[GraftScan]].)
  *
  * Two delivery paths for the V1 shims:
  *  - scans the ENGINE wraps itself (row-level operation scans via
  *    `GraftV2Table.wrapV1`) become [[StatsV1ScanWrapper]] directly;
  *  - scans SPARK wraps (`V2ScanRelationPushDown` puts every V1Scan in a
  *    plain stats-less `V1ScanWrapper`) are re-wrapped by
  *    [[V1ScanStatsRule]], registered on `experimental.extraOptimizations`
  *    — the one rule seam that runs AFTER scan building and BEFORE
  *    physical join selection — by the table factories in
  *    [[GraftV2Table]], whenever a table that may plan such a scan is
  *    built.
  */
object ScanStats {
  /** Exact stats literal. `rows` is the pre-delete upper bound for MoR
    * scans — sound for join sizing (overestimates never mis-broadcast). */
  def of(sizeBytes: Long, rows: Long): V2Statistics = new V2Statistics {
    override def sizeInBytes(): OptionalLong = OptionalLong.of(sizeBytes)
    override def numRows(): OptionalLong = OptionalLong.of(rows)
  }

  /** Stats of a driver-local DataFrame (metadata tables): the plan is a
    * LocalRelation, so `.stats` is exact and costs no job. */
  def ofLocal(df: org.apache.spark.sql.DataFrame): V2Statistics = {
    val s = df.queryExecution.optimizedPlan.stats
    new V2Statistics {
      override def sizeInBytes(): OptionalLong =
        OptionalLong.of(s.sizeInBytes.min(BigInt(Long.MaxValue)).toLong)
      override def numRows(): OptionalLong =
        s.rowCount.map(r => OptionalLong.of(r.toLong))
          .getOrElse(OptionalLong.empty())
    }
  }
}

/** A [[V1ScanWrapper]] that still answers [[SupportsReportStatistics]].
  * Subclassing keeps every `case V1ScanWrapper(...)` match in Spark's
  * physical planning working unchanged. */
final class StatsV1ScanWrapper(
    v1: V1Scan with SupportsReportStatistics,
    handled: Seq[org.apache.spark.sql.sources.Filter],
    ops: PushedDownOperators)
  extends V1ScanWrapper(v1, handled, ops) with SupportsReportStatistics {
  override def estimateStatistics(): V2Statistics = v1.estimateStatistics()

  // Class-aware equality. The inherited case-class equals would make the
  // re-wrapped scan == the original stats-less wrapper, so Catalyst's
  // `fastEquals` short-circuit in transformDown DISCARDS the replacement
  // (observed: the rule fired but the plan kept the old node). Two
  // stats wrappers with equal fields stay equal, preserving exchange
  // reuse between identical scans.
  override def canEqual(that: Any): Boolean =
    that.isInstanceOf[StatsV1ScanWrapper]
  override def equals(that: Any): Boolean = that match {
    case s: StatsV1ScanWrapper => super.equals(s)
    case _ => false
  }
  override def hashCode(): Int = super.hashCode()
}

/** Re-wrap rule: find scan relations whose `V1ScanWrapper` hides a
  * stats-reporting graft scan and swap in [[StatsV1ScanWrapper]]. Runs on
  * `spark.experimental.extraOptimizations` (the final optimizer batch,
  * after `V2ScanRelationPushDown` created the wrapper, before join
  * selection reads the stats). Idempotent: already-swapped relations
  * satisfy the SupportsReportStatistics guard and are skipped. */
object V1ScanStatsRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case r: DataSourceV2ScanRelation =>
      r.scan match {
        case w: V1ScanWrapper if !w.isInstanceOf[SupportsReportStatistics] =>
          w.v1Scan match {
            case s: SupportsReportStatistics =>
              r.copy(scan = new StatsV1ScanWrapper(
                s.asInstanceOf[V1Scan with SupportsReportStatistics],
                w.handledFilters, w.pushedDownOperators))
            case _ => r
          }
        case _ => r
      }
  }

  /** Register once per session (extraOptimizations is session-scoped). */
  def register(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.exists(_ eq V1ScanStatsRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ V1ScanStatsRule
  }
}
