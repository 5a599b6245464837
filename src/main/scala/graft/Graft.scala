package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.GraftCatalog
import graft.pipeline.GraftPipeline
import graft.write.{Append, Disposition, WriteConfig}

/** Top-level facade — the engine's equivalents of the reference's two
  * user entry points: `pipeline.run(resource)` (write path, §3.1) and
  * `pipeline.dataset().query(sql)` (read path, §3.2).
  *
  * {{{
  * val p = Graft.pipeline(spark, "/warehouse", namespace = "main")
  * p.run(df, "events")                                   // append
  * p.run(updates, "users", Merge("upsert"),
  *   WriteConfig(primaryKey = Seq("user_id")))           // merge
  * val ds = p.dataset()
  * ds.query("SELECT event_type, count(*) FROM events GROUP BY 1")
  * ds.table("users")                                      // DataFrame
  * }}}
  */
object Graft {
  def pipeline(spark: SparkSession, warehouse: String,
      namespace: String = "main", schemaName: String = "default",
      pipelineName: String = "pipeline"): GraftFacade =
    new GraftFacade(new GraftCatalog(spark, warehouse), namespace,
      schemaName, pipelineName)
}

final class GraftFacade(
    val catalog: GraftCatalog,
    namespace: String,
    schemaName: String,
    pipelineName: String) {

  val pipeline = new GraftPipeline(catalog, namespace, schemaName, pipelineName)

  /** One-call load: stage + complete, one snapshot per table — the
    * reference's `pipeline.run(resource, table_name=...,
    * write_disposition=..., primary_key=...)`. Returns the load id. */
  def run(df: DataFrame, table: String,
      disposition: Disposition = Append,
      cfg: WriteConfig = WriteConfig(),
      loadId: String = s"load-${java.util.UUID.randomUUID()}"): String = {
    pipeline.stage(table, df, disposition, cfg)
    pipeline.completeLoad(loadId)
    loadId
  }

  /** Read surface over the committed tables — the reference's
    * `pipeline.dataset()` backed by DuckDB views (`sql_client.py:101-149`),
    * here Spark temp views re-resolved to the CURRENT snapshot on every
    * call ("always replace view", sql_client.py:51-55). */
  def dataset(): GraftDataset = new GraftDataset(catalog, namespace)

  // --- dlt open-table interface (test_dataset.py:236-360) ---
  // Downstream tooling can reach UNDER the query surface to the table
  // format itself. Format tag "graft" names our native snapshot layout;
  // "iceberg" is accepted as an alias (the layout mirrors its
  // metadata-version/snapshot/manifest-stats structure).

  private def checkFormat(format: String): Unit =
    if (format != "graft" && format != "iceberg")
      throw new graft.catalog.ValidationError(
        s"Unknown open-table format: $format (expected graft or iceberg)")

  /** The catalog object backing this pipeline (`get_open_table_catalog`). */
  def openTableCatalog(format: String = "graft"): GraftCatalog = {
    checkFormat(format); catalog
  }

  /** The live table handle (`load_open_table`) — snapshot reads, time
    * travel, and commits, not just a DataFrame. */
  def loadOpenTable(format: String, table: String): graft.catalog.GraftTable = {
    checkFormat(format); catalog.loadTable(namespace, table)
  }

  /** The table's resolved storage location (`get_open_table_location`),
    * honoring custom-location pointers. */
  def openTableLocation(format: String, table: String): String = {
    checkFormat(format)
    if (!catalog.tableExists(namespace, table))
      throw new graft.catalog.NoSuchTableError(s"$namespace.$table")
    catalog.tableLocation(namespace, table).toString
  }

  /** Whether `table` exists in this pipeline's open-table format
    * (`is_open_table`). */
  def isOpenTable(format: String, table: String): Boolean = {
    checkFormat(format); catalog.tableExists(namespace, table)
  }
}

final class GraftDataset(catalog: GraftCatalog, namespace: String) {

  /** Current-snapshot DataFrame for one table. */
  def table(name: String): DataFrame =
    catalog.loadTable(namespace, name).read()

  /** Time travel: the table at a specific snapshot id. */
  def tableAt(name: String, snapshotId: Long): DataFrame =
    catalog.loadTable(namespace, name).readSnapshot(snapshotId)

  /** Time travel: the table as of a wall-clock timestamp (ms). */
  def tableAsOf(name: String, tsMs: Long): DataFrame =
    catalog.loadTable(namespace, name).readAsOf(tsMs)

  /** Register each committed table the SQL names (including `_dlt_*`)
    * as a temp view at its CURRENT snapshot and run the SQL through
    * Spark. */
  def query(sql: String): DataFrame = {
    import org.apache.spark.sql.classic.GraftSqlShims
    val plan = GraftSqlShims.parse(catalog.spark, sql)
    val named = GraftDataset.relationNames(plan).map(_.toLowerCase)
    catalog.listTables(namespace).filter(t => named(t.toLowerCase)).foreach { t =>
      table(t).createOrReplaceTempView(t)
    }
    GraftSqlShims.dfOf(catalog.spark, plan)
  }
}

object GraftDataset {
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  /** The single-part relation names a parsed plan reads, in CTE bodies
    * and subqueries too (a CTE's own name may be among them: a view under
    * it is shadowed, never read). */
  private def relationNames(plan: LogicalPlan): Set[String] = {
    val own = plan match {
      case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
          if r.multipartIdentifier.size == 1 => r.multipartIdentifier
      case _ => Nil
    }
    val nested = plan.children ++ plan.subqueries ++
      plan.innerChildren.collect { case p: LogicalPlan => p }
    own.toSet ++ nested.flatMap(relationNames)
  }
}
