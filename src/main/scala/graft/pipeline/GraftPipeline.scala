package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.catalog.GraftCatalog
import graft.write.{Append, Disposition, GraftWriter, WriteConfig}
import scala.collection.mutable

/** Load orchestration + pipeline metadata tables — the Spark rebuild of
  * the reference's load lifecycle (`destination_client.py:933-1106`):
  * batches accumulate per table, `completeLoad` commits one snapshot per
  * table per load (table-sequential, like the reference's
  * `loader_parallelism_strategy="table-sequential"`), then records the
  * load in `_dlt_loads` idempotently.
  */
/** Opt-in automatic maintenance, applied per data table as loads commit:
  * without it, a long-lived pipeline accretes one small file and one
  * snapshot per load until someone remembers to run [[graft.write.Maintenance]]
  * by hand. `*EveryLoads = 0` disables a hook (the default — behavior
  * identical to manual-only maintenance). */
final case class MaintenancePolicy(
    compactEveryLoads: Int = 0,
    smallFileBytes: Long = 32L << 20,
    targetFileBytes: Long = 128L << 20,
    expireEveryLoads: Int = 0,
    keepSnapshots: Int = 10,
    /** Physically apply merge-on-read delete files every N loads — bounds
      * the outstanding delete set (and the read-side anti-join cost) for
      * MoR trickle-upsert tables. 0 = manual only. */
    applyDeletesEveryLoads: Int = 0,
    retryUnitMs: Long = 1000L)

final class GraftPipeline(
    val catalog: GraftCatalog,
    val namespace: String,
    val schemaName: String = "default",
    val pipelineName: String = "pipeline",
    val policy: MaintenancePolicy = MaintenancePolicy()) {

  import GraftPipeline._

  private val writer = new GraftWriter(catalog)

  private case class Pending(df: DataFrame, disposition: Disposition, cfg: WriteConfig)
  private val pending = mutable.LinkedHashMap.empty[String, mutable.Buffer[Pending]]

  /** `initialize_storage` parity (destination_client.py:853-880): ensure
    * the namespace exists, optionally register external tables found under
    * `registerFrom`, then drop every listed truncate table (the reference
    * truncates by dropping; missing tables are ignored). */
  def initializeStorage(truncateTables: Seq[String] = Nil,
      registerFrom: Option[String] = None): Unit = {
    catalog.createNamespace(namespace)
    registerFrom.foreach(dir => catalog.registerTablesFrom(namespace, dir))
    truncateTables.foreach { t =>
      if (catalog.tableExists(namespace, t)) catalog.dropTable(namespace, t)
    }
  }

  /** `is_storage_initialized` (destination_client.py:882-890). */
  def isStorageInitialized: Boolean = catalog.namespaceExists(namespace)

  /** Stage one job file's worth of data for `table` in the current load
    * (`create_load_job` → `_PENDING_FILES`, destination_client.py:933-975). */
  def stage(table: String, df: DataFrame,
      disposition: Disposition = Append,
      cfg: WriteConfig = WriteConfig()): Unit = synchronized {
    pending.getOrElseUpdate(table, mutable.Buffer.empty) += Pending(df, disposition, cfg)
  }

  /** Commit every staged table (one snapshot per table), then record the
    * load. Idempotent by load_id: if `_dlt_loads` already has the id, the
    * whole load is skipped — the reference's ambiguous-write recovery
    * (`destination_client.py:1057-1076`). A replay after a crash between a
    * table commit and the ledger row appends nothing twice: `writeTable`
    * skips each table that already carries the load id. */
  def completeLoad(loadId: String): Unit = synchronized {
    if (loadRecordExists(loadId)) { pending.clear(); return }
    val written = pending.keys.toSeq
    pending.foreach { case (table, jobs) =>
      val disposition = jobs.head.disposition
      val cfg = jobs.head.cfg
      writer.writeTable(namespace, table, jobs.map(_.df).toSeq, disposition, cfg, loadId)
    }
    pending.clear()
    recordLoad(loadId, status = 0L)
    // the ledger itself accretes one file per load; the policy bounds it
    // too (compaction rebuilds its load_id blooms from the table property)
    (written :+ LoadsTable).foreach(applyMaintenancePolicy)
  }

  /** Auto-maintenance hook: every `compactEveryLoads`th snapshot triggers
    * small-file compaction, every `expireEveryLoads`th triggers snapshot
    * expiry — keeping file and snapshot counts bounded across unbounded
    * loads without manual `Maintenance` calls. */
  private def applyMaintenancePolicy(table: String): Unit = {
    if (policy.compactEveryLoads <= 0 && policy.expireEveryLoads <= 0 &&
      policy.applyDeletesEveryLoads <= 0) return
    val t = catalog.loadTable(namespace, table)
    val n = t.metadata.snapshots.size
    if (policy.applyDeletesEveryLoads > 0 && n % policy.applyDeletesEveryLoads == 0)
      try graft.write.Maintenance.applyDeletes(t, policy.retryUnitMs)
      catch { case _: graft.catalog.ValidationError => () }
    if (policy.compactEveryLoads > 0 && n % policy.compactEveryLoads == 0)
      // best effort: a concurrent writer superseding the compaction input
      // aborts THIS compaction, never the load that triggered it
      try graft.write.Maintenance.compact(t, policy.smallFileBytes,
        policy.targetFileBytes, policy.retryUnitMs)
      catch { case _: graft.catalog.ValidationError => () }
    if (policy.expireEveryLoads > 0 && n % policy.expireEveryLoads == 0)
      graft.write.Maintenance.expireSnapshots(t, policy.keepSnapshots,
        policy.retryUnitMs)
  }


  /** Append one `_dlt_*` row on the driver ([[GraftWriter.appendRows]]:
    * no Spark job), its timestamp column in the live table's flavor (C10).
    * `row` builds the row from the current time as a value of that flavor. */
  private def writeInternal(table: String, schema: StructType, cfg: WriteConfig,
      loadId: String)(row: Any => Row): Unit = {
    val target =
      if (catalog.tableExists(namespace, table))
        Some(catalog.loadTable(namespace, table).metadata.schema)
      else None
    val declared = InternalTimestamps.normalize(table, schema, target)
    val now = InternalTimestamps.now(
      declared(InternalTimestamps.InternalColumns(table).head).dataType)
    writer.appendRows(namespace, table, Seq(row(now)), declared, cfg, loadId)
  }

  // --- _dlt_loads (destination_client.py:1026-1106; schema FIXTURES A7) ---

  def recordLoad(loadId: String, status: Long): Unit =
    writeInternal(LoadsTable, LoadsSchema, WriteConfig(retryUnitMs = 10,
      requiredColumns = Set("load_id", "status", "inserted_at"),
      // load_ids are random: min/max stats can't prune a ledger probe,
      // the per-file bloom can (see GraftTable.readPointLookup)
      bloomColumns = Seq("load_id")), loadId) { now =>
      Row(loadId, schemaName, status, now, currentSchemaHash.orNull)
    }

  /** Point lookup (J4, destination_client.py:1139-1150): the ledger's
    * per-file blooms (random UUIDs defeat min/max range stats) keep no file
    * for an unseen id, answered from metadata alone; otherwise the kept
    * files are scanned with the equality filter pushed down. */
  def loadRecordExists(loadId: String): Boolean =
    catalog.tableExists(namespace, LoadsTable) && {
      val t = catalog.loadTable(namespace, LoadsTable)
      graft.catalog.StatsPrune.files(t.metadata,
        Seq(org.apache.spark.sql.sources.EqualTo("load_id", loadId))).nonEmpty &&
        !t.readPointLookup("load_id", loadId).limit(1).isEmpty
    }

  def loads(): DataFrame =
    catalog.loadTable(namespace, LoadsTable).read()

  // --- _dlt_version schema registry (destination_client.py:583-677) ---

  private var currentSchemaHash: Option[String] = None

  /** Store a schema document if its hash is unseen; returns true if a new
    * row was written. */
  def storeSchema(schemaJson: String): Boolean = {
    val hash = sha256Hex(schemaJson)
    currentSchemaHash = Some(hash)
    val exists = catalog.tableExists(namespace, VersionTable) && {
      !catalog.loadTable(namespace, VersionTable).read()
        .filter(col("version_hash") === hash).limit(1).isEmpty
    }
    if (exists) return false
    val nextVersion: Long =
      if (!catalog.tableExists(namespace, VersionTable)) 1L
      else catalog.loadTable(namespace, VersionTable).read()
        .filter(col("schema_name") === schemaName)
        .agg(coalesce(max(col("version")), lit(0L))).collect()(0).getLong(0) + 1L
    writeInternal(VersionTable, VersionSchema, WriteConfig(retryUnitMs = 10,
      requiredColumns = VersionSchema.fieldNames.toSet),
      java.util.UUID.randomUUID().toString) { now =>
      Row(hash, schemaName, nextVersion, EngineVersion, now, schemaJson)
    }
    true
  }

  /** Newest stored schema for this schema name — argmax(version)
    * (`_get_newest_schema`, destination_client.py:312-343). */
  def getStoredSchema: Option[Row] =
    if (!catalog.tableExists(namespace, VersionTable)) None
    else catalog.loadTable(namespace, VersionTable).read()
      .filter(col("schema_name") === schemaName)
      .orderBy(col("version").desc).limit(1).collect().headOption

  def getStoredSchemaByHash(hash: String): Option[Row] =
    if (!catalog.tableExists(namespace, VersionTable)) None
    else catalog.loadTable(namespace, VersionTable).read()
      .filter(col("version_hash") === hash).limit(1).collect().headOption

  /** S10 `drop_tables`: purge the named tables and wipe this schema's
    * rows from `_dlt_version` (`destination_client.py:892-931`). The wipe
    * is a delete-where expressed as a filtered-snapshot rewrite. */
  def dropTables(tables: Seq[String], deleteSchema: Boolean = true): Unit = {
    tables.foreach { t =>
      if (catalog.tableExists(namespace, t)) catalog.dropTable(namespace, t, purge = true)
    }
    if (deleteSchema && catalog.tableExists(namespace, VersionTable)) {
      val t = catalog.loadTable(namespace, VersionTable)
      val kept = t.read().filter(col("schema_name") =!= schemaName)
      val staged = graft.write.Stager.stage(kept, t.dataDir,
        s"drop-schema-${java.util.UUID.randomUUID().toString.take(8)}")
      t.commit(_.withSnapshot("delete", None, staged), unitMs = 10,
        staged = staged.map(_.path))
    }
  }

  /** §3.3 ②: when `_dlt_version` has no row for this schema, derive a
    * schema document from the live catalog tables
    * (`_derive_schema_from_iceberg_tables`, destination_client.py:435-581).
    * Returns (version_hash, schema JSON); hash is the reference's
    * "derived_from_iceberg" sentinel. */
  def getStoredSchemaOrDerive: Option[(String, String)] =
    getStoredSchema.map(r =>
      (r.getAs[String]("version_hash"), r.getAs[String]("schema"))).orElse {
      val dataTables = catalog.listTables(namespace)
        .filterNot(_.startsWith("_dlt_"))
      if (dataTables.isEmpty) None
      else {
        val body = dataTables.map { t =>
          val schemaJson = catalog.loadTable(namespace, t).metadata.schemaJson
          s""""$t": $schemaJson"""
        }.mkString("{", ",", "}")
        Some(("derived_from_iceberg", body))
      }
    }

  // --- _dlt_pipeline_state (destination_client.py:393-433) ---

  def storeState(state: String, loadId: String): Unit = {
    val version = getStoredState.map(_.getAs[Long]("version") + 1L).getOrElse(1L)
    writeInternal(StateTable, StateSchema, WriteConfig(retryUnitMs = 10), loadId) { now =>
      Row(version, EngineVersion, pipelineName, state, now, sha256Hex(state), loadId)
    }
  }

  /** Latest state row by created_at for this pipeline (A2). */
  def getStoredState: Option[Row] =
    if (!catalog.tableExists(namespace, StateTable)) None
    else catalog.loadTable(namespace, StateTable).read()
      .filter(col("pipeline_name") === pipelineName)
      .orderBy(col("created_at").desc, col("version").desc).limit(1)
      .collect().headOption

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}

/** C10: keep `_dlt_*` metadata timestamp batches aligned with their live
  * table's timestamp flavor (`_normalize_internal_metadata_timestamps`,
  * `destination_client.py:67-110`). Spark has a single µs precision, so
  * only the aware (TimestampType) vs naive (TimestampNTZType) axis
  * survives; the default target matches the reference's timestamp("us"). */
object InternalTimestamps {
  import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

  val InternalColumns: Map[String, Seq[String]] = Map(
    GraftPipeline.StateTable -> Seq("created_at"),
    GraftPipeline.LoadsTable -> Seq("inserted_at"),
    GraftPipeline.VersionTable -> Seq("inserted_at"))

  /** `schema` with each internal timestamp column in the live table's
    * flavor (`targetSchema`), or aware when the table is new. */
  def normalize(tableName: String, schema: StructType,
      targetSchema: Option[StructType]): StructType =
    InternalColumns.get(tableName).fold(schema) { cols =>
      StructType(schema.fields.map {
        case f if cols.contains(f.name) &&
            (f.dataType == TimestampType || f.dataType == TimestampNTZType) =>
          f.copy(dataType = targetSchema.flatMap(_.fields.find(_.name == f.name))
            .map(_.dataType).filter(t =>
              t == TimestampType || t == TimestampNTZType)
            .getOrElse(TimestampType))
        case f => f
      })
    }

  /** [[normalize]] applied to a batch: flavor changes are casts. */
  def normalize(tableName: String, df: DataFrame,
      targetSchema: Option[StructType] = None): DataFrame =
    normalize(tableName, df.schema, targetSchema).fields
      .zip(df.schema.fields).foldLeft(df) { case (d, (to, from)) =>
        if (to.dataType == from.dataType) d
        else d.withColumn(to.name, col(to.name).cast(to.dataType))
      }

  /** The current time as a value of `dt`: an instant when aware, the
    * session time zone's wall clock when naive — what casting the instant
    * to TIMESTAMP_NTZ gives. */
  def now(dt: org.apache.spark.sql.types.DataType): Any = {
    val instant = new java.sql.Timestamp(System.currentTimeMillis())
    if (dt == TimestampNTZType)
      java.time.LocalDateTime.ofInstant(instant.toInstant, java.time.ZoneId.of(
        org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
    else instant
  }
}

object GraftPipeline {
  val LoadsTable = "_dlt_loads"
  val VersionTable = "_dlt_version"
  val StateTable = "_dlt_pipeline_state"
  val EngineVersion = 1L

  /** Metadata-table schemas per FIXTURES A7 / destination_client.py:631-638,
    * :1032-1038, :401-428. */
  val LoadsSchema: StructType = StructType(Seq(
    StructField("load_id", StringType, nullable = false),
    StructField("schema_name", StringType, nullable = true),
    StructField("status", LongType, nullable = false),
    StructField("inserted_at", TimestampType, nullable = false),
    StructField("schema_version_hash", StringType, nullable = true)))

  val VersionSchema: StructType = StructType(Seq(
    StructField("version_hash", StringType, nullable = false),
    StructField("schema_name", StringType, nullable = false),
    StructField("version", LongType, nullable = false),
    StructField("engine_version", LongType, nullable = false),
    StructField("inserted_at", TimestampType, nullable = false),
    StructField("schema", StringType, nullable = false)))

  val StateSchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = true),
    StructField("engine_version", LongType, nullable = true),
    StructField("pipeline_name", StringType, nullable = true),
    StructField("state", StringType, nullable = true),
    StructField("created_at", TimestampType, nullable = true),
    StructField("version_hash", StringType, nullable = true),
    StructField("_dlt_load_id", StringType, nullable = true)))
}
