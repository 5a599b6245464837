package graft.catalog

import java.util.{Map => JMap}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** Spark DataSource V2 catalog plugin over the graft warehouse — the
  * Spark-native query surface:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft", classOf[GraftSparkCatalog].getName)
  * spark.conf.set("spark.sql.catalog.graft.warehouse", "/warehouse")
  * spark.sql("SELECT * FROM graft.main.users")
  * spark.sql("SELECT * FROM graft.main.users VERSION AS OF 3")       // snapshot id
  * spark.sql("SELECT * FROM graft.main.users TIMESTAMP AS OF '...'") // wall clock
  * }}}
  *
  * Reads resolve the CURRENT (or time-traveled) snapshot's file list and
  * hand Spark the engine's one pinned-snapshot V2 table
  * ([[GraftV2Table.apply]] — the same table `GraftTable.read()` plans
  * over), so catalyst pushdown, pruning, column pruning, and sparse
  * null-fill semantics are one implementation. DDL (create/drop/namespaces)
  * maps straight onto the graft catalog; writes keep going through
  * [[graft.write.GraftWriter]], which owns the disposition semantics the
  * reference defines (a bare SQL INSERT has no disposition/PK contract,
  * so exposing it would silently bypass merge semantics — deliberately
  * unsupported).
  */
class GraftSparkCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark = org.apache.spark.sql.SparkSession.active
  // one GraftCatalog per active session, not per call: the constructor
  // runs a warehouse mkdir and a full function re-registration, and
  // metadata-heavy planning (listTables -> tableExists per entry) calls
  // into the catalog many times per statement
  @volatile private var cachedCat: GraftCatalog = _
  private def cat = {
    val c = cachedCat
    if (c != null && (c.spark eq spark)) c
    else {
      val n = new GraftCatalog(spark, warehouse)
      cachedCat = n
      n
    }
  }
  private lazy val viewStore = new GraftViews(java.nio.file.Paths.get(warehouse))

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires option spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  /** V2 function catalog surface: exactly the transforms the engine's
    * partition layout uses. Storage-partitioned-join planning resolves
    * each side's reported `bucket(N, col)` through here and treats the
    * sides as co-partitioned iff both bind to the same canonical
    * function — which they do, because both are THIS function. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      ("bucket" +: graft.functions.GraftTemporalFunctions.names)
        .map(n => Identifier.of(Array.empty, n)).toArray
    else Array.empty

  override def loadFunction(ident: Identifier):
      org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty && ident.name() == "bucket")
      graft.functions.GraftBucketFunction
    else if (ident.namespace().isEmpty)
      graft.functions.GraftTemporalFunctions.forName(ident.name())
        .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
          .NoSuchFunctionException(ident))
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  /** SQL stored procedures: `CALL <cat>.system.compact('ns.t')` etc. —
    * see [[GraftProcedures]]. */
  override def loadProcedure(ident: Identifier):
      org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    val err = new RuntimeException(
      s"procedure not found: ${ident.namespace().mkString(".")}.${ident.name()}" +
        s" (available: system.{${GraftProcedures.names.mkString(", ")}})")
    if (!ident.namespace().sameElements(GraftProcedures.Namespace)) throw err
    GraftProcedures.forName(cat, ident.name()).getOrElse(throw err)
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(GraftProcedures.Namespace))
      GraftProcedures.names.map(n =>
        Identifier.of(GraftProcedures.Namespace, n)).toArray
    else Array.empty

  private def nsOf(ident: Identifier): String = ident.namespace().mkString(".")

  private def graftTable(ident: Identifier): GraftTable = {
    if (!cat.tableExists(nsOf(ident), ident.name()))
      throw new NoSuchTableException(ident)
    cat.loadTable(nsOf(ident), ident.name())
  }

  /** The catalog's table at `snap`. A declared primary key
    * (graft.primary-key) is an Iceberg identifier-field set: those
    * columns are required by contract, and delta row-level writes need
    * non-nullable row-id attributes (a catalog-only view). */
  private def v2Table(ident: Identifier, m: TableMetadata, snap: Option[Snapshot],
      schema0: org.apache.spark.sql.types.StructType): Table = {
    val pk = GraftV2Table.parsePrimaryKey(m.properties).toSet
    val schema =
      if (pk.isEmpty) schema0
      else org.apache.spark.sql.types.StructType(schema0.fields.map(f =>
        if (pk.contains(f.name)) f.copy(nullable = false) else f))
    GraftV2Table(spark, s"$catalogName.${nsOf(ident)}.${ident.name()}", m,
      schema, snap.map(_.dataFiles).getOrElse(Nil),
      snap.map(_.deletes).getOrElse(Nil), snap.map(_.posDeletes).getOrElse(Nil),
      Some((cat, nsOf(ident), ident.name())))
  }

  override def loadTable(ident: Identifier): Table = {
    if (!cat.tableExists(nsOf(ident), ident.name()))
      metaTableFor(ident).foreach(t => return t)
    val m = graftTable(ident).metadata
    v2Table(ident, m, m.currentSnapshot, m.schema)
  }

  /** Iceberg-style SQL metadata tables: `SELECT * FROM cat.ns.t.history`
    * (also `.snapshots`, `.files`, `.refs`, `.deletes`). The suffix
    * resolves only when no real table shadows it. */
  private def metaTableFor(ident: Identifier): Option[Table] = {
    val metaNames = Set("history", "snapshots", "files", "refs", "deletes")
    if (!metaNames.contains(ident.name()) || ident.namespace().isEmpty)
      return None
    val ns = ident.namespace().init.mkString(".")
    val tbl = ident.namespace().last
    if (ns.isEmpty || !cat.tableExists(ns, tbl)) return None
    val t = cat.loadTable(ns, tbl)
    val df = ident.name() match {
      case "history" | "snapshots" => t.history()
      case "files" => t.files()
      case "refs" => t.refs()
      case "deletes" => t.deletesTable()
    }
    Some(GraftV2Table.metaTable(spark, s"$catalogName.$ns.$tbl.${ident.name()}", df))
  }

  /** `VERSION AS OF <snapshotId | 'branch-or-tag-name'>` time travel.
    * Reads resolve under the SNAPSHOT-TIME schema (Iceberg pins a
    * schema-id per snapshot), so a time-traveled query never shows
    * columns that did not exist yet. A named ref resolves to its head
    * (Iceberg's branch/tag read); a missing snapshot id is a version
    * error on an EXISTING table — never a table-not-found. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = graftTable(ident)
    val m = t.metadata
    // an exact snapshot-id match wins over a same-spelled ref name, so a
    // legacy all-numeric ref can never shadow numeric time travel
    val id =
      if (m.snapshots.exists(_.snapshotId.toString == version)) version
      else m.refId(version).map(_.toString).getOrElse(version)
    val snap = m.snapshots.find(_.snapshotId.toString == id)
      .getOrElse(throw new IllegalArgumentException(
        s"Snapshot or ref '$version' not found for table " +
          s"${nsOf(ident)}.${ident.name()}; available snapshot ids: " +
          m.snapshots.map(_.snapshotId).mkString(", ") +
          (if (m.refs.exists(_.nonEmpty))
            s"; refs: ${m.refs.get.keys.mkString(", ")}" else "")))
    v2Table(ident, m, Some(snap), m.schemaForSnapshot(snap))
  }

  /** `TIMESTAMP AS OF` time travel; Spark hands micros since epoch.
    * Snapshot-time schema, as in the VERSION AS OF overload. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val t = graftTable(ident)
    val m = t.metadata
    val asOfMs = timestampMicros / 1000L
    val snap = m.snapshotAsOf(asOfMs).getOrElse(throw new IllegalArgumentException(
      s"No snapshot at or before timestamp $asOfMs ms for table " +
        s"${nsOf(ident)}.${ident.name()} (earliest: " +
        m.snapshots.map(_.timestampMs).minOption.getOrElse(-1L) + " ms)"))
    v2Table(ident, m, Some(snap), m.schemaForSnapshot(snap))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = namespace.mkString(".")
    if (!cat.namespaceExists(ns)) throw new NoSuchNamespaceException(namespace)
    cat.listTables(ns).map(Identifier.of(namespace, _)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    cat.tableExists(nsOf(ident), ident.name())

  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    val schema = org.apache.spark.sql.types.StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(c.name(), c.dataType(), c.nullable())))
    // a primary-key claim at create time binds to an EMPTY table (no data
    // to validate), but the columns must exist — fail at DDL, not first DML
    GraftV2Table.parsePrimaryKey(properties.asScala.toMap).foreach(c =>
      if (!schema.fieldNames.contains(c))
        throw new IllegalArgumentException(
          s"graft.primary-key column '$c' not in table schema"))
    val spec = partitions.toSeq.map(toFieldSpec(schema, _))
    cat.createTable(nsOf(ident), ident.name(), schema, spec,
      properties.asScala.toMap - TableCatalog.PROP_LOCATION,
      Option(properties.get(TableCatalog.PROP_LOCATION)))
    loadTable(ident)
  }

  // --- ViewCatalog: persisted SQL views ---
  // CREATE/DROP/SHOW VIEWS and SELECTs over them resolve through the
  // warehouse-backed store (GraftViews): the definition SQL plus its
  // resolution context persists as one atomically-written JSON per view,
  // so a view outlives the session that created it — unlike the
  // reference's per-connection DuckDB views (sql_client.py:101-149).

  private def views = viewStore

  override def listViews(namespace: String*):
      Array[Identifier] = {
    val ns = namespace.mkString(".")
    if (!nsExistsOrIsParent(ns))
      throw new NoSuchNamespaceException(namespace.toArray)
    views.list(ns).map(n => Identifier.of(namespace.toArray, n)).toArray
  }

  override def viewExists(ident: Identifier): Boolean =
    views.exists(nsOf(ident), ident.name())

  override def loadView(ident: Identifier):
      org.apache.spark.sql.connector.catalog.View =
    views.load(nsOf(ident), ident.name())
      .map(d => GraftViews.asV2(
        s"$catalogName.${nsOf(ident)}.${ident.name()}", d))
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident))

  override def createView(info: org.apache.spark.sql.connector.catalog.ViewInfo):
      org.apache.spark.sql.connector.catalog.View = {
    val ident = info.ident()
    val ns = nsOf(ident)
    if (cat.tableExists(ns, ident.name()))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    if (views.exists(ns, ident.name()))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(ident)
    cat.createNamespace(ns)
    views.write(ns, ident.name(), GraftViews.defOf(info), replace = false)
    loadView(ident)
  }

  override def replaceView(info: org.apache.spark.sql.connector.catalog.ViewInfo,
      orCreate: Boolean): org.apache.spark.sql.connector.catalog.View = {
    val ident = info.ident()
    val ns = nsOf(ident)
    if (cat.tableExists(ns, ident.name()))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    if (!orCreate && !views.exists(ns, ident.name()))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident)
    cat.createNamespace(ns)
    views.write(ns, ident.name(), GraftViews.defOf(info), replace = true)
    loadView(ident)
  }

  override def alterView(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.ViewChange*):
      org.apache.spark.sql.connector.catalog.View = {
    import org.apache.spark.sql.connector.catalog.ViewChange
    val d = views.load(nsOf(ident), ident.name())
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident))
    val next = changes.foldLeft(d) {
      case (acc, set: ViewChange.SetProperty) =>
        acc.copy(properties = acc.properties.updated(set.property(), set.value()))
      case (acc, rm: ViewChange.RemoveProperty) =>
        acc.copy(properties = acc.properties - rm.property())
      case (_, other) =>
        throw new UnsupportedOperationException(s"view change $other")
    }
    views.write(nsOf(ident), ident.name(), next, replace = true)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    views.drop(nsOf(ident), ident.name())

  override def renameView(from: Identifier, to: Identifier): Unit = {
    if (cat.tableExists(nsOf(to), to.name()))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(to)
    views.rename(nsOf(from), from.name(), nsOf(to), to.name())
  }

  // --- StagingTableCatalog: atomic CTAS / RTAS ---
  // Spark's AtomicCreateTableAsSelectExec / AtomicReplaceTableAsSelectExec
  // stage the SELECT through these and only publish on success — see
  // GraftStagedTable for the commit protocol. Implementing the interface
  // upgrades every CREATE/REPLACE TABLE ... AS SELECT on this catalog
  // from create-then-write (partial table visible on failure) to atomic.

  private def stage(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform], properties: JMap[String, String],
      mode: StagedMode.Value): org.apache.spark.sql.connector.catalog.StagedTable = {
    val schema = org.apache.spark.sql.types.StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(c.name(), c.dataType(), c.nullable())))
    val target = graft.types.TypeLattice.normalize(schema)
    val props = properties.asScala.toMap - TableCatalog.PROP_LOCATION
    cat.validateIdentifiers(nsOf(ident), ident.name(), target)
    GraftV2Table.parsePrimaryKey(props).foreach(c =>
      if (!target.fieldNames.contains(c))
        throw new IllegalArgumentException(
          s"graft.primary-key column '$c' not in table schema"))
    val spec = partitions.toSeq.map(toFieldSpec(target, _))
    new GraftStagedTable(
      s"$catalogName.${nsOf(ident)}.${ident.name()}",
      nsOf(ident), ident.name(), cat, target, spec, partitions, props,
      Option(properties.get(TableCatalog.PROP_LOCATION)), mode)
  }

  override def stageCreate(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform], properties: JMap[String, String]):
      org.apache.spark.sql.connector.catalog.StagedTable = {
    if (cat.tableExists(nsOf(ident), ident.name()))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    stage(ident, columns, partitions, properties, StagedMode.Create)
  }

  override def stageReplace(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform], properties: JMap[String, String]):
      org.apache.spark.sql.connector.catalog.StagedTable = {
    if (!cat.tableExists(nsOf(ident), ident.name()))
      throw new NoSuchTableException(ident)
    stage(ident, columns, partitions, properties, StagedMode.Replace)
  }

  override def stageCreateOrReplace(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform], properties: JMap[String, String]):
      org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, columns, partitions, properties, StagedMode.CreateOrReplace)

  /** Map a V2 partition transform onto the engine's hint vocabulary via
    * the PUBLIC Transform surface (name/references/arguments — the case
    * classes behind them are private[sql]). */
  private def toFieldSpec(schema: org.apache.spark.sql.types.StructType,
      t: Transform): PartitionFieldSpec = {
    import graft.partition.PartitionHint
    val colName = t.references().head.fieldNames().mkString(".")
    val hint = t.name() match {
      case "identity" => PartitionHint.identity(colName)
      case "bucket" =>
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value().toString.toInt
        }.getOrElse(throw new IllegalArgumentException(
          s"bucket transform without a bucket count: $t"))
        PartitionHint.bucket(n, colName)
      case "years" | "year" => PartitionHint.year(colName)
      case "months" | "month" => PartitionHint.month(colName)
      case "days" | "day" => PartitionHint.day(colName)
      case "hours" | "hour" => PartitionHint.hour(colName)
      case "truncate" =>
        val w = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value().toString.toInt
        }.getOrElse(throw new IllegalArgumentException(
          s"truncate transform without a width: $t"))
        PartitionHint.truncate(w, colName)
      case other => PartitionHint(colName, Some(other))
    }
    graft.partition.Transforms.buildSpec(Seq(hint), schema).head
  }

  /** `ALTER TABLE` DDL routed through the SAME evolution rules the write
    * path enforces (add = nullable only, type change = safe promotion per
    * C7, drop = nullable only): SQL cannot reach a schema state a load
    * could not. The change commits as a new schema version, so
    * time-traveled reads keep their snapshot-time schema. */
  /** Rewrite the struct at `parent` (a dotted path of struct columns)
    * via `leaf` — the shared walker for nested ALTER TABLE targets. */
  private def mapStructAt(schema: org.apache.spark.sql.types.StructType,
      parent: Seq[String])(
      leaf: org.apache.spark.sql.types.StructType => org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    if (parent.isEmpty) leaf(schema)
    else {
      val head = parent.head
      val f = schema.fields.find(_.name == head).getOrElse(
        throw new IllegalArgumentException(s"No column $head"))
      val inner = f.dataType match {
        case st: StructType => mapStructAt(st, parent.tail)(leaf)
        case other => throw new IllegalArgumentException(
          s"Column $head is not a struct (${other.simpleString}); " +
            "cannot alter a nested field inside it")
      }
      StructType(schema.fields.map(x =>
        if (x.name == head) x.copy(dataType = inner) else x))
    }
  }

  /** Reject a `graft.primary-key` claim unless every named column exists
    * top-level and is either required in the metadata schema or provably
    * null-free in the current data. Proof is file null-count stats where
    * present; files with unknown stats (or predating the column — all
    * NULL by sparse-evolution semantics) get ONE column-pruned scan.
    * Deliberately conservative: NULLs that merge-on-read deletes would
    * hide still reject (run `Maintenance.applyDeletes` first). */
  private def validatePkClaim(m: TableMetadata, pk: Seq[String]): Unit = {
    val fields = pk.map(c => m.schema.fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(
        s"graft.primary-key column '$c' not in table schema")))
    val nullable = fields.filter(_.nullable).map(_.name)
    if (nullable.isEmpty) return
    val files = m.currentFiles.filter(_.rowCount > 0)
    val dirty = files.filter(f => nullable.exists(c =>
      f.stats.get(c).flatMap(_.nullCount).exists(_ > 0)))
    if (dirty.nonEmpty)
      throw new IllegalArgumentException(
        s"Cannot set graft.primary-key (${pk.mkString(", ")}): column(s) " +
          s"${nullable.mkString(", ")} contain NULLs (file stats, e.g. " +
          s"${dirty.head.path})")
    val unknown = files.filter(f => nullable.exists(c =>
      f.stats.get(c).flatMap(_.nullCount).isEmpty))
    if (unknown.nonEmpty) {
      val anyNull = spark.read.schema(m.schema)
        .parquet(unknown.map(_.path): _*)
        .select(nullable.map(org.apache.spark.sql.functions.col): _*)
        .filter(nullable.map(c =>
          org.apache.spark.sql.functions.col(c).isNull).reduce(_ || _))
      if (!anyNull.isEmpty)
        throw new IllegalArgumentException(
          s"Cannot set graft.primary-key (${pk.mkString(", ")}): column(s) " +
            s"${nullable.mkString(", ")} contain NULLs in current data")
    }
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val t = graftTable(ident)
    // ONE commit for the whole change batch (atomic: a rejected schema
    // change must not leave property changes behind); property-only
    // batches skip the schema version bump
    val (propChanges, schemaChanges) = changes.partition {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => true
      case _ => false
    }
    def applyProps(m: TableMetadata): TableMetadata =
      if (propChanges.isEmpty) m
      else {
        val updated = m.copy(properties = propChanges.foldLeft(m.properties) {
          case (p, set: TableChange.SetProperty) =>
            p.updated(set.property(), set.value())
          case (p, rm: TableChange.RemoveProperty) => p - rm.property()
          case (p, _) => p
        })
        // a graft.primary-key claim flips V2-schema nullability (v2Table) —
        // the optimizer will fold `pk IS NULL` to false on its word — so
        // a NEW claim over nullable columns must be backed by provably
        // null-free data, validated here race-free against the commit-
        // time metadata (Iceberg's identifier-field rule)
        val newPk = GraftV2Table.parsePrimaryKey(updated.properties)
        if (newPk != GraftV2Table.parsePrimaryKey(m.properties) && newPk.nonEmpty)
          validatePkClaim(updated, newPk)
        updated
      }
    if (schemaChanges.isEmpty) {
      if (propChanges.nonEmpty) t.commit(applyProps)
      return loadTable(ident)
    }
    t.commit { m0 =>
      val m = applyProps(m0)
      var schema = m.schema
      schemaChanges.foreach {
        case add: TableChange.AddColumn =>
          val path = add.fieldNames().toSeq
          val name = path.last
          // explicit rejection over silent reordering loss: the engine
          // appends columns (schema evolution order), so FIRST/AFTER
          // cannot be honored
          if (add.position() != null)
            throw new UnsupportedOperationException(
              s"ADD COLUMN ${path.mkString(".")} FIRST/AFTER is not " +
                "supported: new columns always append")
          if (!add.isNullable)
            throw new IllegalArgumentException(
              s"New column ${path.mkString(".")} must be nullable: existing " +
                "files cannot carry a required value for it (same rule as " +
                "evolution-on-write)")
          schema = mapStructAt(schema, path.init) { st =>
            if (st.fieldNames.contains(name))
              throw new IllegalArgumentException(
                s"Column ${path.mkString(".")} already exists")
            StructType(st.fields :+
              StructField(name, add.dataType, nullable = true))
          }
        case upd: TableChange.UpdateColumnType =>
          val path = upd.fieldNames().toSeq
          val name = path.last
          schema = mapStructAt(schema, path.init) { st =>
            val old = st.fields.find(_.name == name).getOrElse(
              throw new IllegalArgumentException(
                s"No column ${path.mkString(".")}")).dataType
            if (!graft.types.TypeLattice.canPromote(old, upd.newDataType))
              throw new IllegalArgumentException(
                s"Unsafe type change for ${path.mkString(".")}: $old -> " +
                  s"${upd.newDataType} (only int->long, float->double, " +
                  "decimal widening)")
            StructType(st.fields.map(f =>
              if (f.name == name) f.copy(dataType = upd.newDataType) else f))
          }
        case del: TableChange.DeleteColumn =>
          val path = del.fieldNames().toSeq
          val name = path.last
          // top-level structural guards: partition sources and MoR delete
          // keys are top-level names by construction
          if (path.length == 1) {
            if (m.partitionSpec.exists(_.source == name))
              throw new IllegalArgumentException(
                s"Cannot drop partition source column $name")
            // outstanding equality-delete files join on their key columns
            // at every read — dropping one would brick the table (even
            // applyDeletes could no longer run)
            if (m.currentSnapshot.map(_.deletes).getOrElse(Nil)
                .exists(_.keyColumns.contains(name)))
              throw new IllegalArgumentException(
                s"Cannot drop column $name: outstanding merge-on-read delete " +
                  "files key on it — run Maintenance.applyDeletes first")
          }
          schema = mapStructAt(schema, path.init) { st =>
            val f = st.fields.find(_.name == name).getOrElse(
              throw new IllegalArgumentException(
                s"No column ${path.mkString(".")}"))
            if (!f.nullable)
              throw new IllegalArgumentException(
                s"Cannot drop required column ${path.mkString(".")}")
            StructType(st.fields.filterNot(_.name == name))
          }
        case other =>
          throw new UnsupportedOperationException(
            s"ALTER TABLE change $other is not supported")
      }
      m.withSchema(schema)
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    if (!cat.tableExists(nsOf(ident), ident.name())) false
    else { cat.dropTable(nsOf(ident), ident.name()); true }

  /** `DROP TABLE ... PURGE`: the engine's drop already deletes data —
    * the reference's `drop_tables` prefers `purge_table`
    * (`destination_client.py:892-931`) — so PURGE is the same
    * operation rather than an unsupported-feature error. */
  override def purgeTable(ident: Identifier): Boolean = dropTable(ident)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("RENAME TABLE is not supported")

  override def invalidateTable(ident: Identifier): Unit = ()

  // --- SupportsNamespaces ---

  override def listNamespaces(): Array[Array[String]] =
    // the engine catalog stores a multi-part namespace as one dotted
    // string; the V2 surface represents it as its parts, consistent with
    // the Identifier.namespace() splitting used on the way in
    cat.listNamespaces().map(_.split('.').toArray[String]).toArray

  /** A namespace "exists" on the V2 surface when it exists literally OR
    * is a proper dotted prefix of one that does (an implicit parent:
    * `a` exists once `a.b` does), keeping `SHOW NAMESPACES IN gns.a`
    * consistent with the top-level listing of split dotted names. */
  private def nsExistsOrIsParent(ns: String): Boolean =
    cat.namespaceExists(ns) ||
      cat.listNamespaces().exists(_.startsWith(ns + "."))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else {
      val prefix = namespace.mkString(".")
      val children = cat.listNamespaces()
        .filter(_.startsWith(prefix + "."))
        .map(full => full.split('.').take(namespace.length + 1).toArray[String])
        .distinctBy(_.mkString("."))
      if (children.nonEmpty || cat.namespaceExists(prefix)) children.toArray
      else throw new NoSuchNamespaceException(namespace)
    }

  override def namespaceExists(namespace: Array[String]): Boolean =
    nsExistsOrIsParent(namespace.mkString("."))

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] =
    if (nsExistsOrIsParent(namespace.mkString(".")))
      java.util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit =
    cat.createNamespace(namespace.mkString("."))

  override def alterNamespace(namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val ns = namespace.mkString(".")
    if (!cat.namespaceExists(ns)) false
    else { cat.dropNamespace(ns, cascade); true }
  }
}
