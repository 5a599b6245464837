package graft.catalog

import java.nio.file.{Files, Path, Paths}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Comparator
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** File-backed catalog: the warehouse directory IS the catalog (like
  * Iceberg's HadoopCatalog). Location layout `{warehouse}/{namespace}/
  * {table}` follows the reference's `_get_table_location`
  * (`destination_client.py:736-766`); discovery walks for
  * `metadata/v*.metadata.json` like `_register_tables_from_storage`
  * (`destination_client.py:768-851`).
  */
final class GraftCatalog(val spark: SparkSession, warehouse: String) {

  val warehousePath: Path = Paths.get(warehouse)
  Files.createDirectories(warehousePath)
  // engine expressions (iceberg_bucket, ...) resolve via the session registry
  graft.functions.GraftFunctions.register(spark)

  private def nsDir(ns: String): Path = warehousePath.resolve(ns)
  private def tableDir(ns: String, table: String): Path = nsDir(ns).resolve(table)
  private def ident(ns: String, table: String) = s"$ns.$table"

  // --- namespaces (destination_client.py:853-880) ---

  def createNamespace(ns: String): Unit = Files.createDirectories(nsDir(ns))

  def namespaceExists(ns: String): Boolean = Files.isDirectory(nsDir(ns))

  def listNamespaces(): Seq[String] =
    PathIO.list(warehousePath)
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).sorted

  def dropNamespace(ns: String, cascade: Boolean = false): Unit = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceError(ns)
    if (!cascade && listTables(ns).nonEmpty) throw new NamespaceNotEmptyError(ns)
    deleteRecursively(nsDir(ns))
  }

  // --- tables ---

  /** Catalog-level pointer recording a table whose data lives OUTSIDE the
    * default `{warehouse}/{ns}/{table}` layout — the role the reference's
    * catalog plays in `_get_table_location` (`destination_client.py:736-766`).
    * Written atomically (tmp + move) so readers never observe a torn path. */
  private def locationRef(ns: String, table: String): Path =
    tableDir(ns, table).resolve("table-location.ref")

  private def writeLocationRef(ns: String, table: String, location: Path): Unit = {
    Files.createDirectories(tableDir(ns, table))
    PathIO.publish(locationRef(ns, table),
      location.toAbsolutePath.toString.getBytes(UTF_8), replace = true)
  }

  /** Resolve a table's directory through the location pointer; default
    * layout when none is recorded. */
  def tableLocation(ns: String, table: String): Path = {
    val ref = locationRef(ns, table)
    if (Files.exists(ref))
      Paths.get(new String(Files.readAllBytes(ref), UTF_8).trim)
    else tableDir(ns, table)
  }

  /** Identifier cap from the reference's declared capabilities
    * (`destination_client.py:1584-1585`): names are path components here,
    * so over-long or empty identifiers would fail deep inside the
    * filesystem layer with opaque errors — validate up front instead. */
  private[catalog] def validateIdentifiers(ns: String, table: String,
      schema: StructType): Unit = {
    def check(kind: String, s: String): Unit =
      if (s.isEmpty || s.length > graft.types.TypeLattice.MaxIdentifierLength)
        throw new ValidationError(
          s"$kind identifier must be 1..${graft.types.TypeLattice.MaxIdentifierLength}" +
            s" chars, got ${s.length}: '${s.take(48)}'")
    check("namespace", ns)
    check("table", table)
    schema.fieldNames.foreach(check("column", _))
  }

  def createTable(ns: String, table: String, schema: StructType,
      spec: Seq[PartitionFieldSpec] = Nil,
      properties: Map[String, String] = Map.empty,
      location: Option[String] = None): GraftTable = {
    validateIdentifiers(ns, table, schema)
    createNamespace(ns) // auto-create, like initialize_storage
    if (tableExists(ns, table)) throw new TableAlreadyExistsError(ident(ns, table))
    val dir = location.map(Paths.get(_)).getOrElse(tableDir(ns, table))
    if (Files.exists(dir.resolve("metadata").resolve("v1.metadata.json")))
      throw new TableAlreadyExistsError(ident(ns, table))
    val m = TableMetadata.create(ident(ns, table), dir.toString, schema, spec, properties)
    val t = GraftTable.create(spark, dir, m)
    // record custom locations so every later lookup resolves to this table
    if (location.isDefined) writeLocationRef(ns, table, dir)
    t
  }

  /** Register an EXISTING table (metadata already on disk) that lives at an
    * arbitrary location — S11 / `_register_tables_from_storage`
    * (`destination_client.py:768-851`), explicit-single-table form. */
  def registerTable(ns: String, table: String, location: String): GraftTable = {
    createNamespace(ns)
    if (tableExists(ns, table)) throw new TableAlreadyExistsError(ident(ns, table))
    val dir = Paths.get(location)
    val t = new GraftTable(spark, dir)
    if (t.currentVersion < 1) throw new NoSuchTableError(location)
    writeLocationRef(ns, table, dir)
    t
  }

  /** Walk `storageRoot` and register every table-shaped subdirectory not
    * already known — the bulk discovery loop of
    * `_register_tables_from_storage` (`destination_client.py:768-851`).
    * Returns the names registered. */
  def registerTablesFrom(ns: String, storageRoot: String): Seq[String] = {
    val root = Paths.get(storageRoot)
    if (!Files.isDirectory(root)) return Nil
    PathIO.list(root)
      .filter(d => Files.exists(d.resolve("metadata").resolve("v1.metadata.json")))
      .map(_.getFileName.toString).sorted
      .filterNot(tableExists(ns, _))
      .map { name => registerTable(ns, name, root.resolve(name).toString); name }
  }

  def loadTable(ns: String, table: String): GraftTable = {
    val t = new GraftTable(spark, tableLocation(ns, table))
    if (t.currentVersion < 1) throw new NoSuchTableError(ident(ns, table))
    t
  }

  def tableExists(ns: String, table: String): Boolean =
    new GraftTable(spark, tableLocation(ns, table)).currentVersion >= 1

  /** True when `table` exists and already carries `loadId`
    * ([[TableMetadata.hasLoad]]). */
  def hasLoad(ns: String, table: String, loadId: String): Boolean =
    tableExists(ns, table) && loadTable(ns, table).metadata.hasLoad(loadId)

  def listTables(ns: String): Seq[String] =
    PathIO.list(nsDir(ns))
      .map(_.getFileName.toString)
      .filter(tableExists(ns, _))
      .sorted

  /** Drop a table. `purge` also deletes data files — the reference prefers
    * `purge_table` in `drop_tables` (`destination_client.py:892-931`);
    * plain drop removes only the catalog entry (metadata). Custom-location
    * tables: the catalog entry (pointer) always goes; the resolved
    * metadata/data dirs follow the same purge semantics. */
  def dropTable(ns: String, table: String, purge: Boolean = true): Unit = {
    if (!tableExists(ns, table)) throw new NoSuchTableError(ident(ns, table))
    val resolved = tableLocation(ns, table)
    if (purge) deleteRecursively(resolved)
    else deleteRecursively(resolved.resolve("metadata"))
    // custom-location tables: the catalog entry dir holds only the pointer
    if (resolved.toAbsolutePath.normalize != tableDir(ns, table).toAbsolutePath.normalize)
      deleteRecursively(tableDir(ns, table))
  }

  /** Logical truncate: commit a snapshot referencing no files; history is
    * retained for time travel (SURVEY S6/S9). */
  def truncateTable(ns: String, table: String): Unit =
    loadTable(ns, table).commit(_.withSnapshot("overwrite", None, Nil))

  def dropStorage(): Unit =
    listNamespaces().foreach(ns => dropNamespace(ns, cascade = true))

  private def deleteRecursively(p: Path): Unit =
    PathIO.walk(p).sortBy(_.toString).reverse.foreach(Files.delete)
}
