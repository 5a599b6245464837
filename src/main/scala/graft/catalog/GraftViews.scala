package graft.catalog

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.connector.catalog.{View, ViewInfo}
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}
import scala.jdk.CollectionConverters._

/** One persisted SQL view: the definition text plus the resolution
  * context Spark needs to re-analyze it later (the catalog/namespace the
  * CREATE ran under, the schema and column names at definition time).
  * The reference's view surface is DuckDB `CREATE VIEW` over table scans
  * (`sql_client.py:101-149`, S3) — per-connection and lost on close;
  * here views are catalog objects that persist in the warehouse and
  * resolve in any later session. */
final case class ViewDef(
    sql: String,
    currentCatalog: String,
    currentNamespace: Seq[String],
    schemaJson: String,
    queryColumnNames: Seq[String],
    columnAliases: Seq[String],
    columnComments: Seq[String],
    properties: Map[String, String])

/** Warehouse-backed view store: `{warehouse}/{ns}/.views/{name}.json`,
  * written atomically (tmp + move) so a reader never sees a torn
  * definition. The dot-prefixed directory is not table-shaped, so table
  * listing/resolution never surfaces it. Metadata-scale by construction:
  * one small JSON file per view, one directory listing per listViews. */
final class GraftViews(warehouse: Path) {
  private implicit val formats: Formats = Serialization.formats(NoTypeHints)

  private def viewsDir(ns: String): Path = warehouse.resolve(ns).resolve(".views")
  private def viewPath(ns: String, name: String): Path =
    viewsDir(ns).resolve(s"$name.json")

  def exists(ns: String, name: String): Boolean =
    Files.isRegularFile(viewPath(ns, name))

  def list(ns: String): Seq[String] =
    PathIO.list(viewsDir(ns))
      .map(_.getFileName.toString)
      .filter(_.endsWith(".json")).map(_.stripSuffix(".json")).sorted

  def load(ns: String, name: String): Option[ViewDef] =
    if (!exists(ns, name)) None
    else Some(JsonMethods.parse(
      new String(Files.readAllBytes(viewPath(ns, name)), UTF_8))
      .extract[ViewDef])

  /** Atomic write; `replace = false` refuses an existing view (the
    * CREATE-vs-CREATE race loses on the underlying move). */
  def write(ns: String, name: String, d: ViewDef, replace: Boolean): Unit = {
    Files.createDirectories(viewsDir(ns))
    try PathIO.publish(viewPath(ns, name),
      JsonMethods.pretty(Extraction.decompose(d)).getBytes(UTF_8), replace)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new TableAlreadyExistsError(s"view $ns.$name")
    }
  }

  def drop(ns: String, name: String): Boolean =
    Files.deleteIfExists(viewPath(ns, name))

  def rename(fromNs: String, fromName: String, toNs: String, toName: String): Unit = {
    if (!exists(fromNs, fromName)) throw new NoSuchTableError(s"view $fromNs.$fromName")
    Files.createDirectories(viewsDir(toNs))
    try Files.move(viewPath(fromNs, fromName), viewPath(toNs, toName),
      StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new TableAlreadyExistsError(s"view $toNs.$toName")
    }
  }
}

object GraftViews {
  /** Adapt a stored definition to Spark's connector `View`. */
  def asV2(viewName: String, d: ViewDef): View = new View {
    override def name(): String = viewName
    override def query(): String = d.sql
    override def currentCatalog(): String = d.currentCatalog
    override def currentNamespace(): Array[String] = d.currentNamespace.toArray
    override def schema(): StructType =
      org.apache.spark.sql.types.DataType.fromJson(d.schemaJson)
        .asInstanceOf[StructType]
    override def queryColumnNames(): Array[String] = d.queryColumnNames.toArray
    override def columnAliases(): Array[String] = d.columnAliases.toArray
    override def columnComments(): Array[String] = d.columnComments.toArray
    override def properties(): java.util.Map[String, String] =
      d.properties.asJava
  }

  def defOf(info: ViewInfo): ViewDef = ViewDef(
    sql = info.sql(),
    currentCatalog = info.currentCatalog(),
    currentNamespace = Option(info.currentNamespace()).map(_.toSeq).getOrElse(Nil),
    schemaJson = info.schema().json,
    queryColumnNames =
      Option(info.queryColumnNames()).map(_.toSeq).getOrElse(Nil),
    columnAliases = Option(info.columnAliases()).map(_.toSeq).getOrElse(Nil),
    columnComments = Option(info.columnComments()).map(_.toSeq).getOrElse(Nil),
    properties = Option(info.properties())
      .map(_.asScala.toMap).getOrElse(Map.empty))
}
