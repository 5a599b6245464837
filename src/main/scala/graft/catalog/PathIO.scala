package graft.catalog

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Closed-stream directory listings. `Files.list`/`Files.walk` return
  * streams backed by an OPEN directory descriptor that is released only
  * on `close()` — draining via `.iterator()` and dropping the stream
  * leaks one fd per call until GC, which exhausts the process fd limit
  * under sustained metadata traffic (surfaced by the 150-seed model-check
  * run: `currentVersion` lists the metadata dir on every table load).
  * Always materialize-and-close. */
object PathIO {

  def list(dir: Path): Seq[Path] = {
    if (!Files.isDirectory(dir)) return Nil
    val s = Files.list(dir)
    try s.iterator().asScala.toVector finally s.close()
  }

  /** Recursive walk (includes `root` itself), materialized then closed. */
  def walk(root: Path): Seq[Path] = {
    if (!Files.exists(root)) return Nil
    val s = Files.walk(root)
    try s.iterator().asScala.toVector finally s.close()
  }

  /** Depth-first recursive delete; a missing path is a no-op. */
  def deleteRecursively(p: Path): Unit =
    walk(p).reverse.foreach(Files.deleteIfExists)

  /** Best-effort [[deleteRecursively]]: a failure stops it silently. */
  def deleteQuietly(p: Path): Unit =
    try deleteRecursively(p)
    catch { case scala.util.control.NonFatal(_) => () }

  /** Bounded emptiness probe: opens, checks one entry, closes — O(1)
    * regardless of directory size. */
  def isEmptyDir(dir: Path): Boolean = {
    if (!Files.isDirectory(dir)) return false
    val s = Files.list(dir)
    try !s.iterator().hasNext finally s.close()
  }
}
