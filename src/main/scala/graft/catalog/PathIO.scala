package graft.catalog

import java.nio.file.{FileAlreadyExistsException, FileSystemException, Files, Path, StandardCopyOption}
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

  /** Publishes `bytes` under `target` so that no reader ever sees the file
    * partly written: the bytes go to a temp file beside it, which is then
    * moved or linked into place. With `replace` an existing file is
    * replaced atomically. Without it an existing file is never touched
    * (FileAlreadyExistsException): the temp file is hard-linked under the
    * target name, which succeeds for exactly one of racing writers — the
    * no-overwrite rename a CAS needs. Filesystems without hard links fall
    * back to an existence check and an atomic move: readers still never
    * see a partly written file, but two writers racing between the check
    * and the move can both succeed, the later one replacing the earlier.
    * A temp file left behind once the target is in place is only logged. */
  def publish(target: Path, bytes: Array[Byte], replace: Boolean = false): Unit = {
    val tmp = target.resolveSibling(
      s".${target.getFileName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    Files.write(tmp, bytes)
    try {
      if (replace)
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      else
        try Files.createLink(target, tmp)
        catch {
          case e: FileAlreadyExistsException => throw e
          case _: UnsupportedOperationException | _: FileSystemException =>
            if (Files.exists(target)) throw new FileAlreadyExistsException(target.toString)
            Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        }
    } finally try Files.deleteIfExists(tmp) catch { case scala.util.control.NonFatal(e) =>
      org.slf4j.LoggerFactory.getLogger(getClass).warn(s"temp file $tmp not deleted: $e") }
  }
}
