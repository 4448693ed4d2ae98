package graft.format

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** Small filesystem helpers for the metadata plane (driver-side only).
  *
  * The data plane is all Spark; only table *metadata* (JSON files measured in
  * KBs) is manipulated directly, mirroring the reference's "read a small
  * number of manifest files instead of listing millions of objects" planning
  * model (reference: docs/03-metadata-management.md:10-17).
  */
object GraftUtil {

  def writeStringAtomic(target: Path, content: String): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = target.getParent.resolve(s".${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Create-exclusive publish: fails with FileAlreadyExistsException if the
    * target exists. This is the CAS primitive of the commit protocol
    * (reference: docs/08-acid-transactions.md:16-28).
    */
  def writeStringExclusive(target: Path, content: String): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = target.getParent.resolve(s".${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    // createLink is the true POSIX create-exclusive: link(2) fails with
    // EEXIST atomically IN the filesystem. A no-REPLACE Files.move is only
    // a JDK-side exists() check before rename(2) — and rename REPLACES
    // silently, so two cross-process committers (which lockFor cannot
    // serialize) could both "win" the CAS and one commit's rows would be
    // silently lost. The content is complete before the link publishes it.
    // (An object-store port swaps this for a conditional PUT.)
    try Files.createLink(target, tmp)
    finally Files.deleteIfExists(tmp)
  }

  def readString(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  def listFilesRecursively(dir: Path, suffix: String = ""): Seq[Path] = {
    if (!Files.exists(dir)) return Nil
    val s = Files.walk(dir)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .filter(p => p.getFileName.toString.endsWith(suffix))
      .filter(p => !p.getFileName.toString.startsWith(".") && !p.getFileName.toString.startsWith("_"))
      .toVector
    finally s.close()
  }

  def deleteRecursively(dir: Path): Unit = {
    if (!Files.exists(dir)) return
    val s = Files.walk(dir)
    try s.iterator().asScala.toVector.reverseIterator.foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  /** Unescape Hive-style partition-directory encoding (%XX hex escapes), the
    * inverse of what Spark's `partitionBy` writes in directory names.
    */
  def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hex = s.substring(i + 1, i + 3)
        try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  def relativize(base: String, path: String): String = {
    val b = Paths.get(base).toAbsolutePath.normalize
    val p = Paths.get(path).toAbsolutePath.normalize
    if (p.startsWith(b)) b.relativize(p).toString else path
  }

  def resolve(base: String, rel: String): String =
    if (rel.startsWith("/")) rel else Paths.get(base).resolve(rel).normalize.toString

  /** Canonical comparison form for file locations: URI scheme plus duplicate
    * leading slashes collapse to a single "/", so `_metadata.file_path` URIs
    * ("file:///x") and filesystem paths ("/x") compare equal. Both sides of
    * every file match go through this one function: a position-delete
    * row's `file_path` against the data file a scan task reads
    * (`GraftSpjReaderFactory`), and a bloom row's file against its manifest
    * entry.
    */
  private val FileUriSchemeRe = "^[A-Za-z][A-Za-z0-9+.-]*:/+"
  def normFileLoc(s: String): String = s.replaceFirst(FileUriSchemeRe, "/")
}
