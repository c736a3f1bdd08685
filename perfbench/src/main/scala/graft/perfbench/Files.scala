package graft.perfbench

import java.io.File
import java.nio.file.{Files => NFiles, Path, StandardCopyOption}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

/** Local-file helpers: tree listing, digests, copies. */
object Files {

  /** A data file: not a Hadoop side file (`.crc`, `_SUCCESS`). */
  private def isData(p: Path): Boolean = {
    val n = p.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }

  def walk(dir: File): Seq[Path] =
    if (!dir.exists()) Nil
    else {
      val s = NFiles.walk(dir.toPath)
      try s.iterator().asScala.filter(p => NFiles.isRegularFile(p) && isData(p))
        .toVector.sortBy(p => dir.toPath.relativize(p).toString)
      finally s.close()
    }

  def bytes(dir: File): Long = walk(dir).map(p => NFiles.size(p)).sum

  /** Header columns and data rows of a header CSV directory (one header
    * line per part file; no quoted newlines in the pipeline's CSVs).
    */
  def csvShape(dir: File): (Seq[String], Long) = {
    val parts = walk(dir).filter(_.getFileName.toString.endsWith(".csv"))
    val header = parts.headOption.map { p =>
      val s = NFiles.lines(p)
      try s.findFirst().orElse("").split(",", -1).toSeq finally s.close()
    }.getOrElse(Nil)
    (header, parts.map { p =>
      val s = NFiles.lines(p)
      try math.max(0L, s.count() - 1) finally s.close()
    }.sum)
  }

  def isTileFile(p: Path): Boolean = {
    val n = p.getFileName.toString
    n.endsWith(".pbf") || n == "metadata.json"
  }

  /** MD5 over the relative paths and bytes of a tile tree's `.pbf` and
    * `metadata.json` files, in path order.
    */
  def treeMd5(dir: File): String = {
    val md = MessageDigest.getInstance("MD5")
    for (p <- walk(dir) if isTileFile(p)) {
      md.update(dir.toPath.relativize(p).toString.getBytes("UTF-8"))
      md.update(NFiles.readAllBytes(p))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  final case class Entry(mtimeNs: Long, size: Long, md5: String)

  /** Every `.pbf` tile of a tree by relative path. */
  def tiles(dir: File): Map[String, Entry] =
    walk(dir).filter(_.getFileName.toString.endsWith(".pbf")).map { p =>
      val md = MessageDigest.getInstance("MD5").digest(NFiles.readAllBytes(p))
      dir.toPath.relativize(p).toString -> Entry(
        NFiles.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.NANOSECONDS),
        NFiles.size(p), md.map("%02x".format(_)).mkString)
    }.toMap

  final case class Rewrite(written: Int, vanished: Int, bytes: Long,
                           changedBytes: Int)

  /** What a run did to a tile tree: files written (new, or with another
    * mtime: a rewrite deletes and re-creates the file), files deleted, bytes written, and how many written files
    * hold bytes that differ from before.
    */
  def rewrite(before: Map[String, Entry], after: Map[String, Entry]): Rewrite = {
    val written = after.filter { case (k, e) =>
      before.get(k).forall(_.mtimeNs != e.mtimeNs) }
    val vanished = before.keySet -- after.keySet
    Rewrite(written.size, vanished.size, written.values.map(_.size).sum,
      written.count { case (k, e) => before.get(k).forall(_.md5 != e.md5) } +
        vanished.size)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def copyTree(from: File, to: File): Unit = {
    deleteTree(to)
    val s = NFiles.walk(from.toPath)
    try s.iterator().asScala.foreach { p =>
      val t = to.toPath.resolve(from.toPath.relativize(p))
      if (NFiles.isDirectory(p)) NFiles.createDirectories(t)
      else NFiles.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }
}
