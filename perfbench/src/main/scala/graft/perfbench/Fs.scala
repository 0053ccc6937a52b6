package graft.perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

/** Local-filesystem helpers for the benchmark's work tree. */
object Fs {

  def walk(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq finally s.close()
    }

  def deleteTree(root: Path): Unit =
    walk(root).reverse.foreach(Files.deleteIfExists(_))

  /** Regular files under `root` and their total bytes. */
  def usage(root: Path): (Long, Long) = {
    val files = walk(root).filter(Files.isRegularFile(_))
    (files.size.toLong, files.map(Files.size).sum)
  }

  /** SHA-256 over every regular file's relative path and bytes, in path
    * order, leaving out files named `skip` — the content checksum
    * generated inputs are cached under. */
  def checksum(root: Path, skip: String = ""): String = {
    val md = MessageDigest.getInstance("SHA-256")
    walk(root).filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString != skip).map(p => root.relativize(p))
      .sortBy(_.toString).foreach { rel =>
        md.update(rel.toString.getBytes("UTF-8"))
        md.update(Files.readAllBytes(root.resolve(rel)))
      }
    md.digest().map(b => f"$b%02x").mkString
  }
}
