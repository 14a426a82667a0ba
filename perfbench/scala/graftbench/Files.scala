package graftbench

import java.nio.file.{Path, Paths, Files => JFiles}
import scala.jdk.CollectionConverters._

/** Local-filesystem helpers for the benchmark's work directory. */
object Files {
  private def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!JFiles.exists(p)) Nil
    else {
      val s = JFiles.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }
  }

  /** Bytes in the data files under `dir` (hidden and `_`-prefixed
    * bookkeeping files excluded). */
  def bytesUnder(dir: String): Long =
    walk(dir).filter { p =>
      val n = p.getFileName.toString
      JFiles.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }.map(JFiles.size).sum

  def write(path: String, text: String): Unit = {
    val p = Paths.get(path)
    JFiles.createDirectories(p.getParent)
    JFiles.write(p, text.getBytes("UTF-8"))
  }
}
