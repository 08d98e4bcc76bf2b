package graftbench

import java.io.File

/** Local-filesystem helpers for the benchmark's own bookkeeping. */
object Disk {
  /** Regular files under `dir` whose name ends with `suffix`. */
  def list(dir: String, suffix: String = ""): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(suffix)) Seq(f) else Nil
    walk(new File(dir))
  }

  def bytes(dir: String): Long = list(dir).map(_.length()).sum

  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new File(path))
  }
}
