package graft

import java.io.File
import java.nio.file.{Files, Path}

/** Test-scoped directories under `java.io.tmpdir`. A test that writes
  * files, or builds scratch memos over a private data dir, takes the dir
  * from [[withDir]], or [[remove]]s a suite-wide one in `afterAll`, so a
  * test run leaves nothing behind in the scratch root. */
object TempDirs {

  /** `f` on a fresh dir whose name starts with `prefix`; afterwards the
    * dir and every scratch memo built over it are removed. */
  def withDir[A](prefix: String)(f: Path => A): A = {
    val d = Files.createTempDirectory(prefix)
    try f(d) finally remove(d)
  }

  /** Deletes `d` and every scratch memo built over it. */
  def remove(d: Path): Unit = {
    rm(d.toFile)
    memosOver(d).foreach(rm)
  }

  /** The part of a scratch memo's name that names the data dir `d`,
    * whatever the memo's tag. */
  def memoKey(d: Path): String =
    Tables.scratchName("", d.toString).stripPrefix("graft_")

  /** Every scratch memo built over the data dir `d`. */
  def memosOver(d: Path): Seq[File] =
    Option(new File(sys.props("java.io.tmpdir")).listFiles()).toSeq.flatten
      .filter(m => m.getName.startsWith("graft_") && m.getName.contains(memoKey(d)))

  /** Deletes `f` and everything under it. */
  def rm(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(rm)
    f.delete()
  }
}
