package graft

import java.nio.file.{Files, Path, Paths}

import graft.io.Scratch

/** Temporary files and directories for tests, under the JVM's
  * [[graft.io.Scratch]] root, which its shutdown hook deletes: a test run
  * leaves nothing behind in `java.io.tmpdir`.
  */
object Tmp {

  /** A new empty directory whose name starts with `prefix`. */
  def dir(prefix: String): Path =
    Files.createDirectories(Paths.get(Scratch.fresh(prefix)))

  /** A new empty file named `<prefix>_<token><suffix>`. */
  def file(prefix: String, suffix: String): Path = {
    val p = Paths.get(Scratch.fresh(prefix) + suffix)
    Files.createDirectories(p.getParent)
    Files.createFile(p)
  }
}
