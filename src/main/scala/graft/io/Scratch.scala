package graft.io

import java.io.File
import java.nio.file.{FileSystemException, Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

/** The one place that names where a query's scratch data goes.
  *
  * Everything a query writes besides its result lives under one per-JVM
  * root, `<java.io.tmpdir>/graft-<token>`, which a shutdown hook deletes:
  * concurrent JVMs never share a path, and nothing accumulates across
  * runs. The one exception is [[shared]], for data a process outside the
  * JVM reads after it exits.
  */
object Scratch {

  private val tmpdir = new File(sys.props("java.io.tmpdir"))

  private def token(): String =
    java.util.UUID.randomUUID.toString.replace("-", "").take(12)

  private[graft] val root: File = new File(tmpdir, "graft-" + token())

  /** Identifier-safe form of an sf dir (also usable in table names). */
  def slug(sfDir: String): String =
    sfDir.replaceAll("[^A-Za-z0-9]", "_").replaceAll("^_+", "")

  /** `<root>/<name>_<slug(sfDir)>`: stable within the JVM, so a re-run of
    * the query overwrites its own scratch.
    */
  def dir(sfDir: String, name: String): String =
    new File(root, s"${name}_${slug(sfDir)}").getAbsolutePath

  /** A unique path under the root, for sinks and checkpoints that must
    * start empty on every run.
    */
  def fresh(name: String): String =
    new File(root, s"${name}_${token()}").getAbsolutePath

  /** `<java.io.tmpdir>/graft-shared/<name>`: outlives the JVM. */
  def shared(name: String): String =
    new File(new File(tmpdir, "graft-shared"), name).getAbsolutePath

  private val Ready = "_GRAFT_READY"
  private val locks = new ConcurrentHashMap[String, AnyRef]()

  /** Builds `path` once and returns it. `build` writes into a private,
    * already created sibling directory, which gets a ready marker and is then renamed
    * into place (same-filesystem atomic move), so no caller in any JVM
    * sees a half-built directory. Within the JVM, callers of one path
    * wait for the first build; across JVMs, the loser of a publish race
    * discards its copy and uses the winner's. A build that throws
    * publishes nothing, and the next call builds again.
    */
  def once(path: String)(build: String => Unit): String = {
    val target = new File(path)
    locks.computeIfAbsent(path, _ => new AnyRef).synchronized {
      if (!new File(target, Ready).exists) {
        val tmp = new File(target.getParentFile,
          s"${target.getName}.build_${token()}")
        try {
          Files.createDirectories(tmp.toPath)
          build(tmp.getAbsolutePath)
          new File(tmp, Ready).createNewFile()
          Files.move(tmp.toPath, target.toPath,
            StandardCopyOption.ATOMIC_MOVE)
        } catch {
          case _: FileSystemException if new File(target, Ready).exists =>
        } finally delete(tmp)
      }
    }
    path
  }

  private def delete(f: File): Unit = {
    if (!Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).foreach(_.foreach(delete))
    f.delete(); ()
  }

  /** What the shutdown hook runs: removes the root, never [[shared]]. */
  private[graft] def cleanup(): Unit = delete(root)

  sys.addShutdownHook(cleanup())
}
