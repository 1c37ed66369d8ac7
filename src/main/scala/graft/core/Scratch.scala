package graft.core

import java.nio.file.{Files, Path}

/** Per-run scratch directories for pack queries that stage data on
  * local disk (bucketed tables, partitioned layouts, format
  * round-trip files, the streaming gates' inputs and sinks).
  *
  * Fixed paths under `java.io.tmpdir` made concurrent harness runs on
  * one machine race on the same files and catalog table names, and
  * left debris behind. Every caller now gets a FRESH
  * `createTempDirectory`, plus a unique token for session-catalog
  * table names. Because most queries return a LAZY DataFrame over the
  * staged files, scratch can't be deleted inline — a single JVM
  * shutdown hook sweeps every directory this process created once the
  * run is over. */
object Scratch {

  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      dirs.forEach { d =>
        try delete(d)
        catch { case _: Throwable => } // best-effort sweep at exit
      }
    }, "graft-scratch-sweep"))

  /** Fresh scratch directory, swept at JVM exit. */
  def dir(prefix: String): Path = {
    hookInstalled
    val d = Files.createTempDirectory(prefix)
    dirs.add(d)
    d
  }

  /** Delete `p` and everything under it; a missing `p` is a no-op.
    * Errors propagate. */
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => { Files.deleteIfExists(q); () })
      finally walk.close()
    }

  /** The directories the exit sweep covers (read-only, for tests). */
  private[graft] def swept: Seq[Path] = {
    import scala.jdk.CollectionConverters._
    dirs.asScala.toSeq
  }

  /** Unique suffix for catalog table names (one per call). */
  def token(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(8)
}
