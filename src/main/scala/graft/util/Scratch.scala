package graft.util

import java.nio.file.{Files, Path}

/** Scratch directories that outlive the call that makes them but not
  * the JVM: a query that writes a managed table of its own returns a
  * lazy frame over its files, so they must stay until the frame is
  * consumed, and go when the process exits. */
object Scratch {
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  private lazy val cleanup: Unit = sys.addShutdownHook {
    dirs.forEach { d =>
      if (Files.exists(d)) {
        val walk = Files.walk(d)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => try Files.deleteIfExists(p): Unit catch { case _: java.io.IOException => })
        finally walk.close()
      }
    }
  }: Unit

  /** A fresh directory under the system temp dir, deleted with
    * everything in it when the JVM exits. */
  def tempDir(prefix: String): Path = {
    cleanup
    val d = Files.createTempDirectory(prefix)
    dirs.add(d)
    d
  }
}
