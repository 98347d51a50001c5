package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (session startup is
  * ~9s; per-suite sessions would dominate test time). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"

  private val scratch = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  private lazy val cleanup: Unit = sys.addShutdownHook {
    scratch.forEach { d =>
      if (Files.exists(d)) {
        val walk = Files.walk(d)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => try Files.deleteIfExists(p): Unit catch { case _: java.io.IOException => })
        finally walk.close()
      }
    }
  }: Unit

  /** A fresh scratch directory under the system temp dir, deleted with
    * everything in it when the (forked) test JVM exits. */
  def tempDir(prefix: String): Path = {
    cleanup
    val d = Files.createTempDirectory(prefix)
    scratch.add(d)
    d
  }
}
