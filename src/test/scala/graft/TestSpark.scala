package graft

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.server.SqlRouter
import graft.sources.ManagedTable

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

  /** `sql` over the latest snapshots of the managed tables of `router`
    * that it names, planned in a session of its own: a ground-truth
    * recompute that the router's view rewrite never serves. */
  def recompute(router: SqlRouter, sql: String): DataFrame = {
    val s = spark.newSession()
    router.registered.foreach { case (name, root) =>
      if (s"(?i)\\b${java.util.regex.Pattern.quote(name)}\\b".r.findFirstIn(sql).isDefined)
        ManagedTable.read(s, root).createOrReplaceTempView(name)
    }
    s.sql(sql)
  }

  /** A fresh scratch directory under the system temp dir, deleted with
    * everything in it when the (forked) test JVM exits. */
  def tempDir(prefix: String): Path = graft.util.Scratch.tempDir(prefix)
}
