package graft.examples

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.Graft
import graft.server.SqlRouter
import graft.sources.ManagedTable
import graft.streaming.ManagedSink

/** The mutable-table story end-to-end, as a user would drive it:
  * CREATE/INSERT/UPDATE/DELETE/UPSERT as SQL text through the router,
  * a streaming CDC feed landing as MERGE-upserts, schema evolution,
  * OPTIMIZE, time travel, and vacuum. Run:
  * `sbt "runMain graft.examples.LakehouseDemo"`.
  */
object LakehouseDemo {
  def main(args: Array[String]): Unit = {
    val engine = Graft.local(args.headOption.getOrElse("/root/testdata/sf0.001"))
    val spark = engine.spark
    import spark.implicits._
    val router = new SqlRouter(spark)
    val root = Files.createTempDirectory("graft_lakehouse").toString + "/users"

    def show(title: String, sql: String): Unit = {
      println(s"\n== $title\n   $sql")
      router.execute(sql).show(20, truncate = false)
    }

    show("create", s"CREATE MANAGED TABLE users (id BIGINT, name STRING, team STRING, score DOUBLE) LOCATION '$root'")
    show("insert", "INSERT INTO users VALUES (1, 'ada', 'core', 10.0), " +
      "(2, 'grace', 'core', 20.0), (3, 'edsger', 'research', 30.0)")
    // a live per-team rollup: maintained incrementally after every DML
    // below from version deltas — never recomputed (watch
    // n_users/total move with each statement, and 'research' leave the
    // view when its last member is deleted)
    show("materialize", "CREATE MATERIALIZED VIEW team_stats OVER users " +
      s"KEY (team) COUNT n_users SUM (score AS total) LOCATION '${root}_stats'")
    show("update", "UPDATE users SET score = score + 5 WHERE id >= 2")
    show("delete", "DELETE FROM users WHERE name = 'edsger'")
    show("merge", "UPSERT INTO users BY (id) VALUES (2, 'grace', 'infra', 99.0), (4, 'barbara', 'infra', 40.0)")
    show("select", "SELECT * FROM users ORDER BY id")
    show("mview after the DML above (incremental, == recompute)",
      "SELECT * FROM team_stats ORDER BY team")
    show("mviews", "SHOW MATERIALIZED VIEWS")

    println("\n== streaming CDC feed -> MERGE-upserts per micro-batch")
    implicit val sqlCtx = spark.sqlContext
    // the change stream carries a change-sequence number for
    // last-writer-wins; the reduce drops it before the upsert
    val mem = MemoryStream[(Long, String, String, Double, Long)]
    val ckpt = Files.createTempDirectory("graft_lakehouse_ckpt").toString
    val feed = mem.toDF().toDF("id", "name", "team", "score", "ver")
    val q = ManagedSink.upsertStream(feed, root,
      keys = Seq("id"), orderCols = Seq("ver"),
      checkpointDir = ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData((1L, "ada", "core", 11.0, 1L), (5L, "annie", "infra", 50.0, 2L))
    q.processAllAvailable()
    mem.addData((5L, "annie", "infra", 55.0, 3L))
    q.processAllAvailable()
    q.stop()
    router.execute(s"OPEN MANAGED TABLE users2 LOCATION '$root'") // a second name
    show("after CDC", "SELECT * FROM users2 ORDER BY id")

    show("evolve", "ALTER TABLE users2 ADD COLUMN tier STRING")
    show("optimize", "OPTIMIZE users2 INTO 1 FILES BY (id)")
    show("read after evolve+optimize", "SELECT id, name, score, tier FROM users2 ORDER BY id")

    // data skipping: the stats sidecar written at every commit lets a
    // range read prune files BEFORE the scan — on this id-clustered
    // table a selective range touches a strict subset of the files
    val rr = ManagedTable.readRange(spark, root, "id", 1L, 2L)
    println(s"\n== readRange(id in [1,2]): scans ${rr.inputFiles.length} of " +
      s"${ManagedTable.latest(spark, root).files.size} file(s) ==")
    rr.orderBy("id").show(false)

    println("\n== history ==")
    ManagedTable.history(spark, root).foreach(s =>
      println(f"  v${s.version}%-3d ${s.op}%-11s files=${s.files.size}"))
    println("\n== time travel to v1 ==")
    ManagedTable.read(spark, root, asOf = Some(1)).orderBy("id").show(false)
    val swept = ManagedTable.vacuum(spark, root, retainVersions = 2)
    println(s"== vacuum swept ${swept.size} unreferenced file(s); " +
      s"${ManagedTable.history(spark, root).size} version(s) retained ==")
    engine.close()
  }
}
