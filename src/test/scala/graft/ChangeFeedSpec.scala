package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{ManagedTable, Tables}
import graft.streaming.ChangeFeed

/** Table-follows-table CDC replication: a downstream managed table
  * driven only by ChangeFeed.sync must equal the upstream at every
  * step of q121's mutation sequence — including a replayed (crash
  * between apply and cursor advance) span, which must be idempotent.
  */
class ChangeFeedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def content(root: String): Set[String] =
    ManagedTable.read(spark, root).collect().map(_.toString).toSet

  private def assertFollows(up: String, down: String): Unit =
    assert(content(down) == content(up),
      s"downstream diverged from upstream at ${ManagedTable.history(spark, up).last.version}")

  test("downstream follows q121's mutation sequence version by version") {
    val dir = sys.env.getOrElse("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    val docs: DataFrame = Tables.load(spark, dir, "documents")
    val base = TestSpark.tempDir("graft_feed").toString
    val up = s"$base/up"
    val down = s"$base/down"
    val keys = Seq("doc_id")

    ManagedTable.create(spark, up, docs.schema)
    ManagedTable.insert(spark, up, docs)                                    // v1

    // bootstrap from the current snapshot; cursor lands at v1
    val boot = ChangeFeed.init(spark, up, down)
    assert(boot.toVersion == 1 && ChangeFeed.cursor(spark, down).contains(1))
    assertFollows(up, down)

    // q121's mutation sequence, one sync per version
    ManagedTable.delete(spark, up, col("lang") === "de")                    // v2
    val s2 = ChangeFeed.sync(spark, up, down, keys)
    assert(s2.fromVersion == 1 && s2.toVersion == 2 && s2.removed > 0)
    assertFollows(up, down)

    ManagedTable.update(spark, up, col("doc_id") % 10 === 0,
      Map("n_chars" -> (col("n_chars") + 1000)))                            // v3
    assertFollows(up, { ChangeFeed.sync(spark, up, down, keys); down })

    ManagedTable.upsert(spark, up,
      docs.filter(col("doc_id") % 7 === 3)
        .withColumn("n_chars", col("n_chars") * 2), keys)                   // v4
    val s4 = ChangeFeed.sync(spark, up, down, keys)
    assert(s4.upserted > 0) // re-inserted deleted 'de' docs + replaced rows
    assertFollows(up, down)

    // a span of SEVERAL versions drains in one sync
    ManagedTable.delete(spark, up, col("doc_id") % 13 === 5)                // v5
    ManagedTable.update(spark, up, col("doc_id") % 11 === 2,
      Map("n_chars" -> (col("n_chars") + 7)))                               // v6
    val s6 = ChangeFeed.sync(spark, up, down, keys)
    assert(s6.fromVersion == 4 && s6.toVersion == 6)
    assertFollows(up, down)

    // idempotent replay: re-apply an ALREADY-applied span (cursor lost
    // mid-advance = crash between apply and cursor write)
    val replayed = ManagedTable.changes(spark, up, 4, Some(6), keys)
      .localCheckpoint()
    ManagedTable.upsert(spark, down,
      replayed.filter(col("change") =!= "removed").drop("change")
        .select(ManagedTable.history(spark, up).last.schema.fieldNames.map(col): _*),
      keys)
    ManagedTable.deleteKeys(spark, down,
      replayed.filter(col("change") === "removed").select(keys.map(col): _*), keys)
    assertFollows(up, down)

    // current downstream: sync is a no-op and the cursor holds
    val noop = ChangeFeed.sync(spark, up, down, keys)
    assert(noop.fromVersion == 6 && noop.toVersion == 6 &&
      noop.upserted == 0 && noop.removed == 0)

    // schema evolution flows through the feed
    ManagedTable.addColumn(spark, up, "flag",
      org.apache.spark.sql.types.LongType)                                  // v7
    ManagedTable.update(spark, up, col("doc_id") % 17 === 3,
      Map("flag" -> lit(9L)))                                               // v8
    val s8 = ChangeFeed.sync(spark, up, down, keys)
    assert(s8.toVersion == 8 && s8.upserted > 0)
    assertFollows(up, down)
  }

  test("sync without a bootstrap fails loudly") {
    val base = TestSpark.tempDir("graft_feed2").toString
    val up = s"$base/up"
    ManagedTable.create(spark, up,
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING"))
    val e = intercept[IllegalStateException] {
      ChangeFeed.sync(spark, up, s"$base/down", Seq("id"))
    }
    assert(e.getMessage.contains("bootstrap with ChangeFeed.init"))
  }

  test("deleteKeys rewrites only files holding doomed keys; misses are no-ops") {
    val base = TestSpark.tempDir("graft_delkeys").toString
    val root = s"$base/t"
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING")
    ManagedTable.create(spark, root, schema)
    // three inserts = at least three files with disjoint id ranges
    ManagedTable.insert(spark, root,
      spark.range(0, 100).selectExpr("id", "CAST(id AS STRING) AS v").coalesce(1))
    ManagedTable.insert(spark, root,
      spark.range(100, 200).selectExpr("id", "CAST(id AS STRING) AS v").coalesce(1))
    ManagedTable.insert(spark, root,
      spark.range(200, 300).selectExpr("id", "CAST(id AS STRING) AS v").coalesce(1))
    val before = ManagedTable.history(spark, root).last.files.toSet

    val snap = ManagedTable.deleteKeys(spark, root,
      Seq(5L, 7L, 900L).toDF("id"), Seq("id")) // 900 misses: idempotent-safe
    assert(ManagedTable.read(spark, root).count() == 298)
    assert(ManagedTable.read(spark, root)
      .filter(col("id").isin(5L, 7L)).count() == 0)
    // only the first file (ids 0-99) was rewritten; the other two carried over
    val kept = snap.files.toSet.intersect(before)
    assert(kept.size == 2, s"expected 2 untouched files, kept $kept of $before")

    // empty key frame: nothing commits
    val v = ManagedTable.history(spark, root).last.version
    ManagedTable.deleteKeys(spark, root, Seq.empty[Long].toDF("id"), Seq("id"))
    assert(ManagedTable.history(spark, root).last.version == v)
  }

  test("follow: a streaming follower converges to every upstream commit") {
    val base = TestSpark.tempDir("graft_follow").toString
    val (up, down) = (s"$base/up", s"$base/down")
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING")
    ManagedTable.create(spark, up, schema)
    ManagedTable.insert(spark, up, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    ChangeFeed.init(spark, up, down)

    def rows(root: String) = ManagedTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    def awaitMatch(): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (rows(down) != rows(up)) {
        assert(System.nanoTime() < deadline,
          s"follower never converged: down=${rows(down)} up=${rows(up)}")
        Thread.sleep(200)
      }
    }
    val q = ChangeFeed.follow(spark, up, down, Seq("id"),
      intervalMs = 250, checkpointDir = s"$base/ckpt")
    try {
      ManagedTable.update(spark, up, expr("id = 2"), Map("v" -> expr("upper(v)")))
      ManagedTable.insert(spark, up, Seq((3L, "c")).toDF("id", "v"))
      awaitMatch()
      assert(rows(down) == Set((1L, "a"), (2L, "B"), (3L, "c")))
      // a second wave while the follower is live, including a delete
      ManagedTable.delete(spark, up, expr("id = 1"))
      awaitMatch()
      assert(rows(down) == Set((2L, "B"), (3L, "c")))
      // all progress lives in the cursor, not the stream checkpoint
      assert(ChangeFeed.cursor(spark, down)
        .contains(ManagedTable.history(spark, up).last.version))
    } finally q.stop()
  }

  test("sync fails loudly on an unreplayable rename (occupied target), never silently") {
    // upstream swaps a<->b through a temp name; from the follower's
    // cursor view that is renames (a->b, b->a) — both targets occupied.
    // A pure rename's row diff is EMPTY, so skipping the mirror would
    // diverge the follower permanently with no signal; the sync must
    // throw instead (remedy: re-bootstrap).
    val base = TestSpark.tempDir("graft_feed_swap").toString
    val (up, down) = (s"$base/up", s"$base/down")
    import spark.implicits._
    ManagedTable.create(spark, up,
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, a BIGINT, b BIGINT"))
    ManagedTable.insert(spark, up, Seq((1L, 10L, 20L)).toDF("id", "a", "b"))
    ChangeFeed.init(spark, up, down)
    ManagedTable.renameColumn(spark, up, "a", "tmp_swap")
    ManagedTable.renameColumn(spark, up, "b", "a")
    ManagedTable.renameColumn(spark, up, "tmp_swap", "b")
    val e = intercept[IllegalStateException] {
      ChangeFeed.sync(spark, up, down, Seq("id"))
    }
    assert(e.getMessage.contains("occupied") &&
      e.getMessage.contains("Re-bootstrap"), e.getMessage)
    // nothing mutated: the follower's schema is exactly the bootstrap's
    assert(ManagedTable.history(spark, down).last.schema.fieldNames.toSeq ==
      Seq("id", "a", "b"))
  }

  test("sync replays a rename CHAIN in dependency order; a swap still fails loudly") {
    // upstream: b->c then a->b — replayable by applying b->c first
    // (rejecting it would force an unnecessary full re-bootstrap)
    val base = TestSpark.tempDir("graft_feed_chain").toString
    val (up, down) = (s"$base/up", s"$base/down")
    import spark.implicits._
    ManagedTable.create(spark, up,
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, a BIGINT, b BIGINT"))
    ManagedTable.insert(spark, up, Seq((1L, 10L, 20L)).toDF("id", "a", "b"))
    ChangeFeed.init(spark, up, down)
    ManagedTable.renameColumn(spark, up, "b", "c")
    ManagedTable.renameColumn(spark, up, "a", "b")
    ManagedTable.update(spark, up, col("id") === 1L,
      Map("b" -> org.apache.spark.sql.functions.lit(11L)))
    ChangeFeed.sync(spark, up, down, Seq("id"))
    val downDf = ManagedTable.read(spark, down)
    assert(downDf.columns.toSet == Set("id", "b", "c"), downDf.columns.toSeq)
    val row = downDf.collect().head
    assert(row.getAs[Long]("b") == 11L && row.getAs[Long]("c") == 20L, row)
  }

  test("sync surfaces follower-declared constraints on mirrored columns before mutating") {
    val base = TestSpark.tempDir("graft_feed_cons").toString
    val (up, down) = (s"$base/up", s"$base/down")
    import spark.implicits._
    val schema =
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, c BIGINT, d BIGINT")
    ManagedTable.create(spark, up, schema)
    ManagedTable.insert(spark, up, Seq((1L, 2L, 3L)).toDF("id", "c", "d"))
    ChangeFeed.init(spark, up, down)
    // the FOLLOWER declares NOT NULL on c; upstream then renames c away
    graft.sources.Constraints.save(spark, down,
      graft.sources.Constraints.Spec(Nil, Seq("c"), Nil, "reject"), schema)
    ManagedTable.renameColumn(spark, up, "c", "c2")
    val e = intercept[IllegalStateException] {
      ChangeFeed.sync(spark, up, down, Seq("id"))
    }
    assert(e.getMessage.contains("constraints") &&
      e.getMessage.contains("c"), e.getMessage)
    // surfaced BEFORE any mutation — the follower is not partially evolved
    assert(ManagedTable.history(spark, down).last.schema.fieldNames.toSeq ==
      Seq("id", "c", "d"))
  }
}
