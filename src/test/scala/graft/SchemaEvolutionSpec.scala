package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.server.SqlRouter
import graft.sources.{FileStats, ManagedTable}

/** Column-mapping schema evolution (RENAME/DROP COLUMN): metadata-only
  * commits over fixed PHYSICAL column names. Pins the four contracts
  * that make the design safe at any table size:
  *   - rename/drop touch no data file (the snapshot's file list is
  *     byte-identical) and cost one manifest write;
  *   - reads, mutations, pruning, and CDC all follow the mapping
  *     (renamed data keeps its values; a rename diffs as unchanged);
  *   - a re-added name NEVER resurrects dropped bytes (fresh physical
  *     name);
  *   - constraint- and MV-referenced columns refuse evolution loudly.
  */
class SchemaEvolutionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("grp", StringType),
    StructField("score", DoubleType)))

  private def freshRoot(): String =
    TestSpark.tempDir("graft_evo").toString + "/t"

  private def seed(root: String, n: Int = 100): Unit = {
    ManagedTable.create(spark, root, schema)
    ManagedTable.insert(spark, root,
      (1L to n.toLong).map(i => (i, s"g${i % 4}", i / 10.0))
        .toDF("id", "grp", "score"))
  }

  test("rename is metadata-only; data reads under the new name") {
    val root = freshRoot()
    seed(root)
    val before = ManagedTable.history(spark, root).last
    ManagedTable.renameColumn(spark, root, "score", "quality")
    val after = ManagedTable.history(spark, root).last
    assert(after.files == before.files) // no data file touched
    assert(after.op == "rename_column(score->quality)") // SHOW HISTORY detail
    val df = ManagedTable.read(spark, root)
    assert(df.columns.toSeq == Seq("id", "grp", "quality"))
    assert(df.agg(sum("quality")).head.getDouble(0) ==
      (1L to 100L).map(_ / 10.0).sum)
    // time travel still serves the OLD name at the old version
    val old = ManagedTable.read(spark, root, asOf = Some(before.version))
    assert(old.columns.toSeq == Seq("id", "grp", "score"))
  }

  test("mutations and compaction work across a rename (mixed-name files)") {
    val root = freshRoot()
    seed(root)
    ManagedTable.renameColumn(spark, root, "score", "quality")
    // new files write the PHYSICAL name (score); old files carry it too
    ManagedTable.insert(spark, root,
      Seq((200L, "g0", 42.0)).toDF("id", "grp", "quality"))
    ManagedTable.update(spark, root, col("id") === 1L,
      Map("quality" -> lit(99.0)))
    ManagedTable.delete(spark, root, col("id") === 2L)
    ManagedTable.upsert(spark, root,
      Seq((3L, "gX", 7.5), (300L, "gY", 1.25)).toDF("id", "grp", "quality"),
      Seq("id"))
    val m = ManagedTable.read(spark, root)
      .select("id", "quality").as[(Long, Double)].collect().toMap
    assert(m(1L) == 99.0 && !m.contains(2L) && m(3L) == 7.5 &&
      m(200L) == 42.0 && m(300L) == 1.25)
    // compaction rewrites under the physical name and stays readable
    ManagedTable.compactTable(spark, root, numFiles = 4, clusterCols = Seq("id"))
    assert(ManagedTable.read(spark, root).count() == m.size)
  }

  test("readRange prunes on a renamed column (physical sidecar keys)") {
    val root = freshRoot()
    seed(root, n = 400)
    ManagedTable.compactTable(spark, root, numFiles = 8, clusterCols = Seq("id"))
    ManagedTable.renameColumn(spark, root, "id", "doc_id")
    val pruned = ManagedTable.readRange(spark, root, "doc_id", 90L, 110L)
    assert(pruned.count() == 21)
    assert(pruned.inputFiles.length <= 2,
      s"renamed-column range scanned ${pruned.inputFiles.length} of 8 files")
  }

  test("drop removes the projection; re-added name starts all-null (no resurrection)") {
    val root = freshRoot()
    seed(root)
    ManagedTable.dropColumn(spark, root, "score")
    assert(ManagedTable.read(spark, root).columns.toSeq == Seq("id", "grp"))
    // insert at the narrowed schema
    ManagedTable.insert(spark, root, Seq((500L, "g9")).toDF("id", "grp"))
    // re-add the SAME name: must be null for every row — including the
    // 100 pre-drop rows whose files still carry the old bytes
    ManagedTable.addColumn(spark, root, "score", DoubleType)
    val df = ManagedTable.read(spark, root)
    assert(df.count() == 101)
    assert(df.filter(col("score").isNotNull).count() == 0,
      "dropped data resurrected through a re-added column name")
    // and the fresh column is writable under the new physical name
    ManagedTable.update(spark, root, col("id") === 500L,
      Map("score" -> lit(1.5)))
    assert(ManagedTable.read(spark, root).filter(col("score") === 1.5)
      .select("id").as[Long].collect().toSeq == Seq(500L))
  }

  test("rename chain and rename onto a previously-used name") {
    val root = freshRoot()
    seed(root, n = 10)
    ManagedTable.renameColumn(spark, root, "score", "s1")
    ManagedTable.renameColumn(spark, root, "s1", "s2")
    // rename BACK to the original name: physical == logical again
    ManagedTable.renameColumn(spark, root, "s2", "score")
    val snap = ManagedTable.history(spark, root).last
    assert(snap.physical.isEmpty, s"identity mapping should be omitted: ${snap.physical}")
    assert(ManagedTable.read(spark, root).agg(sum("score")).head.getDouble(0) ==
      (1L to 10L).map(_ / 10.0).sum)
    // swap-style rename: grp -> score is refused while score exists
    intercept[IllegalArgumentException] {
      ManagedTable.renameColumn(spark, root, "grp", "score")
    }
  }

  test("CDC: a pure rename diffs as unchanged; real changes keep flowing") {
    val root = freshRoot()
    seed(root, n = 20)
    val v1 = ManagedTable.history(spark, root).last.version
    ManagedTable.renameColumn(spark, root, "score", "quality")
    // pure rename: zero row changes between the versions
    val d0 = ManagedTable.changes(spark, root, v1, None, Seq("id"))
    assert(d0.count() == 0, "a metadata-only rename must not produce CDC rows")
    // rename + a real update: exactly the updated row reports, under
    // the NEW column name
    ManagedTable.update(spark, root, col("id") === 5L, Map("quality" -> lit(77.0)))
    val d1 = ManagedTable.changes(spark, root, v1, None, Seq("id"))
    assert(d1.columns.contains("quality"))
    val rows = d1.select("id", "change", "quality").as[(Long, String, Double)]
      .collect().toSeq.sortBy(_._1)
    assert(rows == Seq((5L, "changed", 77.0)), rows)
  }

  test("constraint-referenced columns refuse rename and drop") {
    val r = new SqlRouter(spark)
    val t = s"evc${System.nanoTime()}"
    r.execute(s"CREATE MANAGED TABLE $t (k BIGINT, v STRING, w DOUBLE, " +
      s"PRIMARY KEY (k), NOT NULL (v), CHECK (w >= 0)) " +
      s"LOCATION '${freshRoot()}'")
    r.execute(s"INSERT INTO $t VALUES (1, 'a', 0.5)")
    Seq(
      s"ALTER TABLE $t RENAME COLUMN k TO kk",
      s"ALTER TABLE $t DROP COLUMN v",
      s"ALTER TABLE $t RENAME COLUMN w TO ww",
    ).foreach { stmt =>
      val e = intercept[IllegalArgumentException](r.execute(stmt))
      assert(e.getMessage.contains("constraint"), s"$stmt -> ${e.getMessage}")
    }
  }

  test("router: rename/drop statements, view re-pin, MV dependency refusal") {
    val r = new SqlRouter(spark)
    val t = s"evr${System.nanoTime()}"
    val base = TestSpark.tempDir("graft_evo").toString
    r.execute(s"CREATE MANAGED TABLE $t (k BIGINT, region STRING, amount BIGINT) " +
      s"LOCATION '$base/$t'")
    r.execute(s"INSERT INTO $t SELECT id % 3, concat('r', id % 2), id FROM range(30)")
    r.execute(s"CREATE MATERIALIZED VIEW mv_$t OVER $t KEY (k) COUNT n " +
      s"SUM (amount AS s_amt) LOCATION '$base/mv_$t'")
    // amount feeds the MV: refuse
    val e1 = intercept[IllegalArgumentException](
      r.execute(s"ALTER TABLE $t RENAME COLUMN amount TO amt"))
    assert(e1.getMessage.contains("materialized view"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      r.execute(s"ALTER TABLE $t DROP COLUMN k"))
    assert(e2.getMessage.contains("materialized view"), e2.getMessage)
    // region is MV-free: evolves, and the temp view re-pins
    assert(r.execute(s"ALTER TABLE $t RENAME COLUMN region TO zone")
      .collect().head.getString(0) == "rename_column")
    assert(r.execute(s"SELECT count(*) AS n FROM $t WHERE zone = 'r1'")
      .head.getLong(0) == 15L)
    // SHOW FILES reports sidecar ranges under the LOGICAL (renamed)
    // name, never the physical one
    val sf = r.execute(s"SHOW FILES FOR $t").collect()
      .map(_.getString(1)).filter(_ != null).toSet
    assert(sf.contains("zone") && !sf.contains("region"), sf)
    // SHOW SCHEMA exposes the logical -> physical mapping
    val sch = r.execute(s"SHOW SCHEMA FOR $t").collect()
      .map(x => x.getString(0) -> x.getString(2)).toMap
    assert(sch("zone") == "region" && sch("k") == "k", sch)
    assert(r.execute(s"ALTER TABLE $t DROP COLUMN zone")
      .collect().head.getString(0) == "drop_column")
    assert(!r.execute(s"SELECT * FROM $t").columns.contains("zone"))
    // the MV still answers (its own columns untouched)
    assert(r.execute(s"SELECT k, count(*) AS n, sum(amount) AS s " +
      s"FROM $t GROUP BY k").count() == 3)
  }

  test("SYNC mirrors upstream renames and drops onto the follower") {
    val r = new SqlRouter(spark)
    val up = s"evu${System.nanoTime()}"
    val dn = s"evd${System.nanoTime()}"
    val base = TestSpark.tempDir("graft_evo").toString
    r.execute(s"CREATE MANAGED TABLE $up (k BIGINT, v STRING, x DOUBLE) " +
      s"LOCATION '$base/$up'")
    r.execute(s"INSERT INTO $up SELECT id AS k, concat('v', id) AS v, " +
      s"CAST(id * 0.5 AS DOUBLE) AS x FROM range(10)")
    r.execute(s"SYNC TABLE $dn FROM $up KEY (k) LOCATION '$base/$dn'")
    // upstream renames + drops + a real row change, then one sync
    r.execute(s"ALTER TABLE $up RENAME COLUMN v TO label")
    r.execute(s"ALTER TABLE $up DROP COLUMN x")
    r.execute(s"UPDATE $up SET label = 'CHANGED' WHERE k = 3")
    r.execute(s"SYNC TABLE $dn FROM $up KEY (k)")
    val down = r.execute(s"SELECT * FROM $dn")
    assert(down.columns.toSeq == Seq("k", "label"))
    val got = down.as[(Long, String)].collect().toMap
    assert(got(3L) == "CHANGED" && got(7L) == "v7" && got.size == 10)
  }

  test("type widening is metadata-only; old and new files coexist; mutations keep working") {
    val root = freshRoot()
    ManagedTable.create(spark, root, StructType(Seq(
      StructField("id", LongType), StructField("n", IntegerType),
      StructField("f", org.apache.spark.sql.types.FloatType))))
    ManagedTable.insert(spark, root,
      (1 to 50).map(i => (i.toLong, i, i * 0.5f)).toDF("id", "n", "f"))
    val filesBefore = ManagedTable.history(spark, root).last.files.toSet

    ManagedTable.alterColumnType(spark, root, "n", LongType)
    ManagedTable.alterColumnType(spark, root, "f", DoubleType)
    val snap = ManagedTable.history(spark, root).last
    // metadata-only: the data files are carried by reference
    assert(snap.files.toSet == filesBefore)
    assert(snap.schema("n").dataType == LongType)
    assert(snap.schema("f").dataType == DoubleType)

    // old INT32/FLOAT files read through the widened schema
    val rows = ManagedTable.read(spark, root)
      .selectExpr("sum(n) AS sn", "count(*) AS c").head
    assert(rows.getLong(0) == (1 to 50).sum.toLong && rows.getLong(1) == 50)

    // new files write the widened type natively; both generations mix
    ManagedTable.insert(spark, root,
      Seq((100L, 5000000000L, 1.25)).toDF("id", "n", "f"))
    ManagedTable.update(spark, root, org.apache.spark.sql.functions.col("id") === 7L,
      Map("n" -> org.apache.spark.sql.functions.lit(7000000000L)))
    val all = ManagedTable.read(spark, root)
    assert(all.filter("n > 4000000000").count() == 2)
    assert(all.count() == 51)

    // CDC across the widening: old side casts up, a pure widening
    // commit diffs as unchanged
    val delta = ManagedTable.changes(spark, root, 1, Some(3), Seq("id"))
    assert(delta.count() == 0, delta.collect().mkString(","))

    // refusals: narrowing, unknown, already-there, non-widenable
    intercept[IllegalArgumentException](
      ManagedTable.alterColumnType(spark, root, "n", IntegerType))
    intercept[IllegalArgumentException](
      ManagedTable.alterColumnType(spark, root, "nope", LongType))
    intercept[IllegalArgumentException](
      ManagedTable.alterColumnType(spark, root, "n", LongType))
    intercept[IllegalArgumentException](
      ManagedTable.alterColumnType(spark, root, "id", StringType))
  }

  test("float->double widening keeps boundary pruning sound (refloated sidecar)") {
    val r = new SqlRouter(spark)
    val t = s"wf${System.nanoTime()}"
    val base = TestSpark.tempDir("graft_evo").toString
    r.execute(s"CREATE MANAGED TABLE $t (id BIGINT, x FLOAT) LOCATION '$base/$t'")
    // x = id * 0.1f: many values (0.1f, 0.2f, ...) whose shortest-float
    // strings differ from their exact double expansions
    r.execute(s"INSERT INTO $t SELECT id, CAST(id * 0.1 AS FLOAT) AS x FROM range(4000)")
    r.execute(s"OPTIMIZE $t INTO 8 FILES BY (x)")
    r.execute(s"ALTER TABLE $t ALTER COLUMN x TYPE DOUBLE")
    assert(r.execute(s"SHOW SCHEMA FOR $t").collect()
      .find(_.getString(0) == "x").get.getString(1) == "double")
    // probes STRADDLING float-vs-double representations of the same
    // decimals: pruned must equal unpruned row-for-row (the wrong-prune
    // trap: the sidecar's "0.1" < double lo 0.100000000)
    val probes = Seq(
      "x <= 0.1", "x >= 0.1", "x > 0.0999999 AND x < 0.1000001",
      "x >= 0.100000000 AND x <= 0.100000002",
      "x BETWEEN 199.9 AND 200.1", "x = CAST(CAST(123.4 AS FLOAT) AS DOUBLE)")
    probes.foreach { p =>
      val q = s"SELECT id, x FROM $t WHERE $p"
      graft.sources.FileSkip.disabled = true
      val expect = try r.execute(q).collect().map(_.toSeq.toSeq).sortBy(_.toString)
      finally graft.sources.FileSkip.disabled = false
      val got = r.execute(q).collect().map(_.toSeq.toSeq).sortBy(_.toString)
      assert(got.toSeq == expect.toSeq, s"pruned != unpruned for: $q")
    }
    // and the clustered layout still PRUNES on the widened column
    val sel = r.execute(s"SELECT id FROM $t WHERE x BETWEEN 10.0 AND 10.5")
    val scanned = sel.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths.size
    }
    assert(scanned.head <= 2, sel.queryExecution.optimizedPlan)
  }

  test("router widening: MV-referenced columns refuse; SYNC mirrors the widening") {
    val r = new SqlRouter(spark)
    val up = s"wu${System.nanoTime()}"
    val dn = s"wd${System.nanoTime()}"
    val mv = s"wm${System.nanoTime()}"
    val base = TestSpark.tempDir("graft_evo").toString
    r.execute(s"CREATE MANAGED TABLE $up (k BIGINT, n INT, u INT) LOCATION '$base/$up'")
    r.execute(s"INSERT INTO $up SELECT id AS k, CAST(id AS INT) AS n, " +
      s"CAST(id AS INT) AS u FROM range(20)")
    r.execute(s"CREATE MATERIALIZED VIEW $mv OVER $up KEY (k) COUNT cnt " +
      s"SUM (n AS sn) LOCATION '$base/$mv'")
    val e = intercept[IllegalArgumentException](
      r.execute(s"ALTER TABLE $up ALTER COLUMN n TYPE BIGINT"))
    assert(e.getMessage.contains("materialized view"), e.getMessage)
    // an un-referenced column widens fine through the router
    r.execute(s"ALTER TABLE $up ALTER COLUMN u TYPE BIGINT")
    r.execute(s"DROP MATERIALIZED VIEW $mv PURGE")

    // follower: bootstrap, widen upstream + write a wide value, sync
    r.execute(s"SYNC TABLE $dn FROM $up KEY (k) LOCATION '$base/$dn'")
    r.execute(s"ALTER TABLE $up ALTER COLUMN n TYPE BIGINT")
    r.execute(s"INSERT INTO $up VALUES (99, 6000000000, 1)")
    r.execute(s"SYNC TABLE $dn FROM $up KEY (k)")
    val down = r.execute(s"SELECT * FROM $dn WHERE k = 99").collect()
    assert(down.head.getLong(1) == 6000000000L, down.mkString(","))
    assert(r.execute(s"SHOW SCHEMA FOR $dn").collect()
      .find(_.getString(0) == "n").get.getString(1) == "bigint")
  }

  test("manifest round-trips the physical map (old manifests parse as identity)") {
    val root = freshRoot()
    seed(root, n = 5)
    ManagedTable.renameColumn(spark, root, "grp", "bucket")
    ManagedTable.dropColumn(spark, root, "score")
    ManagedTable.addColumn(spark, root, "score", StringType) // burned -> fresh physical
    val snap = ManagedTable.history(spark, root).last
    assert(snap.physicalName("bucket") == "grp")
    assert(snap.physicalName("score").startsWith("score__v"))
    assert(snap.physicalName("id") == "id")
    // and a fresh read of the manifest (new history() call) sees the same
    val reread = ManagedTable.history(spark, root).last
    assert(reread.physical == snap.physical)
  }
}
