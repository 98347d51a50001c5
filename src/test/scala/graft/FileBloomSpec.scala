package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.server.SqlRouter
import graft.sources.FileBloom

/** Per-file bloom-filter sidecars (CREATE BLOOM INDEX): point/IN
  * predicates on UNCLUSTERED high-ndv columns must prune files — the
  * layout min/max skipping can never serve — while results stay
  * row-identical to the unpruned scan (a bloom proves absence only).
  * The hash arithmetic is pinned against q146's in-engine SQL form,
  * so the storage feature and the measured-FPR query stay one design.
  */
class FileBloomSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fresh() = TestSpark.tempDir("graft_bl").toString

  private def scannedFiles(df: DataFrame): Seq[Int] =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.size
        case _ => -1
      }
    }

  /** 8 single-file inserts with INTERLEAVED ids (file j holds ids ≡ j
    * mod 8), so every file's [min, max] spans nearly the whole domain
    * and min/max pruning is useless — the bloom's home turf. */
  private def unclustered(): (SqlRouter, String) = {
    val r = new SqlRouter(spark)
    val t = s"b${System.nanoTime()}"
    r.execute(s"CREATE MANAGED TABLE $t (id BIGINT, tag STRING, v BIGINT) " +
      s"LOCATION '${fresh()}/$t'")
    (0 until 8).foreach { j =>
      r.execute(s"INSERT INTO $t SELECT /*+ COALESCE(1) */ id * 8 + $j AS id, " +
        s"concat('tag', (id * 8 + $j) % 1000) AS tag, id AS v FROM range(500)")
    }
    (r, t)
  }

  test("commits write SEGMENT SHARDS, never a per-version monolith (r11 layout)") {
    val (r, t) = unclustered()
    r.execute(s"CREATE BLOOM INDEX ON $t (id)")
    r.execute(s"INSERT INTO $t VALUES (70001, 'x', 1)")
    r.execute(s"INSERT INTO $t VALUES (70002, 'y', 2)")
    val root = r.registered(t)
    val snap = graft.sources.ManagedTable.history(spark, root).last
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // no monolith for any post-index version
    (0 to snap.version).foreach { v =>
      assert(!fs.exists(graft.sources.FileBloom.bloomPath(root, v)),
        s"monolithic sidecar written at v$v")
    }
    // shards: one backfill-or-commit segment per bloom-writing commit,
    // each with a light meta; the full view still covers every file
    val segDir = graft.sources.FileBloom.segDirPath(root)
    val metas = fs.listStatus(segDir).map(_.getPath.getName)
      .filter(_.endsWith(".meta.json"))
    assert(metas.length >= 3, metas.toSeq) // backfill + 2 commits
    val side = FileBloom.read(spark, root, snap.version)
    assert(snap.files.forall(side.contains),
      snap.files.filterNot(side.contains))
    // coverage (metas only, no filter bytes) agrees
    val cov = graft.sources.FileBloom.coverage(spark, root)
    assert(snap.files.forall(f => cov.get(f).exists(_.contains("id"))))
  }

  test("executor-written backfill segments equal the driver harvest bit-for-bit") {
    val (r, t) = unclustered()
    val root = r.registered(t)
    val snap = graft.sources.ManagedTable.history(spark, root).last
    val rowsOf = graft.sources.FileStats.readAll(spark, root, snap.version)._2
      .map { case (f, e) => f -> e.rows }
    val truth = graft.sources.FileBloom.harvest(spark, root, snap.files,
      Seq("id", "tag"), snap.physicalSchema, rowsOf)
    graft.sources.FileBloom.backfillSegments(spark, root, snap.files,
      Seq("id", "tag"), snap.physicalSchema, rowsOf)
    val got = FileBloom.read(spark, root, snap.version)
    assert(got.keySet == truth.keySet, got.keySet.diff(truth.keySet))
    got.foreach { case (f, cols) =>
      assert(cols.keySet == truth(f).keySet, f)
      cols.foreach { case (c, b) =>
        val tb = truth(f)(c)
        assert(b.m == tb.m && b.k == tb.k && b.bits == tb.bits,
          s"$f/$c differs: executor vs driver")
      }
    }
  }

  test("legacy monolith migrates into a segment on the next commit; carry still works") {
    val (r, t) = unclustered()
    val root = r.registered(t)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a pre-shard table: index configured + a legacy
    // per-version monolith at the current version, no segments
    val snap0 = graft.sources.ManagedTable.history(spark, root).last
    val rowsOf = graft.sources.FileStats.readAll(spark, root, snap0.version)._2
      .map { case (f, e) => f -> e.rows }
    val legacy = graft.sources.FileBloom.harvest(spark, root, snap0.files,
      Seq("id"), snap0.physicalSchema, rowsOf)
    val out = fs.create(graft.sources.FileBloom.bloomPath(root, snap0.version), true)
    out.write(graft.sources.FileBloom.render(legacy).getBytes("UTF-8")); out.close()
    graft.sources.FileBloom.saveConfig(spark, root, Seq("id"))
    graft.sources.FileSkip.invalidate(spark, root)
    // the next commit migrates + harvests ONLY its own file
    r.execute(s"INSERT INTO $t VALUES (80001, 'm', 5)")
    val snap1 = graft.sources.ManagedTable.history(spark, root).last
    val segDir = graft.sources.FileBloom.segDirPath(root)
    val names = fs.listStatus(segDir).map(_.getPath.getName)
      .filter(_.endsWith(".meta.json"))
    assert(names.exists(_.startsWith("migrate-")), names.toSeq)
    assert(names.exists(_.startsWith("commit-")), names.toSeq)
    val side = FileBloom.read(spark, root, snap1.version)
    assert(snap1.files.forall(side.contains),
      snap1.files.filterNot(side.contains))
    // pruning still exact after migration
    val got = r.execute(s"SELECT v FROM $t WHERE id = 80001").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(5L))
  }

  test("readDelta delivers each shard once; invalidate re-delivers") {
    val (r, t) = unclustered()
    r.execute(s"CREATE BLOOM INDEX ON $t (id)")
    val root = r.registered(t)
    val v = graft.sources.ManagedTable.history(spark, root).last.version
    graft.sources.FileSkip.invalidate(spark, root) // reset delivery
    val first = graft.sources.FileBloom.readDelta(spark, root, v)
    assert(first.nonEmpty)
    assert(graft.sources.FileBloom.readDelta(spark, root, v).isEmpty)
    // a newly-appearing shard is delivered incrementally — JUST it
    graft.sources.FileBloom.writeSegment(spark, root,
      Map("zz-fake/part-x.parquet" -> Map("id" ->
        graft.sources.FileBloom.Bloom(64, 3, new java.util.BitSet()))),
      Set("id"), "commit")
    val delta = graft.sources.FileBloom.readDelta(spark, root, v)
    assert(delta.keySet == Set("zz-fake/part-x.parquet"), delta.keys)
    graft.sources.FileBloom.invalidate(root)
    assert(graft.sources.FileBloom.readDelta(spark, root, v).size
      >= first.size)
  }

  test("timestamp/date bloom: event-time point lookups prune an UNCLUSTERED layout") {
    val r = new SqlRouter(spark)
    val t = s"tb${System.nanoTime()}"
    r.execute(s"CREATE MANAGED TABLE $t (ts TIMESTAMP, d DATE, v BIGINT) " +
      s"LOCATION '${fresh()}/$t'")
    // interleaved event times: file j holds hours ≡ j mod 6, so every
    // file's [min, max] spans the whole range — min/max cannot prune
    (0 until 6).foreach { j =>
      r.execute(s"INSERT INTO $t SELECT /*+ COALESCE(1) */ " +
        s"timestamp_micros(1700000000000000 + (id * 6 + $j) * 3600000000) AS ts, " +
        s"to_date(timestamp_micros(1700000000000000 + (id * 6 + $j) * 86400000000)) AS d, " +
        s"id * 6 + $j AS v FROM range(400)")
    }
    r.execute(s"CREATE BLOOM INDEX ON $t (ts, d)")
    // present timestamp point: found exactly, from few files
    val hit = r.execute(s"SELECT v FROM $t WHERE " +
      s"ts = timestamp_micros(1700000000000000 + 1234 * 3600000000)")
    assert(scannedFiles(hit).head <= 2, hit.queryExecution.optimizedPlan)
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(1234L))
    // absent in-envelope timestamp: bloom prunes where min/max cannot
    val miss = r.execute(s"SELECT v FROM $t WHERE " +
      s"ts = timestamp_micros(1700000000000000 + 1234 * 3600000000 + 1)")
    assert(scannedFiles(miss).headOption.forall(_ <= 2),
      miss.queryExecution.optimizedPlan)
    assert(miss.count() == 0)
    // date point + IN list
    val dhit = r.execute(s"SELECT count(*) AS n FROM $t WHERE " +
      s"d = to_date(timestamp_micros(1700000000000000 + 100 * 86400000000))")
    assert(scannedFiles(dhit).headOption.forall(_ <= 2))
    assert(dhit.collect().head.getLong(0) >= 1L)
    // pruned == unpruned across a mixed probe batch
    Seq(
      s"ts IN (timestamp_micros(1700000000000000 + 7 * 3600000000), " +
        s"timestamp_micros(1700000000000000 + 1800 * 3600000000))",
      s"d = DATE'2023-11-20'",
      s"ts = timestamp_micros(1700000000000000)"
    ).foreach { p =>
      val q = s"SELECT v FROM $t WHERE $p"
      graft.sources.FileSkip.disabled = true
      val expect = try r.execute(q).collect().map(_.toSeq.toSeq).sortBy(_.toString)
      finally graft.sources.FileSkip.disabled = false
      val got = r.execute(q).collect().map(_.toSeq.toSeq).sortBy(_.toString)
      assert(got.toSeq == expect.toSeq, s"pruned != unpruned for: $q")
    }
  }

  test("baseHashes matches q146's in-engine SQL hash arithmetic") {
    Seq("42", "0", "hello", "tag999", "-7").foreach { key =>
      val sqlHashes = (1 to FileBloom.K).map { i =>
        spark.sql("SELECT CAST(conv(substr(md5(concat('b', " +
          s"$i, ':', '$key')), 1, 8), 16, 10) AS BIGINT) AS h")
          .head.getLong(0)
      }
      assert(FileBloom.baseHashes(key).toSeq == sqlHashes, s"key $key")
    }
  }

  test("sidecar render/parse round-trips") {
    val bs = new java.util.BitSet(128)
    bs.set(3); bs.set(77); bs.set(127)
    val blooms: FileBloom.Blooms = Map(
      "data/u1/part-0.parquet" -> Map(
        "id" -> FileBloom.Bloom(128, 3, bs),
        "tag" -> FileBloom.Bloom(64, 3, new java.util.BitSet())),
      "data/u2/part-0.parquet" -> Map.empty)
    val text = FileBloom.render(blooms)
    assert(graft.util.Json.isValid(text), text)
    assert(FileBloom.parse(text) == blooms)
    assert(FileBloom.parse(FileBloom.render(Map.empty)) == Map.empty)
  }

  test("point lookups on an unclustered layout prune via the bloom index") {
    val (r, t) = unclustered()
    // before the index: every file covers the id domain — nothing prunes
    val before = r.execute(s"SELECT v FROM $t WHERE id = 1234")
    assert(scannedFiles(before) == Seq(8), before.queryExecution.optimizedPlan)

    r.execute(s"CREATE BLOOM INDEX ON $t (id, tag)")
    val idx = r.execute(s"SHOW BLOOM INDEX FOR $t").collect()
    assert(idx.map(_.getString(0)).sorted.toSeq == Seq("id", "tag"))

    // 1234 ≡ 2 (mod 8): exactly one true file; allow one 3%-FPR extra
    val point = r.execute(s"SELECT v FROM $t WHERE id = 1234")
    assert(scannedFiles(point).head <= 2, point.queryExecution.optimizedPlan)
    assert(point.collect().map(_.getLong(0)).toSeq == Seq(154L)) // (1234-2)/8

    // an absent key inside the min/max envelope: bloom proves absence
    val miss = r.execute(s"SELECT v FROM $t WHERE id = 4001") // 4001 > max? no: max=3999+7
    assert(miss.count() == 0)

    // IN with members in two distinct files
    val in = r.execute(s"SELECT id FROM $t WHERE id IN (16, 23)") // files 0 and 7
    assert(scannedFiles(in).head <= 4, in.queryExecution.optimizedPlan)
    assert(in.collect().map(_.getLong(0)).sorted.toSeq == Seq(16L, 23L))

    // string points prune the same way
    val stag = r.execute(s"SELECT count(*) AS n FROM $t WHERE tag = 'tag17'")
    assert(scannedFiles(stag).head <= 3, stag.queryExecution.optimizedPlan)
    assert(stag.collect().head.getLong(0) == 4L) // 17, 1017, 2017, 3017

    // contradictory equalities intersect to the empty point set
    val contra = r.execute(s"SELECT * FROM $t WHERE id = 16 AND id = 23")
    assert(contra.count() == 0)
  }

  test("false-positive rate stays near the 3% design point") {
    val (r, t) = unclustered()
    r.execute(s"CREATE BLOOM INDEX ON $t (id)")
    // probe 40 absent keys (above the domain is too easy — min/max
    // would catch those; use in-envelope absences: the table holds
    // every id 0..4006, so use ids just above in a widened envelope)
    r.execute(s"INSERT INTO $t VALUES (100000, 'hi', 0), (200000, 'lo', 1)")
    val scanned = (0 until 40).map { k =>
      val id = 50000 + k * 997 // absent, inside [0, 200000]
      scannedFiles(r.execute(s"SELECT v FROM $t WHERE id = $id")).head
    }
    // 10 files x 40 probes x ~3% FPR ≈ 12 expected file hits; the two
    // appended files legitimately match min/max (they're tiny), so
    // allow them — anything near "all files" means the bloom is dead
    val avg = scanned.sum.toDouble / scanned.length
    assert(avg <= 4.0, s"avg files scanned per absent-key probe: $avg ($scanned)")
  }

  test("mutations keep pruned == unpruned; new files harvest on commit") {
    val rnd = new scala.util.Random(44)
    val (r, t) = unclustered()
    r.execute(s"CREATE BLOOM INDEX ON $t (id, tag)")
    r.execute(s"UPDATE $t SET v = v + 1000000 WHERE id % 13 = 0")
    r.execute(s"DELETE FROM $t WHERE id BETWEEN 600 AND 900")
    r.execute(s"INSERT INTO $t SELECT /*+ COALESCE(1) */ id + 5000 AS id, " +
      s"concat('new', id % 50) AS tag, id AS v FROM range(400)")
    // the new commit's sidecar covers every live file (carried + new)
    val root = r.registered(t)
    val snap = graft.sources.ManagedTable.history(spark, root).last
    val side = FileBloom.read(spark, root, snap.version)
    assert(snap.files.forall(side.contains),
      s"bloom sidecar misses files: ${snap.files.filterNot(side.contains)}")

    val preds = Seq.fill(40) {
      rnd.nextInt(6) match {
        case 0 => s"id = ${rnd.nextInt(6000)}"
        case 1 => s"id IN (${rnd.nextInt(6000)}, ${rnd.nextInt(6000)})"
        case 2 => s"tag = 'tag${rnd.nextInt(1200)}'"
        case 3 => s"tag IN ('tag${rnd.nextInt(1000)}', 'new${rnd.nextInt(60)}')"
        case 4 => s"id = ${rnd.nextInt(6000)} AND tag = 'tag${rnd.nextInt(1000)}'"
        case _ => s"id IN (${rnd.nextInt(6000)}, ${rnd.nextInt(6000)}) AND id > ${rnd.nextInt(3000)}"
      }
    }
    preds.foreach { p =>
      val q = s"SELECT id, tag, v FROM $t WHERE $p"
      graft.sources.FileSkip.disabled = true
      val expect = try r.execute(q).collect().map(_.toSeq.toSeq).sortBy(_.toString)
      finally graft.sources.FileSkip.disabled = false
      val got = r.execute(q).collect().map(_.toSeq.toSeq).sortBy(_.toString)
      assert(got.toSeq == expect.toSeq, s"pruned != unpruned for: $q")
    }
  }

  test("DROP BLOOM INDEX removes sidecars; scans return to unpruned and stay exact") {
    val (r, t) = unclustered()
    r.execute(s"CREATE BLOOM INDEX ON $t (id)")
    assert(scannedFiles(r.execute(s"SELECT v FROM $t WHERE id = 99")).head <= 2)
    r.execute(s"DROP BLOOM INDEX ON $t")
    assert(r.execute(s"SHOW BLOOM INDEX FOR $t").count() == 0)
    val df = r.execute(s"SELECT v FROM $t WHERE id = 99")
    assert(scannedFiles(df) == Seq(8), df.queryExecution.optimizedPlan)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(12L)) // (99-3)/8
    // and commits after the drop no longer write bloom sidecars
    r.execute(s"INSERT INTO $t VALUES (90001, 'x', 1)")
    val root = r.registered(t)
    val v = graft.sources.ManagedTable.history(spark, root).last.version
    assert(FileBloom.read(spark, root, v).isEmpty)
  }

  test("a table ROOT with a space never mis-attributes the harvest (URI-encoding trap)") {
    // input_file_name() returns percent-encoded URIs while relative
    // manifest paths are raw — a full-path partials key mis-attributed
    // every row on such roots, and the wrong modulus poisoned the
    // filter with FALSE NEGATIVES (wrong prunes). Keying by the last
    // two path segments is encoding-free; this pins it.
    val r = new SqlRouter(spark)
    val t = s"sp${System.nanoTime()}"
    r.execute(s"CREATE MANAGED TABLE $t (id BIGINT, v BIGINT) " +
      s"LOCATION '${fresh()}/with space/$t'")
    (0 until 4).foreach { j =>
      r.execute(s"INSERT INTO $t SELECT /*+ COALESCE(1) */ id * 4 + $j AS id, " +
        s"id AS v FROM range(250)")
    }
    r.execute(s"CREATE BLOOM INDEX ON $t (id)")
    // every present key must be FOUND (a false negative = silent row loss)
    Seq(0L, 17L, 399L, 998L).foreach { k =>
      val got = r.execute(s"SELECT v FROM $t WHERE id = $k").collect()
      assert(got.length == 1 && got.head.getLong(0) == k / 4, s"id=$k -> ${got.toSeq}")
    }
    // and absent keys still prune below the full file count
    val miss = r.execute(s"SELECT v FROM $t WHERE id = 999999")
    assert(miss.count() == 0)
  }

  test("re-CREATE with an added column backfills existing files for that column") {
    val (r, t) = unclustered()
    r.execute(s"CREATE BLOOM INDEX ON $t (id)")
    // a commit so the sidecar generation advances past the backfill
    r.execute(s"INSERT INTO $t VALUES (90000, 'tagx', 1)")
    // now ADD a second column: every pre-existing file must gain a
    // tag filter too, not only files written after this point
    r.execute(s"CREATE BLOOM INDEX ON $t (tag)")
    val root = r.registered(t)
    val snap = graft.sources.ManagedTable.history(spark, root).last
    val side = FileBloom.read(spark, root, snap.version)
    assert(snap.files.forall(f => side.get(f).exists(_.contains("tag"))),
      s"files missing the added tag filter: " +
        snap.files.filterNot(f => side.get(f).exists(_.contains("tag"))))
    // and the new index actually prunes on the old files (the CREATE
    // handler already re-registered the registry + re-pinned the view)
    val stag = r.execute(s"SELECT count(*) AS n FROM $t WHERE tag = 'tag17'")
    assert(scannedFiles(stag).head <= 3, stag.queryExecution.optimizedPlan)
    assert(stag.collect().head.getLong(0) == 4L)
  }

  test("rename keeps the index (physical names); ineligible types refuse") {
    val (r, t) = unclustered()
    r.execute(s"CREATE BLOOM INDEX ON $t (id)")
    r.execute(s"ALTER TABLE $t RENAME COLUMN id TO doc_id")
    val point = r.execute(s"SELECT v FROM $t WHERE doc_id = 1234")
    assert(scannedFiles(point).head <= 2, point.queryExecution.optimizedPlan)
    assert(point.collect().map(_.getLong(0)).toSeq == Seq(154L))
    val e = intercept[IllegalArgumentException] {
      r.execute(s"CREATE BLOOM INDEX ON $t (v2x)")
    }
    assert(e.getMessage.contains("no such column"), e.getMessage)
    val r2 = new SqlRouter(spark)
    val t2 = s"f${System.nanoTime()}"
    r2.execute(s"CREATE MANAGED TABLE $t2 (x DOUBLE) LOCATION '${fresh()}/$t2'")
    val e2 = intercept[IllegalArgumentException] {
      r2.execute(s"CREATE BLOOM INDEX ON $t2 (x)")
    }
    assert(e2.getMessage.contains("not integral/string"), e2.getMessage)
  }
}
