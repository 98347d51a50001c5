package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.server.SqlRouter

/** Manifest-level data skipping in PLAIN SQL (plans.FileSkipScan +
  * sources.FileSkip): a `SELECT ... WHERE` over a managed table must
  * scan only the files whose stats-sidecar range can hold a match —
  * and must return exactly the rows the unpruned scan would. The
  * readRange API's pruning discipline (FileStatsSpec) already pins the
  * sidecar arithmetic; these tests pin the OPTIMIZER-RULE path: bound
  * extraction from predicates, relation rebuild, and the
  * never-wrong-only-faster contract.
  */
class FileSkipSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fresh() = TestSpark.tempDir("graft_fs").toString

  /** Files each parquet scan leaf of the OPTIMIZED plan would read —
    * after FileSkipScan ran, so this is the pruned count. */
  private def scannedFiles(df: DataFrame): Seq[Int] =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.size
        case _ => -1
      }
    }

  /** One clustered 8-file table: id 0..3999 strictly increasing, so
    * OPTIMIZE BY (id) gives disjoint ~500-wide id ranges per file. */
  private def clustered(): (SqlRouter, String) = {
    val r = new SqlRouter(spark) // installs FileSkipScan on the session
    val t = s"t${System.nanoTime()}"
    r.execute(s"CREATE MANAGED TABLE $t (id BIGINT, name STRING, score DOUBLE) " +
      s"LOCATION '${fresh()}/$t'")
    r.execute(s"INSERT INTO $t SELECT id, concat('n', id % 7) AS name, " +
      s"id * 0.5 AS score FROM range(4000)")
    r.execute(s"OPTIMIZE $t INTO 8 FILES BY (id)")
    (r, t)
  }

  test("point SELECT prunes to one file and returns the exact row") {
    val (r, t) = clustered()
    val df = r.execute(s"SELECT id, name FROM $t WHERE id = 1234")
    assert(scannedFiles(df) == Seq(1), df.queryExecution.optimizedPlan)
    assert(df.collect().map(_.toSeq).toSeq == Seq(Seq(1234L, "n2")))
  }

  test("range BETWEEN prunes to the covering files, rows exact") {
    val (r, t) = clustered()
    val df = r.execute(s"SELECT id FROM $t WHERE id BETWEEN 1000 AND 1999")
    val files = scannedFiles(df).head
    assert(files >= 1 && files <= 3, s"expected ~2 of 8 files, got $files")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (1000L to 1999L))
  }

  test("impossible predicate proves emptiness with zero files planned") {
    val (r, t) = clustered()
    val df = r.execute(s"SELECT * FROM $t WHERE id = -5")
    assert(scannedFiles(df) == Seq(0))
    assert(df.count() == 0)
  }

  test("IN list prunes by min/max of the set") {
    val (r, t) = clustered()
    val df = r.execute(s"SELECT id FROM $t WHERE id IN (10, 20, 30)")
    assert(scannedFiles(df) == Seq(1))
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 20L, 30L))
  }

  test("IN with distant members skips the gap files the envelope would keep") {
    val (r, t) = clustered()
    // ids 10 and 3900 live in the first and last of 8 disjoint files;
    // the [10,3900] envelope alone would keep all 8
    val df = r.execute(s"SELECT id FROM $t WHERE id IN (10, 3900)")
    assert(scannedFiles(df) == Seq(2), df.queryExecution.optimizedPlan)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 3900L))
    // intersected IN conjuncts prove emptiness
    val none = r.execute(s"SELECT id FROM $t WHERE id IN (10, 3900) AND id IN (20, 3950)")
    assert(none.count() == 0)
  }

  test("strict one-sided bound keeps the boundary file and all rows") {
    val (r, t) = clustered()
    val df = r.execute(s"SELECT id FROM $t WHERE id > 3600")
    val files = scannedFiles(df).head
    assert(files < 8 && files >= 1, s"got $files")
    assert(df.count() == 399)
  }

  test("string predicate over an id-clustered layout keeps all files; mixed conjuncts prune on id") {
    val (r, t) = clustered()
    // name cycles id % 7, so every id-clustered file spans n0..n6 —
    // the string sidecar entries exist but prove nothing here
    val s1 = r.execute(s"SELECT id FROM $t WHERE name = 'n3'")
    assert(scannedFiles(s1) == Seq(8))
    val s2 = r.execute(s"SELECT id FROM $t WHERE name = 'n3' AND id < 500")
    assert(scannedFiles(s2).head <= 2)
    assert(s2.collect().map(_.getLong(0)).sorted.toSeq ==
      (3L until 500L by 7L).toSeq)
  }

  test("string point/IN/range predicates prune a string-clustered table") {
    val r = new SqlRouter(spark)
    val t = s"s${System.nanoTime()}"
    r.execute(s"CREATE MANAGED TABLE $t (lang STRING, doc_id BIGINT) " +
      s"LOCATION '${fresh()}/$t'")
    // 8 languages x 500 docs, clustered BY (lang): one language per file
    r.execute(s"INSERT INTO $t SELECT " +
      s"element_at(array('ar','de','en','es','fr','it','ja','pt'), " +
      s"CAST(id % 8 AS INT) + 1) AS lang, id AS doc_id FROM range(4000)")
    r.execute(s"OPTIMIZE $t INTO 8 FILES BY (lang)")

    val point = r.execute(s"SELECT count(*) AS n FROM $t WHERE lang = 'de'")
    assert(scannedFiles(point) == Seq(1), point.queryExecution.optimizedPlan)
    assert(point.collect().head.getLong(0) == 500L)

    val in = r.execute(s"SELECT count(*) AS n FROM $t WHERE lang IN ('de', 'en')")
    assert(scannedFiles(in).head <= 2)
    assert(in.collect().head.getLong(0) == 1000L)

    // distant IN members skip the gap files between them
    val gap = r.execute(s"SELECT count(*) AS n FROM $t WHERE lang IN ('ar', 'pt')")
    assert(scannedFiles(gap) == Seq(2), gap.queryExecution.optimizedPlan)
    assert(gap.collect().head.getLong(0) == 1000L)

    val range = r.execute(s"SELECT count(*) AS n FROM $t WHERE lang >= 'it'")
    assert(scannedFiles(range).head <= 3)
    assert(range.collect().head.getLong(0) == 1500L)

    // contradiction: a language below the table's min proves emptiness
    val none = r.execute(s"SELECT * FROM $t WHERE lang = 'aa'")
    assert(scannedFiles(none) == Seq(0))
    assert(none.count() == 0)

    // contradictory string conjuncts intersect to an empty scan
    val contra = r.execute(s"SELECT * FROM $t WHERE lang > 'it' AND lang < 'de'")
    assert(scannedFiles(contra) == Seq(0))
    assert(contra.count() == 0)
  }

  test("double-column range prunes and agrees with the unpruned answer") {
    val (r, t) = clustered()
    val df = r.execute(s"SELECT id FROM $t WHERE score >= 1900.0 AND score < 1905.0")
    assert(scannedFiles(df).head <= 2)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (3800L until 3810L))
  }

  test("contradictory conjuncts intersect to an empty scan") {
    val (r, t) = clustered()
    val df = r.execute(s"SELECT * FROM $t WHERE id > 3000 AND id < 100")
    assert(scannedFiles(df) == Seq(0))
    assert(df.count() == 0)
  }

  test("pruning stays correct across copy-on-write mutations") {
    val (r, t) = clustered()
    r.execute(s"UPDATE $t SET name = 'moved' WHERE id = 700")
    r.execute(s"DELETE FROM $t WHERE id BETWEEN 1500 AND 1599")
    r.execute(s"INSERT INTO $t VALUES (9001, 'late', 0.0)")
    // rewritten + appended files register on the post-mutation read;
    // every probe below must be exact whatever got pruned
    assert(r.execute(s"SELECT name FROM $t WHERE id = 700")
      .collect().map(_.getString(0)).toSeq == Seq("moved"))
    assert(r.execute(s"SELECT count(*) AS n FROM $t WHERE id BETWEEN 1400 AND 1699")
      .collect().head.getLong(0) == 200L)
    assert(r.execute(s"SELECT name FROM $t WHERE id > 8000")
      .collect().map(_.getString(0)).toSeq == Seq("late"))
  }

  test("non-managed parquet scans are untouched") {
    val dir = s"${fresh()}/plain"
    spark.range(100).selectExpr("id", "id * 2 AS v").write.parquet(dir)
    new SqlRouter(spark) // ensure the rule is installed on the session
    val df = spark.read.parquet(dir).filter("id = 5")
    // one rootPath (the directory) and no registry entry: plan unchanged
    assert(scannedFiles(df) == Seq(1))
    assert(df.count() == 1)
  }

  test("timestamp and date predicates prune time-clustered files") {
    val r = new SqlRouter(spark)
    val t = s"ts${System.nanoTime()}"
    r.execute(s"CREATE MANAGED TABLE $t (ts TIMESTAMP, d DATE, v BIGINT) " +
      s"LOCATION '${fresh()}/$t'")
    // hourly rows over ~166 days, so OPTIMIZE BY (ts) also clusters d
    r.execute(s"INSERT INTO $t SELECT " +
      s"timestamp_micros(1700000000000000 + id * 3600000000) AS ts, " +
      s"to_date(timestamp_micros(1700000000000000 + id * 3600000000)) AS d, " +
      s"id AS v FROM range(4000)")
    r.execute(s"OPTIMIZE $t INTO 8 FILES BY (ts)")

    val point = r.execute(s"SELECT v FROM $t WHERE " +
      s"ts = timestamp_micros(1700000000000000 + 1234 * 3600000000)")
    assert(scannedFiles(point) == Seq(1), point.queryExecution.optimizedPlan)
    assert(point.collect().map(_.getLong(0)).toSeq == Seq(1234L))

    val range = r.execute(s"SELECT count(*) AS n FROM $t WHERE " +
      s"ts >= timestamp_micros(1700000000000000 + 1000 * 3600000000) AND " +
      s"ts <  timestamp_micros(1700000000000000 + 1100 * 3600000000)")
    assert(scannedFiles(range).head <= 2)
    assert(range.collect().head.getLong(0) == 100L)

    // one calendar day = 24 hourly rows, inside at most 2 ts-clustered files
    val day = r.execute(s"SELECT count(*) AS n FROM $t WHERE d = DATE '2023-12-01'")
    assert(scannedFiles(day).head <= 2, scannedFiles(day))
    assert(day.collect().head.getLong(0) == 24L) // a fully-covered day
  }

  test("fuzz: random predicates over random mutations — pruned == unpruned") {
    val rnd = new scala.util.Random(42)
    val (r, t) = clustered()
    // a few copy-on-write mutations so files carry mixed-version stats
    r.execute(s"UPDATE $t SET score = score + 10000 WHERE id % 97 = 0")
    r.execute(s"DELETE FROM $t WHERE id BETWEEN 2200 AND 2350")
    r.execute(s"INSERT INTO $t SELECT id + 5000 AS id, " +
      s"concat('x', id % 3) AS name, CAST(id * 1.5 AS DOUBLE) AS score " +
      s"FROM range(300)")
    val preds = Seq.fill(40) {
      val c = if (rnd.nextBoolean()) "id" else "score"
      val a = rnd.nextInt(12000) - 1000
      val b = a + rnd.nextInt(3000)
      rnd.nextInt(6) match {
        case 0 => s"$c = $a"
        case 1 => s"$c < $a"
        case 2 => s"$c >= $a"
        case 3 => s"$c BETWEEN $a AND $b"
        case 4 => s"$c IN ($a, $b, ${a + 7})"
        case _ => s"$c > $a AND $c <= $b"
      }
    } ++ Seq.fill(20) {
      // string predicates over name ('n0'..'n6', 'x0'..'x2', 'moved'
      // — including values outside the table's domain)
      def v() = rnd.nextInt(5) match {
        case 0 => s"n${rnd.nextInt(9)}"
        case 1 => s"x${rnd.nextInt(5)}"
        case 2 => "moved"
        case 3 => "a"
        case _ => "zz"
      }
      val (a, b) = (v(), v())
      rnd.nextInt(5) match {
        case 0 => s"name = '${a}'"
        case 1 => s"name < '${a}'"
        case 2 => s"name >= '${a}'"
        case 3 => s"name IN ('${a}', '${b}')"
        case _ => s"name > '${a}' AND name <= '${b}'"
      }
    }
    preds.foreach { p =>
      val q = s"SELECT id, name, score FROM $t WHERE $p"
      graft.sources.FileSkip.disabled = true
      val expect = try r.execute(q).collect().map(_.toSeq.toSeq).sortBy(_.toString)
      finally graft.sources.FileSkip.disabled = false
      val got = r.execute(q).collect().map(_.toSeq.toSeq).sortBy(_.toString)
      assert(got.toSeq == expect.toSeq, s"pruned != unpruned for: $q")
    }
  }

  test("SHOW FILES / SHOW MANAGED TABLES expose the skipping metadata") {
    val (r, t) = clustered()
    val files = r.execute(s"SHOW FILES FOR $t").collect()
    assert(files.map(_.getString(0)).distinct.length == 8) // the 8 clustered files
    val idRows = files.filter(_.getString(1) == "id")
    assert(idRows.length == 8)
    // clustered layout: disjoint id ranges covering 0..3999
    val ranges = idRows.map(x => (BigDecimal(x.getString(2)), BigDecimal(x.getString(3))))
      .sortBy(_._1)
    assert(ranges.head._1 == BigDecimal(0) && ranges.last._2 == BigDecimal(3999))
    assert(ranges.sliding(2).forall { case Array(a, b) => a._2 < b._1 })

    val cat = r.execute("SHOW MANAGED TABLES").collect()
      .map(x => (x.getString(0), x.getString(2), x.getLong(4)))
    assert(cat.exists { case (n, kind, nf) => n == t && kind == "table" && nf == 8 })
  }

  test("IS NULL / IS NOT NULL prune on exact per-file null counts") {
    val r = new SqlRouter(spark)
    val t = s"nn${System.nanoTime()}"
    r.execute(s"CREATE MANAGED TABLE $t (id BIGINT, v BIGINT) " +
      s"LOCATION '${fresh()}/$t'")
    // three single-file inserts: all-null / no-null / mixed in v
    r.execute(s"INSERT INTO $t SELECT /*+ COALESCE(1) */ id, " +
      s"CAST(NULL AS BIGINT) AS v FROM range(100)")
    r.execute(s"INSERT INTO $t SELECT /*+ COALESCE(1) */ id + 100 AS id, " +
      s"id + 100 AS v FROM range(100)")
    r.execute(s"INSERT INTO $t SELECT /*+ COALESCE(1) */ id + 200 AS id, " +
      s"IF(id % 2 = 0, id + 200, CAST(NULL AS BIGINT)) AS v FROM range(100)")

    // IS NOT NULL drops the all-null file — which min/max alone can
    // never prune (an all-null column records no range at all)
    val notNull = r.execute(s"SELECT count(*) AS n FROM $t WHERE v IS NOT NULL")
    assert(scannedFiles(notNull) == Seq(2), notNull.queryExecution.optimizedPlan)
    assert(notNull.collect().head.getLong(0) == 150L)

    // IS NULL drops the zero-null file
    val isNull = r.execute(s"SELECT count(*) AS n FROM $t WHERE v IS NULL")
    assert(scannedFiles(isNull) == Seq(2), isNull.queryExecution.optimizedPlan)
    assert(isNull.collect().head.getLong(0) == 150L)

    // a value predicate IMPLIES not-null: the all-null file drops even
    // though its missing range entry would otherwise keep it
    val point = r.execute(s"SELECT id FROM $t WHERE v = 250")
    assert(scannedFiles(point) == Seq(1), point.queryExecution.optimizedPlan)
    assert(point.collect().map(_.getLong(0)).toSeq == Seq(250L))

    // range + nullness conjuncts compose: id < 50 narrows to the
    // all-null file, v IS NOT NULL then proves emptiness
    val both = r.execute(s"SELECT * FROM $t WHERE id < 50 AND v IS NOT NULL")
    assert(scannedFiles(both) == Seq(0), both.queryExecution.optimizedPlan)
    assert(both.count() == 0)

    // the mixed file is never prunable on nullness in either direction
    val mixed = r.execute(s"SELECT count(*) AS n FROM $t WHERE id >= 200 AND v IS NULL")
    assert(scannedFiles(mixed) == Seq(1))
    assert(mixed.collect().head.getLong(0) == 50L)
  }

  test("fuzz: nullness predicates over mutated files — pruned == unpruned") {
    val rnd = new scala.util.Random(43)
    val (r, t) = clustered()
    // introduce null-bearing files (insert-only and rewrite-born)
    r.execute(s"INSERT INTO $t SELECT /*+ COALESCE(1) */ id + 6000 AS id, " +
      s"'nn' AS name, IF(id % 3 = 0, CAST(NULL AS DOUBLE), id * 1.0) AS score " +
      s"FROM range(300)")
    r.execute(s"UPDATE $t SET score = CAST(NULL AS DOUBLE) WHERE id BETWEEN 900 AND 950")
    r.execute(s"INSERT INTO $t SELECT /*+ COALESCE(1) */ id + 7000 AS id, " +
      s"CAST(NULL AS STRING) AS name, id * 1.0 AS score FROM range(100)")
    val preds = Seq.fill(30) {
      val c = if (rnd.nextBoolean()) "score" else "name"
      val a = rnd.nextInt(9000)
      rnd.nextInt(5) match {
        case 0 => s"$c IS NULL"
        case 1 => s"$c IS NOT NULL"
        case 2 => s"$c IS NULL AND id > $a"
        case 3 => s"$c IS NOT NULL AND id <= $a"
        case _ => s"$c IS NOT NULL AND id BETWEEN $a AND ${a + 800}"
      }
    }
    preds.foreach { p =>
      val q = s"SELECT id, name, score FROM $t WHERE $p"
      graft.sources.FileSkip.disabled = true
      val expect = try r.execute(q).collect().map(_.toSeq.toSeq).sortBy(_.toString)
      finally graft.sources.FileSkip.disabled = false
      val got = r.execute(q).collect().map(_.toSeq.toSeq).sortBy(_.toString)
      assert(got.toSeq == expect.toSeq, s"pruned != unpruned for: $q")
    }
  }

  test("mayMatch keeps unregistered files and unconstrained columns") {
    import graft.sources.FileSkip
    def pred(b: FileSkip.Bound) = FileSkip.Pred(Some(b), Some(false))
    assert(FileSkip.mayMatch("file:/nowhere/x.parquet",
      Map("id" -> pred(FileSkip.NumBound(Some(BigDecimal(1)), Some(BigDecimal(2)))))))
    assert(FileSkip.mayMatch("file:/nowhere/x.parquet",
      Map("lang" -> pred(FileSkip.StrBound(Some("de"), Some("de"))))))
    assert(FileSkip.mayMatch("file:/nowhere/x.parquet",
      Map("id" -> pred(FileSkip.NumBound(Some(BigDecimal(1)), Some(BigDecimal(9)),
        Some(Seq(BigDecimal(5))))))))
    assert(FileSkip.mayMatch("file:/nowhere/x.parquet",
      Map("id" -> FileSkip.Pred(None, Some(true)))))
  }
}
