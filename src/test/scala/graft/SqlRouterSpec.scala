package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.server.SqlRouter
import graft.sources.ManagedTable

/** The SQL DML surface: statement routing to ManagedTable, VALUES and
  * SELECT sources, expression parsing via Spark's own parser,
  * view refresh after each mutation, and pass-through of everything
  * else to spark.sql.
  */
class SqlRouterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val router = new SqlRouter(spark)

  private def freshRoot(): String =
    TestSpark.tempDir("graft_sqlr").toString + "/t"

  test("create + insert VALUES + select round-trip through SQL text") {
    val root = freshRoot()
    router.execute(
      s"CREATE MANAGED TABLE rt (id BIGINT, name STRING, score DOUBLE) LOCATION '$root'")
    router.execute("INSERT INTO rt VALUES (1, 'alpha', 1.5), (2, 'beta', 2.5)")
    val got = router.execute("SELECT id, name, score FROM rt ORDER BY id").collect()
    assert(got.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "alpha", 1.5), (2L, "beta", 2.5)))
    // DESCRIBE on a managed name lists its columns
    assert(router.execute("DESCRIBE rt").collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq == Seq(("id", "bigint"), ("name", "string"), ("score", "double")))
  }

  test("CTAS: CREATE MANAGED TABLE ... AS SELECT infers schema, writes rows, registers") {
    val src = freshRoot()
    router.execute(
      s"CREATE MANAGED TABLE ctas_src (id BIGINT, grp STRING, v DOUBLE) LOCATION '$src'")
    router.execute(
      "INSERT INTO ctas_src VALUES (1, 'a', 1.5), (2, 'a', 2.5), (3, 'b', 4.0)")
    val dst = freshRoot()
    val res = router.execute(
      s"CREATE MANAGED TABLE ctas_agg LOCATION '$dst' AS " +
        "SELECT grp, count(*) AS n, sum(v) AS sv FROM ctas_src GROUP BY grp").collect().head
    assert(res.getAs[String]("op") == "ctas" && res.getAs[Int]("version") == 1)
    // the new table is SELECT-visible with the query's schema and rows
    val got = router.execute("SELECT grp, n, sv FROM ctas_agg ORDER BY grp").collect()
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("a", 2L, 4.0), ("b", 1L, 4.0)))
    // it is a REAL managed table: create + insert history, mutable
    assert(ManagedTable.history(spark, dst).map(_.op) == Seq("create", "insert"))
    router.execute("DELETE FROM ctas_agg WHERE grp = 'b'")
    assert(router.execute("SELECT count(*) c FROM ctas_agg").collect().head.getLong(0) == 1)
    // and CTAS is classified as a mutation for the writer-role gate
    assert(router.isMutation(
      s"CREATE MANAGED TABLE x LOCATION '/tmp/x' AS SELECT 1 AS a"))
  }

  test("update with SET expressions and WHERE; delete; versions advance") {
    val root = freshRoot()
    router.execute(
      s"CREATE MANAGED TABLE m1 (id BIGINT, name STRING, score DOUBLE) LOCATION '$root'")
    router.execute("INSERT INTO m1 VALUES (1, 'a', 1.0), (2, 'b', 2.0), (3, 'c', 3.0)")
    val up = router.execute(
      "UPDATE m1 SET score = score * 10, name = upper(name) WHERE id >= 2").collect().head
    assert(up.getAs[String]("op") == "update" && up.getAs[Int]("version") == 2)
    assert(router.execute("SELECT name FROM m1 WHERE id = 3").collect().head.getString(0) == "C")
    // the update pushed id 2 and 3 to scores 20/30 — both fall to the delete
    router.execute("DELETE FROM m1 WHERE score > 15")
    assert(router.execute("SELECT count(*) n FROM m1").collect().head.getLong(0) == 1)
    assert(ManagedTable.history(spark, root).map(_.op) ==
      Seq("create", "insert", "update", "delete"))
  }

  test("upsert BY keys replaces matched rows and inserts new ones from a SELECT") {
    val root = freshRoot()
    router.execute(
      s"CREATE MANAGED TABLE m2 (id BIGINT, name STRING, score DOUBLE) LOCATION '$root'")
    router.execute("INSERT INTO m2 VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
    router.execute(
      "UPSERT INTO m2 BY (id) SELECT * FROM VALUES (2, 'b2', 20.0), (3, 'c', 3.0) AS s(id, name, score)")
    val got = router.execute("SELECT id, name FROM m2 ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("open attaches an existing table; unknown-table DML falls through loudly") {
    val root = freshRoot()
    router.execute(
      s"CREATE MANAGED TABLE m3 (id BIGINT, name STRING, score DOUBLE) LOCATION '$root'")
    router.execute("INSERT INTO m3 VALUES (7, 'x', 0.5)")
    val other = new SqlRouter(spark)
    val opened = other.execute(s"OPEN MANAGED TABLE m3b LOCATION '$root'").collect().head
    assert(opened.getAs[String]("op") == "open" && opened.getAs[Int]("version") == 1)
    assert(other.execute("SELECT count(*) n FROM m3b").collect().head.getLong(0) == 1)
    // DELETE on a name the router doesn't manage reaches spark.sql,
    // whose error (unresolved relation / unsupported) is authoritative
    intercept[Exception] { other.execute("DELETE FROM not_managed WHERE 1=1") }
  }

  test("quoted strings and nested parens survive the statement splitter") {
    val root = freshRoot()
    router.execute(
      s"CREATE MANAGED TABLE m4 (id BIGINT, name STRING, score DOUBLE) LOCATION '$root'")
    router.execute("INSERT INTO m4 VALUES (1, 'a, (b) where', 1.0), (2, 'z', 2.0)")
    // SET list with a comma inside a function call and a WHERE inside quotes
    router.execute(
      "UPDATE m4 SET name = concat(name, ', where', ')') WHERE name = 'a, (b) where'")
    val got = router.execute("SELECT name FROM m4 ORDER BY id").collect().map(_.getString(0))
    assert(got.toSeq == Seq("a, (b) where, where)", "z"))
  }

  test("ALTER TABLE ADD COLUMN and OPTIMIZE route to the managed table") {
    val root = freshRoot()
    router.execute(
      s"CREATE MANAGED TABLE m5 (id BIGINT, name STRING, score DOUBLE) LOCATION '$root'")
    router.execute("INSERT INTO m5 VALUES (1, 'a', 1.0)")
    router.execute("INSERT INTO m5 VALUES (2, 'b', 2.0)")
    val alt = router.execute("ALTER TABLE m5 ADD COLUMN tag STRING").collect().head
    assert(alt.getAs[String]("op") == "add_column")
    // old rows read null for the new column through the refreshed view
    assert(router.execute("SELECT count(*) n FROM m5 WHERE tag IS NULL")
      .collect().head.getLong(0) == 2)
    val opt = router.execute("OPTIMIZE m5 INTO 1 FILES BY (id)").collect().head
    assert(opt.getAs[String]("op") == "compact")
    assert(ManagedTable.history(spark, root).last.files.size == 1)
    assert(router.execute("SELECT count(*) n FROM m5").collect().head.getLong(0) == 2)
  }

  test("OPTIMIZE ... ZORDER BY routes to the Morton layout") {
    val root = freshRoot()
    router.execute(
      s"CREATE MANAGED TABLE mz (id BIGINT, name STRING, score DOUBLE) LOCATION '$root'")
    router.execute("INSERT INTO mz SELECT id % 20, 'g', CAST(id DIV 20 AS DOUBLE) " +
      "FROM range(400)")
    val opt = router.execute("OPTIMIZE mz INTO 16 FILES ZORDER BY (id, score)")
      .collect().head
    assert(opt.getAs[String]("op") == "compact")
    val total = ManagedTable.history(spark, root).last.files.size
    // both z-ordered columns prune through the stats sidecar
    val byId = ManagedTable.readRange(spark, root, "id", 0L, 4L)
    val bySc = ManagedTable.readRange(spark, root, "score", 0.0, 4.0)
    assert(byId.count() == 100 && byId.inputFiles.length < total)
    assert(bySc.count() == 100 && bySc.inputFiles.length < total)
    assert(router.isMutation("OPTIMIZE mz INTO 16 FILES ZORDER BY (id, score)"))
  }

  test("SHOW CHANGES returns keyed row deltas between versions") {
    val root = freshRoot()
    router.execute(
      s"CREATE MANAGED TABLE cdc (id BIGINT, v STRING) LOCATION '$root'")      // v0
    router.execute("INSERT INTO cdc VALUES (1, 'a'), (2, 'b'), (3, 'c')")      // v1
    router.execute("UPDATE cdc SET v = 'b2' WHERE id = 2")                     // v2
    router.execute("DELETE FROM cdc WHERE id = 3")                             // v3
    router.execute("INSERT INTO cdc VALUES (4, 'd')")                          // v4
    def rows(sql: String) = router.execute(sql).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("change"), r.getAs[String]("v")))
      .toSet
    // full span: update + delete + insert, payload new-side except removed
    assert(rows("SHOW CHANGES cdc FROM 1 KEY (id)") == Set(
      (2L, "changed", "b2"), (3L, "removed", "c"), (4L, "added", "d")))
    // sub-span: only the delete
    assert(rows("SHOW CHANGES cdc FROM 2 TO 3 KEY (id)") == Set(
      (3L, "removed", "c")))
    // identical versions: empty delta
    assert(rows("SHOW CHANGES cdc FROM 4 TO 4 KEY (id)").isEmpty)
    // a read, not a mutation (reader role may call it)
    assert(!router.isMutation("SHOW CHANGES cdc FROM 1 KEY (id)"))
    // schema evolution across the span: old side null-fills backward
    router.execute("ALTER TABLE cdc ADD COLUMN w BIGINT")                      // v5
    router.execute("UPDATE cdc SET w = 7 WHERE id = 4")                        // v6
    val evolved = router.execute("SHOW CHANGES cdc FROM 4 KEY (id)").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("change"), r.getAs[Any]("w")))
      .toSet
    assert(evolved == Set((4L, "changed", 7L)), evolved)
    router.execute("DROP MANAGED TABLE cdc PURGE")
  }

  test("SHOW CHANGES raises loudly on NULL keys and key-only tables") {
    val root = freshRoot()
    router.execute(
      s"CREATE MANAGED TABLE cdcn (id BIGINT, v STRING) LOCATION '$root'")     // v0
    router.execute("INSERT INTO cdcn VALUES (1, 'a')")                         // v1
    router.execute("INSERT INTO cdcn VALUES (NULL, 'ghost')")                  // v2
    // a NULL key row would silently vanish from the payload equi-joins;
    // the guard must surface it as an error, not an empty delta
    val e = intercept[Exception] {
      router.execute("SHOW CHANGES cdcn FROM 1 KEY (id)").collect()
    }
    def rootMsg(t: Throwable): String = {
      val m = Option(t.getMessage).getOrElse("")
      if (m.contains("NULL value in key column") || t.getCause == null) m
      else rootMsg(t.getCause)
    }
    assert(rootMsg(e).contains("NULL value in key column 'id'"), rootMsg(e))
    // keys covering every column: loud changes-specific message, not
    // snapshotDiff's generic require
    val e2 = intercept[IllegalArgumentException] {
      ManagedTable.changes(spark, root, 1, None, Seq("id", "v"))
    }
    assert(e2.getMessage.contains("needs at least one non-key content column"),
      e2.getMessage)
    router.execute("DROP MANAGED TABLE cdcn PURGE")
  }

  test("non-DML statements pass through to spark.sql untouched") {
    val n = router.execute("SELECT 1 + 1 AS two").collect().head.getInt(0)
    assert(n == 2)
  }

  test("durable catalog: a new router over the same root reattaches every table") {
    val catRoot = TestSpark.tempDir("graft_cat").toString
    val t1 = freshRoot(); val t2 = freshRoot()
    val first = new SqlRouter(spark, Some(catRoot))
    first.execute(
      s"CREATE MANAGED TABLE d1 (id BIGINT, name STRING, score DOUBLE) LOCATION '$t1'")
    first.execute("INSERT INTO d1 VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
    first.execute(
      s"CREATE MANAGED TABLE d2 (id BIGINT, name STRING, score DOUBLE) LOCATION '$t2'")
    // "restart": a brand-new router instance, no register calls — the
    // registry must come back from the catalog file alone
    val restarted = new SqlRouter(spark, Some(catRoot))
    assert(restarted.registered == Map("d1" -> t1, "d2" -> t2))
    // and the reattached table is queryable AND mutable immediately
    assert(restarted.execute("SELECT count(*) n FROM d1").collect().head.getLong(0) == 2)
    restarted.execute("DELETE FROM d1 WHERE id = 1")
    assert(restarted.execute("SELECT count(*) n FROM d1").collect().head.getLong(0) == 1)
    // hostile names/paths survive the JSON round-trip
    val weird = TestSpark.tempDir("graft_cat_w").toString + "/we\"ird\\t"
    first.execute(
      s"CREATE MANAGED TABLE d3 (id BIGINT, name STRING, score DOUBLE) LOCATION '$weird'")
    assert(new SqlRouter(spark, Some(catRoot)).registered("d3") == weird)
    // an in-memory router is unaffected by other routers' catalogs
    assert(new SqlRouter(spark).registered.isEmpty)
  }

  test("DROP MANAGED TABLE detaches; PURGE deletes; both persist to the catalog") {
    val catRoot = TestSpark.tempDir("graft_cat3").toString
    val t1 = freshRoot(); val t2 = freshRoot()
    val r = new SqlRouter(spark, Some(catRoot))
    r.execute(s"CREATE MANAGED TABLE dr1 (id BIGINT, name STRING, score DOUBLE) LOCATION '$t1'")
    r.execute("INSERT INTO dr1 VALUES (1, 'a', 1.0)")
    r.execute(s"CREATE MANAGED TABLE dr2 (id BIGINT, name STRING, score DOUBLE) LOCATION '$t2'")
    // plain DROP: detached from router + catalog, data intact, re-OPENable
    val d = r.execute("DROP MANAGED TABLE dr1").collect().head
    assert(d.getAs[String]("op") == "drop" && d.getAs[Int]("version") == 1)
    assert(!r.registered.contains("dr1"))
    assert(new SqlRouter(spark, Some(catRoot)).registered == Map("dr2" -> t2))
    assert(ManagedTable.history(spark, t1).nonEmpty, "plain DROP must keep the data")
    r.execute(s"OPEN MANAGED TABLE dr1 LOCATION '$t1'")
    assert(r.execute("SELECT count(*) n FROM dr1").collect().head.getLong(0) == 1)
    // PURGE: directory gone, catalog updated
    val p = r.execute("DROP MANAGED TABLE dr1 PURGE").collect().head
    assert(p.getAs[String]("op") == "drop_purge")
    assert(!new java.io.File(t1).exists, "PURGE must delete the table directory")
    assert(new SqlRouter(spark, Some(catRoot)).registered == Map("dr2" -> t2))
    // DROP is classified as a mutation for the writer-role gate
    assert(r.isMutation("DROP MANAGED TABLE dr2"))
    // unknown-table DROP falls through to spark.sql, whose error is authoritative
    intercept[Exception] { r.execute("DROP MANAGED TABLE never_there") }
  }

  test("VACUUM and SHOW HISTORY route to the managed table") {
    val root = freshRoot()
    router.execute(
      s"CREATE MANAGED TABLE vh (id BIGINT, name STRING, score DOUBLE) LOCATION '$root'")
    router.execute("INSERT INTO vh VALUES (1, 'a', 1.0)")
    router.execute("INSERT INTO vh VALUES (2, 'b', 2.0)")
    router.execute("UPDATE vh SET score = 9.0 WHERE id = 1")
    // history is a read: full snapshot log as rows, reader-role safe
    val h = router.execute("SHOW HISTORY FOR vh").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(h == Seq((0, "create"), (1, "insert"), (2, "insert"), (3, "update")))
    assert(!router.isMutation("SHOW HISTORY FOR vh"))
    // vacuum is a write: retains 2 versions, sweeps the update's old file
    assert(router.isMutation("VACUUM vh"))
    val v = router.execute("VACUUM vh RETAIN 2 VERSIONS").collect().head
    assert(v.getAs[String]("op") == "vacuum" && v.getAs[Int]("n_removed") >= 1, v)
    assert(ManagedTable.history(spark, root).map(_.version) == Seq(2, 3))
    assert(router.execute("SELECT count(*) n FROM vh").collect().head.getLong(0) == 2)
  }

  test("RESTORE TABLE rolls the view back through SQL") {
    val root = freshRoot()
    router.execute(
      s"CREATE MANAGED TABLE rs (id BIGINT, name STRING, score DOUBLE) LOCATION '$root'")
    router.execute("INSERT INTO rs VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
    router.execute("DELETE FROM rs WHERE id = 1")
    assert(router.execute("SELECT count(*) n FROM rs").collect().head.getLong(0) == 1)
    val r = router.execute("RESTORE TABLE rs TO VERSION 1").collect().head
    assert(r.getAs[String]("op") == "restore" && r.getAs[Int]("version") == 3)
    assert(router.execute("SELECT count(*) n FROM rs").collect().head.getLong(0) == 2,
      "the refreshed view must serve the restored snapshot")
    assert(router.isMutation("RESTORE TABLE rs TO VERSION 1"))
  }

  test("durable catalog fails loudly on an entry whose table vanished") {
    val catRoot = TestSpark.tempDir("graft_cat2").toString
    val t = freshRoot()
    val first = new SqlRouter(spark, Some(catRoot))
    first.execute(
      s"CREATE MANAGED TABLE gone (id BIGINT, name STRING, score DOUBLE) LOCATION '$t'")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(new java.io.File(t))
    val e = intercept[IllegalArgumentException] { new SqlRouter(spark, Some(catRoot)) }
    assert(e.getMessage.contains("gone"), e.getMessage)
  }

  private def mvRows(r: SqlRouter, name: String) =
    r.execute(s"SELECT * FROM $name ORDER BY g").collect()
      .map(x => (x.getAs[String]("g"), x.getAs[Long]("n"), x.getAs[Long]("sv"))).toSet

  private def recompute(r: SqlRouter, tbl: String) =
    r.execute(s"SELECT g, count(*) n, sum(v) sv FROM $tbl GROUP BY g").collect()
      .map(x => (x.getAs[String]("g"), x.getAs[Long]("n"), x.getAs[Long]("sv"))).toSet

  test("materialized view: bootstrap, auto-maintenance through every DML, refuse direct writes") {
    val dir = TestSpark.tempDir("graft_mv_sql").toString
    router.execute(
      s"CREATE MANAGED TABLE mb (id BIGINT, g STRING, v BIGINT) LOCATION '$dir/t'")
    router.execute("INSERT INTO mb VALUES (1, 'a', 10), (2, 'b', 5), (3, 'a', 2)")
    router.execute(
      s"CREATE MATERIALIZED VIEW mv1 OVER mb KEY (g) COUNT n SUM (v AS sv) LOCATION '$dir/v'")
    assert(mvRows(router, "mv1") == Set(("a", 2L, 12L), ("b", 1L, 5L)))
    // every DML shape maintains incrementally; view == recompute after each
    router.execute("INSERT INTO mb VALUES (4, 'c', 7)")
    assert(mvRows(router, "mv1") == recompute(router, "mb"))
    router.execute("UPDATE mb SET v = v + 100 WHERE g = 'a'")
    assert(mvRows(router, "mv1") == recompute(router, "mb"))
    router.execute("DELETE FROM mb WHERE g = 'b'") // group death
    assert(mvRows(router, "mv1") == recompute(router, "mb"))
    assert(!mvRows(router, "mv1").exists(_._1 == "b"))
    router.execute(
      "UPSERT INTO mb BY (id) SELECT * FROM VALUES (3, 'b', 50) AS s(id, g, v)") // rebirth via group move
    assert(mvRows(router, "mv1") == recompute(router, "mb"))
    // direct writes to the view are refused; the base table names its maintainer
    val e = intercept[IllegalArgumentException] {
      router.execute("DELETE FROM mv1 WHERE g = 'a'")
    }
    assert(e.getMessage.contains("materialized view"), e.getMessage)
    val d = intercept[IllegalArgumentException] { router.execute("DROP MANAGED TABLE mb") }
    assert(d.getMessage.contains("mv1"), d.getMessage)
    assert(router.isMutation(s"CREATE MATERIALIZED VIEW x OVER mb KEY (g) COUNT n LOCATION '$dir/x'"))
    assert(!router.isMutation("SHOW MATERIALIZED VIEWS"))
    router.execute("DROP MATERIALIZED VIEW mv1")
    router.execute("DROP MANAGED TABLE mb") // dependency gone, now allowed
  }

  test("materialized view: RESTORE maintains, restart resumes maintenance, SHOW lists, REFRESH resyncs") {
    val dir = TestSpark.tempDir("graft_mv_sql2").toString
    val catRoot = TestSpark.tempDir("graft_mv_cat").toString
    val r1 = new SqlRouter(spark, Some(catRoot))
    r1.execute(
      s"CREATE MANAGED TABLE mr (id BIGINT, g STRING, v BIGINT) LOCATION '$dir/t'")
    r1.execute("INSERT INTO mr VALUES (1, 'a', 10), (2, 'b', 5)")
    r1.execute(
      s"CREATE MATERIALIZED VIEW mv2 OVER mr KEY (g) COUNT n SUM (v AS sv) LOCATION '$dir/v'")
    r1.execute("INSERT INTO mr VALUES (3, 'b', 8)") // create=v0, inserts v1, v2
    assert(mvRows(r1, "mv2") == recompute(r1, "mr"))
    r1.execute("RESTORE TABLE mr TO VERSION 1") // roll the base back; view follows
    assert(mvRows(r1, "mv2") == recompute(r1, "mr"))
    assert(mvRows(r1, "mv2") == Set(("a", 1L, 10L), ("b", 1L, 5L)))
    // a NEW router over the same catalog resumes maintaining the view
    val r2 = new SqlRouter(spark, Some(catRoot))
    val shown = r2.execute("SHOW MATERIALIZED VIEWS").collect()
    assert(shown.map(_.getAs[String]("name")).toSeq == Seq("mv2"))
    assert(shown.head.getAs[String]("over_table") == "mr")
    assert(shown.head.getAs[String]("sum_cols") == "v AS sv")
    r2.execute("INSERT INTO mr VALUES (9, 'z', 1)")
    assert(mvRows(r2, "mv2") == recompute(r2, "mr"))
    // REFRESH is the full-recompute resync
    val rf = r2.execute("REFRESH MATERIALIZED VIEW mv2").collect().head
    assert(rf.getAs[String]("op") == "refresh_mview")
    assert(mvRows(r2, "mv2") == recompute(r2, "mr"))
  }

  test("materialized view: MIN/MAX maintain through DML, incl. deleted extremum") {
    def rowsExt(r: SqlRouter, q: String) = r.execute(q).collect()
      .map(x => (x.getAs[String]("g"), x.getAs[Long]("n"), x.getAs[Long]("sv"),
        x.getAs[Long]("lo"), x.getAs[Long]("hi"))).toSet
    def mv(r: SqlRouter) = rowsExt(r, "SELECT * FROM mve")
    def rc(r: SqlRouter) = rowsExt(r,
      "SELECT g, count(*) n, sum(v) sv, min(v) lo, max(v) hi FROM me GROUP BY g")
    val dir = TestSpark.tempDir("graft_mv_ext").toString
    val catRoot = TestSpark.tempDir("graft_mv_ext_cat").toString
    val r1 = new SqlRouter(spark, Some(catRoot))
    r1.execute(
      s"CREATE MANAGED TABLE me (id BIGINT, g STRING, v BIGINT) LOCATION '$dir/t'")
    r1.execute("INSERT INTO me VALUES (1,'a',1), (2,'a',5), (3,'a',3), (4,'b',7)")
    r1.execute("CREATE MATERIALIZED VIEW mve OVER me KEY (g) COUNT n " +
      s"SUM (v AS sv) MIN (v AS lo) MAX (v AS hi) LOCATION '$dir/v'")
    assert(mv(r1) == rc(r1))
    // insert a new extremum (cheap path) and a new group
    r1.execute("INSERT INTO me VALUES (5,'a',9), (6,'c',2)")
    assert(mv(r1) == rc(r1))
    // DELETE the group's min AND max in one statement — the repair path
    r1.execute("DELETE FROM me WHERE g = 'a' AND (v = 1 OR v = 9)")
    assert(mv(r1) == rc(r1))
    assert(mv(r1).contains(("a", 2L, 8L, 3L, 5L)), mv(r1))
    // UPDATE that moves the extremum in place (delete+insert delta)
    r1.execute("UPDATE me SET v = 100 WHERE g = 'b'")
    assert(mv(r1) == rc(r1))
    // a restarted router resumes maintaining the extrema (sidecar)
    val r2 = new SqlRouter(spark, Some(catRoot))
    val shown = r2.execute("SHOW MATERIALIZED VIEWS").collect().head
    assert(shown.getAs[String]("min_cols") == "v AS lo")
    assert(shown.getAs[String]("max_cols") == "v AS hi")
    r2.execute("DELETE FROM me WHERE v = 100") // kills b's only row
    assert(mv(r2) == rc(r2))
    assert(!mv(r2).exists(_._1 == "b"))
  }

  test("materialized view: AVG maintains exactly, including nullable expressions") {
    def rows(r: SqlRouter, q: String) = r.execute(q).collect()
      .map(x => (x.getAs[String]("g"), x.getAs[Long]("n"),
        Option(x.getAs[java.lang.Double]("mv")).map(_.toDouble))).toSet
    def mv(r: SqlRouter) = rows(r, "SELECT g, n, mv FROM mva")
    def rc(r: SqlRouter) = rows(r,
      "SELECT g, count(*) n, avg(v) mv FROM ma GROUP BY g")
    val dir = TestSpark.tempDir("graft_mv_avg").toString
    val r1 = new SqlRouter(spark)
    r1.execute(
      s"CREATE MANAGED TABLE ma (id BIGINT, g STRING, v BIGINT) LOCATION '$dir/t'")
    // NULL values must not shift the average (backing non-null count,
    // not COUNT(*))
    r1.execute("INSERT INTO ma VALUES (1,'a',10), (2,'a',NULL), (3,'a',20), (4,'b',7)")
    r1.execute("CREATE MATERIALIZED VIEW mva OVER ma KEY (g) COUNT n " +
      s"AVG (v AS mv) LOCATION '$dir/v'")
    assert(mv(r1) == rc(r1))
    assert(mv(r1).contains(("a", 3L, Some(15.0))), mv(r1))
    r1.execute("INSERT INTO ma VALUES (5,'a',30), (6,'c',NULL)")
    assert(mv(r1) == rc(r1))
    assert(mv(r1).contains(("c", 1L, None)), mv(r1)) // all-null group
    r1.execute("DELETE FROM ma WHERE v = 10")
    assert(mv(r1) == rc(r1))
    assert(mv(r1).contains(("a", 3L, Some(25.0))), mv(r1))
    r1.execute("UPDATE ma SET v = 70 WHERE g = 'b'")
    assert(mv(r1) == rc(r1))
    // combined with MIN/MAX in one view (repair + derived recompute)
    r1.execute("CREATE MATERIALIZED VIEW mvb OVER ma KEY (g) COUNT n " +
      s"MIN (v AS lo) AVG (v AS mv) LOCATION '$dir/v2'")
    r1.execute("DELETE FROM ma WHERE v = 20") // removes a's min
    val both = r1.execute("SELECT g, n, lo, mv FROM mvb").collect()
      .map(x => (x.getAs[String]("g"), x.getAs[Long]("n"),
        Option(x.getAs[java.lang.Long]("lo")).map(_.toLong),
        Option(x.getAs[java.lang.Double]("mv")).map(_.toDouble))).toSet
    val both2 = r1.execute(
      "SELECT g, count(*) n, min(v) lo, avg(v) mv FROM ma GROUP BY g").collect()
      .map(x => (x.getAs[String]("g"), x.getAs[Long]("n"),
        Option(x.getAs[java.lang.Long]("lo")).map(_.toLong),
        Option(x.getAs[java.lang.Double]("mv")).map(_.toDouble))).toSet
    assert(both == both2, s"$both vs $both2")
  }

  test("materialized view: randomized SQL DML sequences never drift the view from recompute") {
    // the ManagedTableSpec fuzz discipline applied to the router's MV
    // maintenance: seeded-random INSERT/UPDATE/DELETE/UPSERT statements
    // as SQL TEXT and ingest batches, over four views of one table (plain,
    // WHERE-filtered, MIN/MAX, join); every view == full recompute
    // asserted after EVERY step — any delta the maintenance misses
    // (group move, death, rebirth, overlapping upsert, replay) diverges
    // immediately. Ingest batches always carry a row that passes the
    // filter and joins the dimension, so each must move every view by
    // exactly one version.
    val rnd = new scala.util.Random(20260814L)
    val dir = TestSpark.tempDir("graft_mv_fuzz").toString
    router.execute(
      s"CREATE MANAGED TABLE mf (id BIGINT, g STRING, v BIGINT) LOCATION '$dir/t'")
    router.execute(
      s"CREATE MANAGED TABLE mfd (g STRING, region STRING) LOCATION '$dir/d'")
    router.execute("INSERT INTO mfd VALUES ('g0', 'north'), ('g1', 'north'), " +
      "('g2', 'south'), ('g3', 'south')")
    router.execute("INSERT INTO mf VALUES (1, 'g0', 5), (2, 'g1', 7)")
    router.execute(
      s"CREATE MATERIALIZED VIEW mfv OVER mf KEY (g) COUNT n SUM (v AS sv) LOCATION '$dir/v'")
    router.execute("CREATE MATERIALIZED VIEW mff OVER mf KEY (g) COUNT n SUM (v AS sv) " +
      s"WHERE v >= 10 LOCATION '$dir/vf'")
    router.execute("CREATE MATERIALIZED VIEW mfm OVER mf KEY (g) COUNT n " +
      s"MIN (v AS lo) MAX (v AS hi) LOCATION '$dir/vm'")
    router.execute("CREATE MATERIALIZED VIEW mfj OVER mf JOIN mfd ON mf.g = mfd.g " +
      s"KEY (mfd.region) COUNT n SUM (mf.v AS sv) LOCATION '$dir/vj'")
    def rows(sql: String) = router.execute(sql).collect().map(_.toSeq).toSet
    // the recompute reads the tables' snapshots outside the router:
    // routed, it would be answered from the very view it checks
    def recomputed(sql: String) = TestSpark.recompute(router, sql).collect().map(_.toSeq).toSet
    val views = Seq(
      "mfv" -> ("SELECT g, n, sv FROM mfv",
        "SELECT g, count(*), sum(v) FROM mf GROUP BY g"),
      "mff" -> ("SELECT g, n, sv FROM mff",
        "SELECT g, count(*), sum(v) FROM mf WHERE v >= 10 GROUP BY g"),
      "mfm" -> ("SELECT g, n, lo, hi FROM mfm",
        "SELECT g, count(*), min(v), max(v) FROM mf GROUP BY g"),
      "mfj" -> ("SELECT region, n, sv FROM mfj",
        "SELECT mfd.region, count(*), sum(mf.v) FROM mf JOIN mfd ON mf.g = mfd.g " +
          "GROUP BY mfd.region"))
    def check(step: String): Unit = views.foreach { case (name, (got, want)) =>
      assert(rows(got) == recomputed(want), s"view $name drifted from recompute after $step")
    }
    def versions = views.map { case (name, _) =>
      router.execute(s"SHOW HISTORY $name").collect().map(_.getInt(0)).max }
    // ingest `batch` (id, g, v), last writer by v; one version per view
    def ingest(step: String, batch: Seq[(Long, String, Long)]): Unit = {
      val before = versions
      router.ingest("mf", router.batchFrame("mf", Seq("id", "g", "v"),
        batch.map { case (i, g, v) => Seq(i.toString, g, v.toString) }), Seq("id"), Seq("v"))
      check(step)
      assert(versions == before.map(_ + 1), s"$step: a batch must add one version per view")
    }
    var nextId = 2L
    for (step <- 1 to 16) {
      rnd.nextInt(5) match {
        case 0 =>
          val vals = (1 to 1 + rnd.nextInt(3)).map { _ =>
            nextId += 1; s"($nextId, 'g${rnd.nextInt(4)}', ${rnd.nextInt(50)})"
          }.mkString(", ")
          router.execute(s"INSERT INTO mf VALUES $vals")
        case 1 =>
          router.execute(s"DELETE FROM mf WHERE g = 'g${rnd.nextInt(4)}'")
        case 2 =>
          val m = 2 + rnd.nextInt(3)
          router.execute(s"UPDATE mf SET v = v + 100 WHERE id % $m = 0")
        case 3 =>
          val hit = rnd.nextInt(nextId.toInt) + 1
          nextId += 1
          router.execute(s"UPSERT INTO mf BY (id) VALUES " +
            s"($hit, 'g${rnd.nextInt(4)}', ${rnd.nextInt(50)}), " +
            s"($nextId, 'g${rnd.nextInt(4)}', ${rnd.nextInt(50)})")
        case 4 =>
          // existing and new keys, one of them twice in the batch
          val hit = rnd.nextInt(nextId.toInt) + 1L
          nextId += 1
          ingest(s"ingest step $step", Seq(
            (hit, s"g${rnd.nextInt(4)}", rnd.nextInt(50).toLong),
            (nextId, s"g${rnd.nextInt(4)}", 10L + rnd.nextInt(50)),
            (nextId, s"g${rnd.nextInt(4)}", 70L + rnd.nextInt(50))))
      }
      check(s"step $step")
    }
    // in-batch duplicate keys, then the same batch replayed
    nextId += 1
    val dupBatch = Seq((1L, "g2", 30L), (1L, "g3", 40L), (nextId, "g0", 12L),
      (nextId, "g1", 11L))
    ingest("duplicate-key batch", dupBatch)
    ingest("replayed batch", dupBatch)
    // every row of g1 moves to g2 (g1 dies), then g1 is reborn
    val g1 = router.execute("SELECT id FROM mf WHERE g = 'g1'").collect().map(_.getLong(0))
    nextId += 1
    ingest("group death", g1.toSeq.map(i => (i, "g2", 20L)) :+ ((nextId, "g3", 15L)))
    assert(!rows("SELECT g FROM mfv").contains(Seq("g1")))
    ingest("group rebirth", Seq((nextId, "g1", 25L)))
    assert(rows("SELECT g, n FROM mfv").contains(Seq("g1", 1L)))
  }

  test("a 200-row ingest into a table with one COUNT/SUM view runs at most 16 Spark jobs") {
    // fixed per-job cost dominates a small keyed batch, so the job count
    // of one ingest (base upsert plus view maintenance) is pinned
    val dir = TestSpark.tempDir("graft_ingest_jobs").toString
    router.execute(s"CREATE MANAGED TABLE ij LOCATION '$dir/t' AS SELECT id, " +
      "concat('s', CAST(id % 3 AS STRING)) AS g, id * 7 AS v FROM range(2000)")
    router.execute(
      s"CREATE MATERIALIZED VIEW ij_by_g OVER ij KEY (g) COUNT n SUM (v AS sv) LOCATION '$dir/v'")
    val rnd = new scala.util.Random(7L)
    var next = 10000L
    // 150 updates of existing keys and 50 new keys, as the ingest benchmark sends
    def batch(): Seq[Seq[String]] =
      (rnd.shuffle((0L until 2000L).toList).take(150) ++ (next until next + 50)).map(k =>
        Seq(k.toString, s"s${rnd.nextInt(3)}", rnd.nextInt(1000).toString))
    def ingest(): Long = {
      val out = router.ingest("ij", router.batchFrame("ij", Seq("id", "g", "v"), batch()),
        Seq("id"), Seq("v"))
      next += 50
      out.collect().head.getAs[Long]("n_applied")
    }
    assert(ingest() == 200L) // the first batch warms the write path
    val sentinel = "ingest-job-count-sentinel"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == sentinel))
          seen.countDown()
        else jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(ingest() == 200L)
      // listener events arrive in order: once the sentinel job is seen,
      // every job of the ingest has been counted
      spark.sparkContext.setJobDescription(sentinel)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get <= 16, s"one ingest ran ${jobs.get} Spark jobs")
    // the recompute bypasses the router: routed, the view would answer it
    def rowsOf(sql: String) = TestSpark.recompute(router, sql).collect().map(_.toSeq).toSet
    assert(rowsOf("SELECT g, n, sv FROM ij_by_g") ==
      rowsOf("SELECT g, count(*), sum(v) FROM ij GROUP BY g"))
  }

  test("BEGIN...COMMIT publishes multi-table mutations atomically") {
    val r1 = freshRoot(); val r2 = freshRoot()
    router.execute(s"CREATE MANAGED TABLE tx_a (id BIGINT, v DOUBLE) LOCATION '$r1'")
    router.execute(s"CREATE MANAGED TABLE tx_b (id BIGINT, v DOUBLE) LOCATION '$r2'")
    router.execute("INSERT INTO tx_a VALUES (1, 1.0)")
    val res = router.execute(
      "BEGIN; INSERT INTO tx_a VALUES (2, 2.0); " +
        "INSERT INTO tx_b VALUES (10, 5.0); " +
        "UPDATE tx_a SET v = v + 1 WHERE id = 1; COMMIT").collect()
    assert(res.length == 3 && res.forall(_.getString(0) == "commit"),
      res.mkString(","))
    assert(router.execute("SELECT count(*) c FROM tx_a")
      .collect().head.getLong(0) == 2)
    assert(router.execute("SELECT v FROM tx_a WHERE id = 1")
      .collect().head.getDouble(0) == 2.0)
    assert(router.execute("SELECT count(*) c FROM tx_b")
      .collect().head.getLong(0) == 1)
    // the gate sees the whole batch as a write
    assert(router.isMutation("BEGIN; INSERT INTO tx_a VALUES (3, 3.0); COMMIT"))
  }

  test("a failing statement aborts the whole batch; tables keep their old versions") {
    val r1 = freshRoot(); val r2 = freshRoot()
    router.execute(s"CREATE MANAGED TABLE tx_c (id BIGINT, v DOUBLE) LOCATION '$r1'")
    router.execute(s"CREATE MANAGED TABLE tx_d (id BIGINT, v DOUBLE) LOCATION '$r2'")
    router.execute("INSERT INTO tx_c VALUES (1, 1.0)")
    val e = intercept[Exception] {
      router.execute("BEGIN; INSERT INTO tx_c VALUES (2, 2.0); " +
        "INSERT INTO tx_d SELECT * FROM no_such_table_xyz; COMMIT")
    }
    assert(e != null)
    // the first INSERT staged, then the abort deleted its manifest
    assert(router.execute("SELECT count(*) c FROM tx_c")
      .collect().head.getLong(0) == 1)
    assert(ManagedTable.history(spark, r1).map(_.op) == Seq("create", "insert"))
    assert(ManagedTable.history(spark, r2).map(_.op) == Seq("create"))
  }

  test("ROLLBACK terminator stages then discards (dry-run)") {
    val r1 = freshRoot()
    router.execute(s"CREATE MANAGED TABLE tx_e (id BIGINT, v DOUBLE) LOCATION '$r1'")
    router.execute("INSERT INTO tx_e VALUES (1, 1.0)")
    val res = router.execute(
      "BEGIN; INSERT INTO tx_e VALUES (2, 2.0); DELETE FROM tx_e WHERE id = 1; ROLLBACK")
      .collect()
    assert(res.nonEmpty && res.forall(_.getString(0) == "rollback"))
    // both staged versions were discarded; the view shows the old state
    assert(router.execute("SELECT count(*) c FROM tx_e")
      .collect().head.getLong(0) == 1)
    assert(ManagedTable.history(spark, r1).map(_.op) == Seq("create", "insert"))
  }

  test("a reader beside BEGIN...COMMIT never sees the batch's staged rows") {
    val (r1, r2) = (freshRoot(), freshRoot())
    router.execute(s"CREATE MANAGED TABLE iso_a (id BIGINT) LOCATION '$r1'")
    router.execute(s"CREATE MANAGED TABLE iso_b (id BIGINT) LOCATION '$r2'")
    router.execute("INSERT INTO iso_a VALUES (1)")
    // the batch's second statement holds inside iso_hold until released
    spark.udf.register("iso_hold", (x: Long) => { SqlRouterSpec.hold(); x })
    SqlRouterSpec.entered = new java.util.concurrent.CountDownLatch(1)
    SqlRouterSpec.release = new java.util.concurrent.CountDownLatch(1)
    val batch = new Thread(() => router.execute(
      "BEGIN; INSERT INTO iso_a VALUES (2); " +
        "INSERT INTO iso_b SELECT iso_hold(id) FROM range(1); COMMIT").collect(): Unit)
    batch.start()
    def count(t: String) = router.execute(s"SELECT count(*) FROM $t").collect().head.getLong(0)
    try {
      assert(SqlRouterSpec.entered.await(120, java.util.concurrent.TimeUnit.SECONDS))
      // iso_a's second row is staged, not published
      assert(count("iso_a") == 1)
      assert(router.execute("SELECT id FROM iso_a a JOIN iso_a b USING (id)").count() == 1)
    } finally SqlRouterSpec.release.countDown()
    batch.join(120000)
    assert(!batch.isAlive)
    assert(count("iso_a") == 2 && count("iso_b") == 1)
  }

  test("bare txn keywords and read-only batches are refused loudly") {
    val bare = intercept[IllegalArgumentException](router.execute("BEGIN"))
    assert(bare.getMessage.contains("BEGIN; <stmt>"))
    val commit = intercept[IllegalArgumentException](router.execute("COMMIT"))
    assert(commit.getMessage.contains("ONE"))
    val ro = intercept[IllegalArgumentException](
      router.execute("BEGIN; SELECT 1; COMMIT"))
    assert(ro.getMessage.contains("nothing to make atomic"))
  }

  test("SHOW CONSTRAINTS lists the declared rules; empty shape for unconstrained") {
    val root = freshRoot()
    router.execute(
      s"""CREATE MANAGED TABLE sc (id BIGINT, name STRING,
         |PRIMARY KEY (id), NOT NULL (name), CHECK (id >= 0))
         |LOCATION '$root' ON VIOLATION QUARANTINE""".stripMargin)
    val rows = router.execute("SHOW CONSTRAINTS FOR sc").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set(
      ("primary_key", "pk", "id"),
      ("not_null", "name", "name IS NOT NULL"),
      ("check", "check_1", "id >= 0"),
      ("on_violation", "policy", "quarantine")))
    // a read, not a mutation (reader role may call it)
    assert(!router.isMutation("SHOW CONSTRAINTS FOR sc"))
    // unconstrained table: empty result, same 3-column shape
    val plain = freshRoot()
    router.execute(s"CREATE MANAGED TABLE sc2 (id BIGINT) LOCATION '$plain'")
    val none = router.execute("SHOW CONSTRAINTS sc2")
    assert(none.columns.toSeq == Seq("rule_type", "rule_name", "definition"))
    assert(none.count() == 0)
    router.execute("DROP MANAGED TABLE sc PURGE")
    router.execute("DROP MANAGED TABLE sc2 PURGE")
  }

  test("SYNC TABLE: bootstrap with LOCATION, drain the span, idempotent replay") {
    val srcRoot = freshRoot()
    val dstRoot = freshRoot()
    router.execute(
      s"CREATE MANAGED TABLE up (id BIGINT, v STRING) LOCATION '$srcRoot'")    // v0
    router.execute("INSERT INTO up VALUES (1, 'a'), (2, 'b')")                 // v1
    // bootstrap: follower is created from the current snapshot + registered
    val boot = router.execute(
      s"SYNC TABLE down FROM up KEY (id) LOCATION '$dstRoot'").collect().head
    assert(boot.getString(0) == "sync" && boot.getString(1) == "down")
    assert(router.execute("SELECT * FROM down").count() == 2)
    // upstream moves: update + delete + insert; one SYNC drains the span
    router.execute("UPDATE up SET v = 'b2' WHERE id = 2")                      // v2
    router.execute("DELETE FROM up WHERE id = 1")                              // v3
    router.execute("INSERT INTO up VALUES (3, 'c')")                           // v4
    val s1 = router.execute("SYNC TABLE down FROM up KEY (id)").collect().head
    assert(s1.getAs[Long]("n_upserted") == 2 && s1.getAs[Long]("n_removed") == 1)
    def snap(t: String) = router.execute(s"SELECT id, v FROM $t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(snap("down") == snap("up"))
    // already current: no-op sync, versions equal
    val s2 = router.execute("SYNC TABLE down FROM up KEY (id)").collect().head
    assert(s2.getAs[Int]("from_version") == s2.getAs[Int]("to_version"))
    assert(snap("down") == Set((2L, "b2"), (3L, "c")))
    // a mutation (writer role), and refused inside a transaction
    assert(router.isMutation("SYNC TABLE down FROM up KEY (id)"))
    val intx = intercept[IllegalArgumentException](router.execute(
      "BEGIN; INSERT INTO up VALUES (9, 'z'); SYNC TABLE down FROM up KEY (id); COMMIT"))
    assert(intx.getMessage.contains("not transactional"))
    // the refused batch staged nothing: upstream kept its version
    assert(ManagedTable.history(spark, srcRoot).last.version == 4)
    // unknown follower without LOCATION: loud bootstrap hint
    val noloc = intercept[IllegalArgumentException](
      router.execute("SYNC TABLE nowhere FROM up KEY (id)"))
    assert(noloc.getMessage.contains("LOCATION"))
    router.execute("DROP MANAGED TABLE down PURGE")
    router.execute("DROP MANAGED TABLE up PURGE")
  }

  test("constraints inside transactions: REJECT aborts the batch, QUARANTINE publishes with it") {
    val (r1, r2, r3) = (freshRoot(), freshRoot(), freshRoot())
    router.execute(
      s"""CREATE MANAGED TABLE txc (id BIGINT, name STRING,
         |PRIMARY KEY (id), CHECK (id > 0)) LOCATION '$r1'""".stripMargin)
    router.execute(s"CREATE MANAGED TABLE txo (id BIGINT) LOCATION '$r2'")
    router.execute("INSERT INTO txc VALUES (1, 'a')")
    // a constraint REJECT mid-batch aborts the WHOLE batch: the other
    // table's already-staged insert is discarded with it
    val ex = intercept[Exception](router.execute(
      "BEGIN; INSERT INTO txo VALUES (9); INSERT INTO txc VALUES (-1, 'bad'); COMMIT"))
    assert(ex.getMessage.contains("check:check_1"), ex.getMessage)
    assert(router.execute("SELECT count(*) n FROM txo")
      .collect().head.getLong(0) == 0)
    assert(router.execute("SELECT count(*) n FROM txc")
      .collect().head.getLong(0) == 1)
    // QUARANTINE: the diversion is itself a managed write, so it
    // stages and publishes WITH the batch — clean rows, the other
    // table's insert, and the quarantined row appear together
    router.execute(
      s"""CREATE MANAGED TABLE txq (id BIGINT, name STRING,
         |CHECK (id > 0)) LOCATION '$r3' ON VIOLATION QUARANTINE""".stripMargin)
    router.execute(
      "BEGIN; INSERT INTO txq VALUES (5, 'ok'), (-5, 'bad'); INSERT INTO txo VALUES (9); COMMIT")
    assert(router.execute("SELECT id FROM txq").collect().map(_.getLong(0)).toSeq == Seq(5L))
    assert(router.execute("SELECT id FROM txo").collect().map(_.getLong(0)).toSeq == Seq(9L))
    val q = router.execute("SHOW QUARANTINE txq").collect()
    assert(q.length == 1 && q.head.getAs[Long]("id") == -5L, q.mkString(","))
    router.execute("DROP MANAGED TABLE txq PURGE")
    router.execute("DROP MANAGED TABLE txo PURGE")
    router.execute("DROP MANAGED TABLE txc PURGE")
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT: audit-then-adopt, refuse rules the data violates") {
    val root = freshRoot()
    router.execute(
      s"CREATE MANAGED TABLE ac (id BIGINT, name STRING) LOCATION '$root'")
    router.execute("INSERT INTO ac VALUES (1, 'a'), (2, 'b'), (3, NULL)")
    // a rule the existing rows violate is refused with counts
    val bad = intercept[Exception](
      router.execute("ALTER TABLE ac ADD CONSTRAINT NOT NULL (name)"))
    assert(bad.getMessage.contains("not_null:name=1"), bad.getMessage)
    assert(router.execute("SHOW CONSTRAINTS ac").count() == 0) // nothing adopted
    // a rule the rows satisfy adopts, and enforces from then on
    router.execute("ALTER TABLE ac ADD CONSTRAINT CHECK (id > 0)")
    router.execute("ALTER TABLE ac ADD CONSTRAINT PRIMARY KEY (id)")
    val rules = router.execute("SHOW CONSTRAINTS ac").collect()
      .map(r => (r.getString(0), r.getString(2))).toSet
    assert(rules == Set(("check", "id > 0"), ("primary_key", "id"),
      ("on_violation", "reject")))
    val ins = intercept[Exception](
      router.execute("INSERT INTO ac VALUES (-7, 'x')"))
    assert(ins.getMessage.contains("check:check_1"), ins.getMessage)
    val dup = intercept[Exception](
      router.execute("INSERT INTO ac VALUES (1, 'again')"))
    assert(dup.getMessage.contains("pk_exists"), dup.getMessage)
    // a second PK is refused; a duplicate-ridden PK proposal is refused
    val twoPk = intercept[Exception](
      router.execute("ALTER TABLE ac ADD CONSTRAINT PRIMARY KEY (name)"))
    assert(twoPk.getMessage.contains("already declares"), twoPk.getMessage)
    // mutation classification + DROP returns the table to unconstrained
    assert(router.isMutation("ALTER TABLE ac ADD CONSTRAINT CHECK (id > 0)"))
    assert(router.isMutation("ALTER TABLE ac DROP CONSTRAINTS"))
    router.execute("ALTER TABLE ac DROP CONSTRAINTS")
    router.execute("INSERT INTO ac VALUES (-7, 'x'), (1, 'again')") // now legal
    assert(router.execute("SELECT count(*) n FROM ac").collect().head.getLong(0) == 5)
    router.execute("DROP MANAGED TABLE ac PURGE")
  }

  test("SELECT ... VERSION AS OF reads a pinned snapshot; current reads stay live") {
    val root = freshRoot()
    router.execute(
      s"CREATE MANAGED TABLE tt (id BIGINT, v STRING) LOCATION '$root'")       // v0
    router.execute("INSERT INTO tt VALUES (1, 'a'), (2, 'b')")                 // v1
    router.execute("UPDATE tt SET v = 'b2' WHERE id = 2")                      // v2
    router.execute("DELETE FROM tt WHERE id = 1")                              // v3
    def vals(sql: String) = router.execute(sql).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(vals("SELECT id, v FROM tt VERSION AS OF 1") ==
      Set((1L, "a"), (2L, "b")))
    assert(vals("SELECT id, v FROM tt VERSION AS OF 2") ==
      Set((1L, "a"), (2L, "b2")))
    // current and pinned versions of the SAME table join in one query
    val drift = router.execute(
      """SELECT count(*) AS n FROM tt VERSION AS OF 1 o
        |LEFT ANTI JOIN tt c ON o.id = c.id AND o.v = c.v""".stripMargin)
      .collect().head.getLong(0)
    assert(drift == 2) // (1,'a') deleted, (2,'b') changed
    // works as an INSERT source too (the query() path)
    val r2 = freshRoot()
    router.execute(s"CREATE MANAGED TABLE tt2 (id BIGINT, v STRING) LOCATION '$r2'")
    router.execute("INSERT INTO tt2 SELECT id, v FROM tt VERSION AS OF 1")
    assert(vals("SELECT id, v FROM tt2") == Set((1L, "a"), (2L, "b")))
    // names that are not registered managed tables pass through untouched
    val e = intercept[Exception](
      router.execute("SELECT * FROM no_such VERSION AS OF 1"))
    assert(e.getMessage != null)
    // a CTE of the same name shadows the managed table
    assert(vals("WITH tt AS (SELECT 9L AS id, 'cte' AS v) SELECT id, v FROM tt") ==
      Set((9L, "cte")))
    // the phrase inside a string literal is data, not a time-travel clause
    assert(router.execute("SELECT 'tt VERSION AS OF 1' AS s").collect().head.getString(0) ==
      "tt VERSION AS OF 1")
    router.execute("DROP MANAGED TABLE tt2 PURGE")
    router.execute("DROP MANAGED TABLE tt PURGE")
  }

  test("SYNC TABLE maintains a materialized view over the follower") {
    val srcRoot = freshRoot()
    val dstRoot = freshRoot()
    val mvRoot = freshRoot()
    router.execute(
      s"CREATE MANAGED TABLE fup (k STRING, x BIGINT) LOCATION '$srcRoot'")
    router.execute("INSERT INTO fup VALUES ('a', 1), ('a', 2), ('b', 5)")
    router.execute(s"SYNC TABLE fdown FROM fup KEY (x) LOCATION '$dstRoot'")
    router.execute(
      s"CREATE MATERIALIZED VIEW fmv OVER fdown KEY (k) COUNT n SUM (x AS sx) LOCATION '$mvRoot'")
    router.execute("INSERT INTO fup VALUES ('b', 7)")
    router.execute("DELETE FROM fup WHERE x = 1")
    router.execute("SYNC TABLE fdown FROM fup KEY (x)")
    // the view folded the synced delta exactly like local DML would
    val mv = router.execute("SELECT k, n, sx FROM fmv ORDER BY k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(mv == Seq(("a", 1L, 2L), ("b", 2L, 12L)))
    router.execute("DROP MATERIALIZED VIEW fmv PURGE")
    router.execute("DROP MANAGED TABLE fdown PURGE")
    router.execute("DROP MANAGED TABLE fup PURGE")
  }

  test("standard ALTER TABLE on an unregistered name continues to spark.sql") {
    // ALTER TABLE ADD/RENAME/DROP COLUMN is also valid Spark SQL on
    // ordinary catalog tables — the router must not intercept those
    // shapes with a 'no managed table' error when the name is simply
    // not a GRAFT table. (Graft-only syntax like SHOW FILES still gets
    // the canonical message.)
    val r = new SqlRouter(spark)
    val loc = freshRoot()
    spark.sql(s"CREATE TABLE alter_passthru (a INT) USING parquet LOCATION '$loc/ct'")
    try {
      r.execute("ALTER TABLE alter_passthru ADD COLUMN b INT")
      assert(spark.table("alter_passthru").schema.fieldNames.toSeq == Seq("a", "b"))
      // an unknown name errors through Spark's own resolution, not ours
      val e = intercept[Exception](
        r.execute("ALTER TABLE nosuch_graft_tbl ADD COLUMN b INT"))
      assert(!e.getMessage.contains("no managed table"), e.getMessage)
      // graft-only syntax keeps the canonical unknown-table message
      val g = intercept[IllegalArgumentException](
        r.execute("SHOW FILES FOR nosuch_graft_tbl"))
      assert(g.getMessage.contains("no managed table"), g.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS alter_passthru")
  }
}

object SqlRouterSpec {
  // the transaction-isolation test's gate: the UDF runs in a task, so it
  // reaches the latches through this object, not through its closure
  @volatile var entered = new java.util.concurrent.CountDownLatch(0)
  @volatile var release = new java.util.concurrent.CountDownLatch(0)
  def hold(): Unit = if (entered.getCount > 0) {
    entered.countDown()
    release.await(120, java.util.concurrent.TimeUnit.SECONDS): Unit
  }
}
