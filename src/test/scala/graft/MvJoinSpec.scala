package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.server.SqlRouter
import graft.sources.ManagedTable

/** Materialized views OVER JOINS (the star-schema rollup): a view
  * declared `OVER fact JOIN dim ON cond` bootstraps from the join,
  * maintains incrementally under DML on EITHER side via the
  * delta-keyed probe (Δfact ⋈ dim, fact ⋈ Δdim — one side changes per
  * statement, so no inclusion-exclusion), and serves grouped
  * aggregates over the matching join tree through MvRewrite's
  * identity-based (table, column) matching — alias-insensitive, join-
  * order-insensitive. Every incremental state is pinned against the
  * full recompute, the production invariant.
  */
class MvJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fresh() = TestSpark.tempDir("graft_mvj").toString

  private def scanRoots(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.headOption.map(_.toUri.getPath).getOrElse("?")
        case _ => "?"
      }
    }

  private def servedBy(df: DataFrame, marker: String): Boolean = {
    val roots = scanRoots(df)
    roots.nonEmpty && roots.forall(_.contains(marker))
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toSeq).toSeq.sortBy(_.mkString("|"))

  private def expect(r: SqlRouter, sql: String): Seq[Seq[Any]] =
    rows(TestSpark.recompute(r, sql))

  /** fact f_<id>(k, sk, amount, price) ⋈ dim d_<id>(sk, city, tier),
    * view keyed (f.k, d.city) maintaining COUNT/SUM/MIN/MAX/AVG. */
  private def fixture(goldOnly: Boolean = false)
      : (SqlRouter, String, String, String) = {
    val r = new SqlRouter(spark)
    val id = s"j${System.nanoTime()}"
    val (f, d) = (s"f_$id", s"d_$id")
    val base = fresh()
    r.execute(s"CREATE MANAGED TABLE $f (k BIGINT, sk BIGINT, " +
      s"amount BIGINT, price DOUBLE) LOCATION '$base/fact_$id'")
    r.execute(s"CREATE MANAGED TABLE $d (sk BIGINT, city STRING, " +
      s"tier STRING) LOCATION '$base/dim_$id'")
    r.execute(s"INSERT INTO $f SELECT id % 4 AS k, id % 6 AS sk, " +
      s"id AS amount, (id % 5) * 0.5 AS price FROM range(600)")
    r.execute(s"INSERT INTO $d SELECT id AS sk, " +
      s"CASE WHEN id % 3 = 0 THEN 'oslo' WHEN id % 3 = 1 THEN 'turin' " +
      s"ELSE 'lyon' END AS city, " +
      s"CASE WHEN id % 2 = 0 THEN 'gold' ELSE 'base' END AS tier " +
      s"FROM range(6)")
    r.execute(s"CREATE MATERIALIZED VIEW v_$id OVER $f JOIN $d " +
      s"ON $f.sk = $d.sk KEY ($f.k, $d.city) COUNT n " +
      s"SUM ($f.amount AS s_amt) MIN ($f.amount AS mn_amt) " +
      s"MAX ($f.amount AS mx_amt) AVG ($f.price AS a_price) " +
      (if (goldOnly) s"WHERE $d.tier = 'gold' " else "") +
      s" LOCATION '$base/mv_$id'")
    (r, f, d, s"mv_$id")
  }

  private def recompute(f: String, d: String, where: String = ""): String =
    s"SELECT $f.k, $d.city, count(*) AS n, sum($f.amount) AS s_amt, " +
      s"min($f.amount) AS mn_amt, max($f.amount) AS mx_amt, " +
      s"avg($f.price) AS a_price FROM $f JOIN $d ON $f.sk = $d.sk " +
      where + s" GROUP BY $f.k, $d.city"

  private def viewState(r: SqlRouter, id: String): Seq[Seq[Any]] =
    rows(ManagedTable.read(spark, r.registered(id)).select("k", "city", "n", "s_amt", "mn_amt",
      "mx_amt", "a_price"))

  test("bootstrap equals the join recompute; spec round-trips the join tree") {
    val (r, f, d, _) = fixture()
    val vName = "v_" + f.stripPrefix("f_")
    assert(viewState(r, vName) == expect(r, recompute(f, d)))
    val shown = r.execute("SHOW MATERIALIZED VIEWS")
      .filter(s"name = '$vName'").collect().head
    assert(shown.getAs[String]("over_table") == s"$f JOIN $d ON $f.sk = $d.sk")
  }

  test("DML on the FACT maintains incrementally == recompute") {
    val (r, f, d, _) = fixture()
    val vName = "v_" + f.stripPrefix("f_")
    r.execute(s"INSERT INTO $f VALUES (9, 0, 50, 1.0), (9, 5, 60, 2.0), " +
      s"(9, 99, 70, 3.0)") // sk=99 has no dim row: must not appear
    assert(viewState(r, vName) == expect(r, recompute(f, d)))
    r.execute(s"DELETE FROM $f WHERE amount < 30")
    assert(viewState(r, vName) == expect(r, recompute(f, d)))
    r.execute(s"UPDATE $f SET amount = amount + 10000 WHERE k = 2")
    assert(viewState(r, vName) == expect(r, recompute(f, d)))
  }

  test("DML on the DIMENSION maintains incrementally == recompute") {
    val (r, f, d, _) = fixture()
    val vName = "v_" + f.stripPrefix("f_")
    // re-labelling a dim attribute MOVES whole groups
    r.execute(s"UPDATE $d SET city = 'porto' WHERE sk = 0")
    assert(viewState(r, vName) == expect(r, recompute(f, d)))
    // deleting a dim row drops every joined fact row from the view
    r.execute(s"DELETE FROM $d WHERE sk = 3")
    assert(viewState(r, vName) == expect(r, recompute(f, d)))
    // a new dim row brings previously-dangling facts in
    r.execute(s"INSERT INTO $d VALUES (3, 'oslo', 'gold')")
    assert(viewState(r, vName) == expect(r, recompute(f, d)))
  }

  test("MIN/MAX delete-repair fires on join views (extremum removed)") {
    val (r, f, d, _) = fixture()
    val vName = "v_" + f.stripPrefix("f_")
    // delete the global max rows — their groups must re-derive extrema
    r.execute(s"DELETE FROM $f WHERE amount >= 590")
    assert(viewState(r, vName) == expect(r, recompute(f, d)))
  }

  test("filtered join view (predicate on a DIM attribute) maintains == recompute") {
    val (r, f, d, _) = fixture(goldOnly = true)
    val vName = "v_" + f.stripPrefix("f_")
    val where = s"WHERE $d.tier = 'gold' "
    assert(viewState(r, vName) == expect(r, recompute(f, d, where)))
    r.execute(s"INSERT INTO $f VALUES (7, 0, 11, 0.5), (7, 1, 13, 0.5)")
    assert(viewState(r, vName) == expect(r, recompute(f, d, where)))
    // a dim row entering/leaving the predicate moves its whole slice
    r.execute(s"UPDATE $d SET tier = 'base' WHERE sk = 0")
    assert(viewState(r, vName) == expect(r, recompute(f, d, where)))
    r.execute(s"UPDATE $d SET tier = 'gold' WHERE sk = 1")
    assert(viewState(r, vName) == expect(r, recompute(f, d, where)))
  }

  test("REFRESH recomputes a join view; sidecar restart resumes maintenance") {
    val id = s"jr${System.nanoTime()}"
    val (f, d) = (s"f_$id", s"d_$id")
    val base = fresh()
    val catRoot = TestSpark.tempDir("graft_mvj_cat").toString
    val r = new SqlRouter(spark, Some(catRoot))
    r.execute(s"CREATE MANAGED TABLE $f (k BIGINT, sk BIGINT, " +
      s"amount BIGINT, price DOUBLE) LOCATION '$base/fact_$id'")
    r.execute(s"CREATE MANAGED TABLE $d (sk BIGINT, city STRING, " +
      s"tier STRING) LOCATION '$base/dim_$id'")
    r.execute(s"INSERT INTO $f SELECT id % 3 AS k, id % 4 AS sk, " +
      s"id AS amount, 0.5 AS price FROM range(100)")
    r.execute(s"INSERT INTO $d SELECT id AS sk, concat('c', id % 2) AS city, " +
      s"'x' AS tier FROM range(4)")
    r.execute(s"CREATE MATERIALIZED VIEW v_$id OVER $f JOIN $d " +
      s"ON $f.sk = $d.sk KEY ($f.k, $d.city) COUNT n " +
      s"SUM ($f.amount AS s_amt) LOCATION '$base/mv_$id'")
    val vName = s"v_$id"
    def state() = rows(ManagedTable.read(spark, r.registered(vName)).select("k", "city", "n", "s_amt"))
    def truth() = expect(r, s"SELECT $f.k, $d.city, count(*) AS n, " +
      s"sum($f.amount) AS s_amt FROM $f JOIN $d ON $f.sk = $d.sk " +
      s"GROUP BY $f.k, $d.city")
    r.execute(s"REFRESH MATERIALIZED VIEW $vName").collect()
    assert(state() == truth())
    // a NEW router over the same catalog re-loads the spec from its
    // sidecar (proves the joins field round-trips) and keeps
    // maintaining — through DML on the DIM side too
    val r2 = new SqlRouter(spark, Some(catRoot))
    val shown = r2.execute("SHOW MATERIALIZED VIEWS")
      .filter(s"name = '$vName'").collect().head
    assert(shown.getAs[String]("over_table") == s"$f JOIN $d ON $f.sk = $d.sk")
    r2.execute(s"INSERT INTO $f VALUES (8, 2, 33, 1.25)")
    assert(state() == truth())
    r2.execute(s"UPDATE $d SET city = 'moved' WHERE sk = 1")
    assert(state() == truth())
  }

  test("rewrite serves the join query from the view — aliased, reordered, rolled up") {
    val (r, f, d, mv) = fixture()
    // exact grain, different aliases than the declaration
    val q1 = s"SELECT a.k, b.city, count(*) AS n, sum(a.amount) AS s, " +
      s"min(a.amount) AS mn, max(a.amount) AS mx, avg(a.price) AS ap " +
      s"FROM $f a JOIN $d b ON a.sk = b.sk GROUP BY a.k, b.city"
    val df1 = r.execute(q1)
    assert(servedBy(df1, mv), scanRoots(df1))
    assert(rows(df1) == expect(r, q1))
    // join order flipped (dim first): same condition set, still served
    val q2 = s"SELECT $f.k, count(*) AS n, sum($f.amount) AS s " +
      s"FROM $d JOIN $f ON $f.sk = $d.sk GROUP BY $f.k"
    val df2 = r.execute(q2)
    assert(servedBy(df2, mv), scanRoots(df2))
    assert(rows(df2) == expect(r, q2))
    // global rollup
    val q3 = s"SELECT count(*) AS n, avg($f.price) AS ap " +
      s"FROM $f JOIN $d ON $f.sk = $d.sk"
    val df3 = r.execute(q3)
    assert(servedBy(df3, mv), scanRoots(df3))
    assert(rows(df3) == expect(r, q3))
    // WHERE on a view key re-applies over the view
    val q4 = s"SELECT $d.city, count(*) AS n FROM $f JOIN $d " +
      s"ON $f.sk = $d.sk WHERE $f.k IN (1, 2) GROUP BY $d.city"
    val df4 = r.execute(q4)
    assert(servedBy(df4, mv), scanRoots(df4))
    assert(rows(df4) == expect(r, q4))
  }

  test("rewrite stays exact across DML on either side") {
    val (r, f, d, mv) = fixture()
    r.execute(s"INSERT INTO $f VALUES (3, 1, 77, 0.75)")
    r.execute(s"UPDATE $d SET city = 'bern' WHERE sk = 2")
    val q = s"SELECT $d.city, sum($f.amount) AS s, count(*) AS n " +
      s"FROM $f JOIN $d ON $f.sk = $d.sk GROUP BY $d.city"
    val df = r.execute(q)
    assert(servedBy(df, mv), scanRoots(df))
    assert(rows(df) == expect(r, q))
  }

  test("refusal shapes scan the base join, never a wrong serve") {
    val (r, f, d, _) = fixture()
    Seq(
      // extra non-key conjunct (dim attribute)
      s"SELECT $f.k, count(*) AS n FROM $f JOIN $d ON $f.sk = $d.sk " +
        s"WHERE $d.tier = 'gold' GROUP BY $f.k",
      // missing the view's join conjunct (cartesian-ish different cond)
      s"SELECT $f.k, count(*) AS n FROM $f JOIN $d ON $f.k = $d.sk " +
        s"GROUP BY $f.k",
      // grouping by a non-key column
      s"SELECT $d.tier, count(*) AS n FROM $f JOIN $d ON $f.sk = $d.sk " +
        s"GROUP BY $d.tier",
      // left outer join: not the view's semantics
      s"SELECT $f.k, count(*) AS n FROM $f LEFT JOIN $d ON $f.sk = $d.sk " +
        s"GROUP BY $f.k",
      // DISTINCT aggregate
      s"SELECT $f.k, count(DISTINCT $f.amount) AS n FROM $f JOIN $d " +
        s"ON $f.sk = $d.sk GROUP BY $f.k"
    ).foreach { q =>
      val df = r.execute(q)
      assert(servedBy(df, "fact_") || servedBy(df, "dim_") ||
        scanRoots(df).exists(p => p.contains("fact_") || p.contains("dim_")),
        s"$q -> ${scanRoots(df)}")
      assert(!scanRoots(df).exists(_.contains("mv_")), q)
      assert(rows(df) == expect(r, q), q)
    }
  }

  test("grouping by the SAME-NAMED column of the WRONG table refuses") {
    val (r, f, d, _) = fixture()
    // view key is f.k; group by d.sk aliased AS k would be caught by
    // name-based matching only if identity-aware — both tables have sk
    val q = s"SELECT $d.sk, count(*) AS n FROM $f JOIN $d " +
      s"ON $f.sk = $d.sk GROUP BY $d.sk"
    val df = r.execute(q)
    assert(!scanRoots(df).exists(_.contains("mv_")), scanRoots(df))
    assert(rows(df) == expect(r, q))
  }

  test("schema evolution refuses on columns any MEMBER contributes to the view") {
    val (r, f, d, _) = fixture()
    // the dim's join key and key attribute are both load-bearing
    val e1 = intercept[Exception](
      r.execute(s"ALTER TABLE $d RENAME COLUMN city TO town"))
    assert(e1.getMessage.contains("materialized view"), e1.getMessage)
    val e2 = intercept[Exception](
      r.execute(s"ALTER TABLE $d DROP COLUMN sk"))
    assert(e2.getMessage.contains("materialized view"), e2.getMessage)
    // an UNREFERENCED dim column stays evolvable
    r.execute(s"ALTER TABLE $d RENAME COLUMN tier TO grade")
    r.execute(s"ALTER TABLE $d RENAME COLUMN grade TO tier")
  }

  test("DROP TABLE refuses while a join view reads the table — either member") {
    val (r, f, d, _) = fixture()
    Seq(f, d).foreach { m =>
      val e = intercept[Exception](r.execute(s"DROP MANAGED TABLE $m"))
      assert(e.getMessage.contains("dependent materialized view"), e.getMessage)
    }
  }

  test("self-join declarations are refused at CREATE") {
    val r = new SqlRouter(spark)
    val id = s"sj${System.nanoTime()}"
    val base = fresh()
    r.execute(s"CREATE MANAGED TABLE t_$id (k BIGINT, v BIGINT) " +
      s"LOCATION '$base/t'")
    val e = intercept[Exception](r.execute(
      s"CREATE MATERIALIZED VIEW sv_$id OVER t_$id JOIN t_$id " +
        s"ON t_$id.k = t_$id.k KEY (t_$id.k) COUNT n LOCATION '$base/v'"))
    assert(e.getMessage.contains("repeats a table"), e.getMessage)
  }
}
