package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.server.SqlRouter

/** Materialized-view query rewrite (server.MvRewrite): an aggregate
  * over the base table in the view's exact shape is served as a
  * PROJECTION of the view; a coarser grouping (subset of the keys,
  * including the global aggregate) re-aggregates OVER the view. Every
  * rewrite must return exactly what the base recompute returns — these
  * tests pin both the substitution (plan scans the view's files, not
  * the base's) and that equality, across the DML the view is
  * maintained through.
  */
class MvRewriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fresh() = TestSpark.tempDir("graft_mvr").toString

  /** Managed roots scanned by the plan — which table actually serves
    * the query. */
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

  /** sales(k BIGINT, region STRING, amount BIGINT, price DOUBLE) with
    * an MV grouped by (k, region) maintaining COUNT/SUM/MIN/MAX/AVG. */
  private def fixture(): (SqlRouter, String, String) = {
    val r = new SqlRouter(spark)
    val id = s"s${System.nanoTime()}"
    val base = fresh()
    r.execute(s"CREATE MANAGED TABLE $id (k BIGINT, region STRING, " +
      s"amount BIGINT, price DOUBLE) LOCATION '$base/base_$id'")
    r.execute(s"INSERT INTO $id SELECT id % 5 AS k, " +
      s"CASE WHEN id % 2 = 0 THEN 'east' ELSE 'west' END AS region, " +
      s"id AS amount, (id % 8) * 0.25 AS price FROM range(1000)")
    r.execute(s"CREATE MATERIALIZED VIEW v_$id OVER $id KEY (k, region) " +
      s"COUNT n SUM (amount AS s_amt) MIN (amount AS mn_amt) " +
      s"MAX (amount AS mx_amt) AVG (price AS a_price) " +
      s"LOCATION '$base/mv_$id'")
    (r, id, s"mv_$id")
  }

  /** The ground truth: recompute on the base table directly (never
    * routed, never rewritten). */
  private def expect(r: SqlRouter, sql: String): Seq[Seq[Any]] =
    TestSpark.recompute(r, sql).collect().map(_.toSeq.toSeq).toSeq.sortBy(_.mkString("|"))

  private def got(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toSeq).toSeq.sortBy(_.mkString("|"))

  test("exact-shape aggregate is served from the view, values identical") {
    val (r, t, mv) = fixture()
    val q = s"SELECT k, region, count(*) AS n, sum(amount) AS s, " +
      s"min(amount) AS mn, max(amount) AS mx, avg(price) AS ap " +
      s"FROM $t GROUP BY k, region"
    val df = r.execute(q)
    assert(servedBy(df, mv), scanRoots(df))
    assert(got(df) == expect(r, q))
    assert(df.columns.toSeq == Seq("k", "region", "n", "s", "mn", "mx", "ap"))
  }

  test("rollup to a key subset re-aggregates over the view") {
    val (r, t, mv) = fixture()
    val q = s"SELECT region, count(*) AS n, sum(amount) AS s, " +
      s"min(amount) AS mn, max(amount) AS mx, avg(price) AS ap " +
      s"FROM $t GROUP BY region"
    val df = r.execute(q)
    assert(servedBy(df, mv), scanRoots(df))
    assert(got(df) == expect(r, q))
  }

  test("global aggregate (no GROUP BY) rolls up from the view") {
    val (r, t, mv) = fixture()
    val q = s"SELECT count(*) AS n, sum(amount) AS s, avg(price) AS ap FROM $t"
    val df = r.execute(q)
    assert(servedBy(df, mv), scanRoots(df))
    assert(got(df) == expect(r, q))
  }

  test("HAVING and ORDER BY above the rewritten aggregate still resolve") {
    val (r, t, mv) = fixture()
    val q = s"SELECT k, count(*) AS n FROM $t GROUP BY k, region " +
      s"HAVING count(*) > 90 ORDER BY n DESC, k"
    val df = r.execute(q)
    assert(servedBy(df, mv), scanRoots(df))
    assert(df.collect().map(_.toSeq.toSeq).toSeq ==
      TestSpark.recompute(r, q).collect().map(_.toSeq.toSeq).toSeq) // order preserved
  }

  test("rewrite tracks DML through incremental maintenance") {
    val (r, t, mv) = fixture()
    r.execute(s"INSERT INTO $t VALUES (99, 'north', 7, 1.5), (99, 'north', 3, 2.5)")
    r.execute(s"DELETE FROM $t WHERE amount < 10 AND region = 'east'")
    r.execute(s"UPDATE $t SET amount = amount + 1000 WHERE k = 2 AND region = 'west'")
    val q = s"SELECT k, region, count(*) AS n, sum(amount) AS s, " +
      s"max(amount) AS mx FROM $t GROUP BY k, region"
    val df = r.execute(q)
    assert(servedBy(df, mv), scanRoots(df))
    assert(got(df) == expect(r, q))
  }

  test("shapes the view cannot serve pass through to the base") {
    val (r, t, _) = fixture()
    // WHERE on the base, wrong keys, DISTINCT agg, count(col),
    // unregistered column
    Seq(
      s"SELECT k, count(*) AS n FROM $t WHERE amount > 10 GROUP BY k, region",
      s"SELECT amount, count(*) AS n FROM $t GROUP BY amount",
      s"SELECT k, region, count(DISTINCT amount) AS n FROM $t GROUP BY k, region",
      s"SELECT k, region, count(price) AS n FROM $t GROUP BY k, region",
      s"SELECT k, region, sum(price) AS s FROM $t GROUP BY k, region",
    ).foreach { q =>
      val df = r.execute(q)
      assert(servedBy(df, s"base_"), s"$q -> ${scanRoots(df)}")
      assert(got(df) == expect(r, q), q)
    }
  }

  test("aliased scan of a DIFFERENT table under the base's name never rewrites") {
    val (r, t, _) = fixture()
    val other = s"o${System.nanoTime()}"
    r.execute(s"CREATE MANAGED TABLE $other (k BIGINT, region STRING, " +
      s"amount BIGINT, price DOUBLE) LOCATION '${fresh()}/$other'")
    r.execute(s"INSERT INTO $other VALUES (1, 'east', 5, 0.5)")
    val q = s"SELECT k, region, count(*) AS n FROM $other AS $t GROUP BY k, region"
    val df = r.execute(q)
    assert(got(df) == Seq(Seq(1L, "east", 1L)))
    // nor does a CTE of the base's name
    val cte = r.execute(s"WITH $t AS (SELECT * FROM $other) " +
      s"SELECT k, region, count(*) AS n FROM $t GROUP BY k, region")
    assert(got(cte) == Seq(Seq(1L, "east", 1L)))
    // nor the base at an older version: the view holds the current one
    r.execute(s"INSERT INTO $t VALUES (1, 'east', 5000, 0.5)")
    val old = r.execute(s"SELECT k, region, count(*) AS n FROM $t VERSION AS OF 1 " +
      "GROUP BY k, region")
    assert(servedBy(old, "base_"), scanRoots(old))
    assert(got(old) == got(r.execute(
      s"SELECT k, region, count(*) AS n FROM $t WHERE amount < 1000 GROUP BY k, region")))
  }

  test("empty base passes through untouched (empty reads are not file scans)") {
    val r = new SqlRouter(spark)
    val id = s"e${System.nanoTime()}"
    val base = fresh()
    r.execute(s"CREATE MANAGED TABLE $id (k BIGINT, x BIGINT) " +
      s"LOCATION '$base/base_$id'")
    r.execute(s"CREATE MATERIALIZED VIEW v_$id OVER $id KEY (k) " +
      s"COUNT n SUM (x AS sx) LOCATION '$base/mv_$id'")
    // a zero-row managed read plans as a LogicalRDD leaf, so the
    // rewrite's relation check refuses — the stock plan must still
    // give the SQL global-aggregate-on-empty answer
    val df = r.execute(s"SELECT count(*) AS n, sum(x) AS s FROM $id")
    assert(got(df) == Seq(Seq(0L, null)))
  }

  test("EXPLAIN shows the plan the router would actually run (post-rewrite)") {
    val (r, t, mv) = fixture()
    val plan = r.execute(s"EXPLAIN SELECT k, region, count(*) AS n " +
      s"FROM $t GROUP BY k, region").collect().head.getString(0)
    assert(plan.contains(mv), plan) // the view's files, not the base's
    assert(!plan.contains(s"base_"), plan)
    // a non-rewritable shape explains as the base scan
    val plain = r.execute(s"EXPLAIN SELECT k, count(*) AS n FROM $t " +
      s"WHERE amount > 3 GROUP BY k, region").collect().head.getString(0)
    assert(plain.contains("base_"), plain)
  }

  test("key-only subset query becomes a distinct over the view") {
    val (r, t, mv) = fixture()
    val q = s"SELECT k FROM $t GROUP BY k"
    val df = r.execute(q)
    assert(servedBy(df, mv), scanRoots(df))
    assert(got(df) == expect(r, q))
  }

  test("WHERE on view keys is served from the view — equality, IN, range, both grains") {
    val (r, t, mv) = fixture()
    Seq(
      // the dashboard shape: filter + exact grain
      s"SELECT k, region, count(*) AS n, sum(amount) AS s, avg(price) AS ap " +
        s"FROM $t WHERE region = 'east' GROUP BY k, region",
      // IN on a key
      s"SELECT k, region, count(*) AS n FROM $t WHERE k IN (1, 3) GROUP BY k, region",
      // range on a key
      s"SELECT k, region, max(amount) AS mx FROM $t WHERE k >= 2 GROUP BY k, region",
      // filter on a NON-GROUPED key at rollup grain (selects whole
      // groups, so still exact)
      s"SELECT k, count(*) AS n, sum(amount) AS s FROM $t " +
        s"WHERE region = 'west' GROUP BY k",
      // compound key-only predicate + global rollup
      s"SELECT count(*) AS n, min(amount) AS mn FROM $t " +
        s"WHERE k BETWEEN 1 AND 3 AND region <> 'north'",
      // filter matching nothing: zero groups (grouped) ...
      s"SELECT k, count(*) AS n FROM $t WHERE k = 77 GROUP BY k",
      // ... and the one-row global-aggregate-on-empty answer
      s"SELECT count(*) AS n, sum(amount) AS s, avg(price) AS ap " +
        s"FROM $t WHERE k = 77",
    ).foreach { q =>
      val df = r.execute(q)
      assert(servedBy(df, mv), s"$q -> ${scanRoots(df)}")
      assert(got(df) == expect(r, q), q)
    }
  }

  test("WHERE touching any non-key column still refuses the rewrite") {
    val (r, t, _) = fixture()
    Seq(
      s"SELECT k, count(*) AS n FROM $t WHERE amount > 10 GROUP BY k",
      s"SELECT k, count(*) AS n FROM $t WHERE region = 'east' AND price > 0 GROUP BY k",
      // non-deterministic key predicate must not be re-evaluated over the view
      s"SELECT k, count(*) AS n FROM $t WHERE k = CAST(rand() * 0 AS BIGINT) GROUP BY k",
    ).foreach { q =>
      val df = r.execute(q)
      assert(servedBy(df, s"base_"), s"$q -> ${scanRoots(df)}")
    }
  }

  test("WHERE-on-keys rewrite stays exact across DML maintenance") {
    val (r, t, mv) = fixture()
    r.execute(s"INSERT INTO $t VALUES (2, 'east', 7, 1.5), (7, 'north', 3, 2.5)")
    r.execute(s"DELETE FROM $t WHERE k = 2 AND amount < 100")
    r.execute(s"UPDATE $t SET amount = amount + 10 WHERE region = 'west'")
    val q = s"SELECT k, region, count(*) AS n, sum(amount) AS s " +
      s"FROM $t WHERE region IN ('east', 'north') GROUP BY k, region"
    val df = r.execute(q)
    assert(servedBy(df, mv), scanRoots(df))
    assert(got(df) == expect(r, q))
  }

  /** sales table plus a FILTERED view over `region = 'east' AND
    * amount >= 100` — the "dashboard over a fixed slice" shape. */
  private def filteredFixture(): (SqlRouter, String, String) = {
    val r = new SqlRouter(spark)
    val id = s"fw${System.nanoTime()}"
    val base = fresh()
    r.execute(s"CREATE MANAGED TABLE $id (k BIGINT, region STRING, " +
      s"amount BIGINT, price DOUBLE) LOCATION '$base/base_$id'")
    r.execute(s"INSERT INTO $id SELECT id % 5 AS k, " +
      s"CASE WHEN id % 2 = 0 THEN 'east' ELSE 'west' END AS region, " +
      s"id AS amount, (id % 8) * 0.25 AS price FROM range(1000)")
    r.execute(s"CREATE MATERIALIZED VIEW v_$id OVER $id KEY (k) " +
      s"COUNT n SUM (amount AS s_amt) MIN (amount AS mn_amt) " +
      s"WHERE region = 'east' AND amount >= 100 " +
      s"LOCATION '$base/mv_$id'")
    (r, id, s"mv_$id")
  }

  test("filtered view: bootstrap equals a filtered recompute; spec round-trips the predicate") {
    val (r, t, mv) = filteredFixture()
    val viewRows = r.execute(s"SELECT k, n, s_amt FROM v_$t ORDER BY k")
    val truth = expect(r, s"SELECT k, count(*) AS n, sum(amount) AS s_amt FROM $t " +
      "WHERE region = 'east' AND amount >= 100 GROUP BY k ORDER BY k")
    assert(got(viewRows) == truth)
    val shown = r.execute("SHOW MATERIALIZED VIEWS").collect()
      .find(_.getString(0) == s"v_$t").get
    assert(shown.getAs[String]("where_pred").contains("region = 'east'"), shown)
    assert(mv.nonEmpty) // silence unused warning patterns
  }

  test("filtered view serves queries whose WHERE implies the view predicate") {
    val (r, t, mv) = filteredFixture()
    // exact predicate match, exact grain
    val q1 = s"SELECT k, count(*) AS n, sum(amount) AS s FROM $t " +
      "WHERE region = 'east' AND amount >= 100 GROUP BY k"
    val df1 = r.execute(q1)
    assert(servedBy(df1, mv), scanRoots(df1))
    assert(got(df1) == expect(r, q1))
    // conjuncts in the OTHER order still match (set matching)
    val q2 = s"SELECT k, count(*) AS n FROM $t " +
      "WHERE amount >= 100 AND region = 'east' GROUP BY k"
    val df2 = r.execute(q2)
    assert(servedBy(df2, mv), scanRoots(df2))
    assert(got(df2) == expect(r, q2))
    // extra KEY-ONLY conjuncts ride along over the view
    val q3 = s"SELECT k, sum(amount) AS s FROM $t " +
      "WHERE region = 'east' AND amount >= 100 AND k IN (1, 3) GROUP BY k"
    val df3 = r.execute(q3)
    assert(servedBy(df3, mv), scanRoots(df3))
    assert(got(df3) == expect(r, q3))
    // rollup grain (global aggregate) under the matching predicate
    val q4 = s"SELECT count(*) AS n, min(amount) AS mn FROM $t " +
      "WHERE region = 'east' AND amount >= 100"
    val df4 = r.execute(q4)
    assert(servedBy(df4, mv), scanRoots(df4))
    assert(got(df4) == expect(r, q4))
  }

  test("filtered view refuses queries that do NOT imply its predicate") {
    val (r, t, mv) = filteredFixture()
    // no WHERE at all: the view holds a strict subset — must refuse
    val q1 = s"SELECT k, count(*) AS n FROM $t GROUP BY k"
    val df1 = r.execute(q1)
    assert(!servedBy(df1, mv), scanRoots(df1))
    assert(got(df1) == expect(r, q1))
    // only half the view predicate
    val q2 = s"SELECT k, count(*) AS n FROM $t WHERE region = 'east' GROUP BY k"
    val df2 = r.execute(q2)
    assert(!servedBy(df2, mv), scanRoots(df2))
    assert(got(df2) == expect(r, q2))
    // a DIFFERENT predicate on the same columns
    val q3 = s"SELECT k, count(*) AS n FROM $t " +
      "WHERE region = 'west' AND amount >= 100 GROUP BY k"
    val df3 = r.execute(q3)
    assert(!servedBy(df3, mv), scanRoots(df3))
    assert(got(df3) == expect(r, q3))
  }

  test("filtered view maintains exactly across DML, incl. rows entering/leaving the predicate") {
    val (r, t, mv) = filteredFixture()
    // rows ENTER the predicate (amount crosses 100 upward; region flips
    // to east) and LEAVE it (delete easts; amount drops below 100)
    r.execute(s"UPDATE $t SET amount = amount + 95 WHERE k = 1 AND amount < 20")
    r.execute(s"UPDATE $t SET region = 'east' WHERE k = 3 AND region = 'west' AND amount BETWEEN 200 AND 300")
    r.execute(s"UPDATE $t SET amount = amount - 150 WHERE k = 2 AND region = 'east' AND amount BETWEEN 100 AND 160")
    r.execute(s"DELETE FROM $t WHERE region = 'east' AND amount BETWEEN 400 AND 500")
    r.execute(s"INSERT INTO $t VALUES (9, 'east', 250, 1.0), (9, 'west', 999, 2.0), (9, 'east', 50, 3.0)")
    // the maintained view equals a cold filtered recompute
    val viewRows = got(r.execute(s"SELECT k, n, s_amt, mn_amt FROM v_$t"))
    val truth = expect(r, s"SELECT k, count(*) AS n, sum(amount) AS s_amt, " +
      s"min(amount) AS mn_amt FROM $t WHERE region = 'east' AND amount >= 100 GROUP BY k")
    assert(viewRows == truth)
    // and the rewrite still serves, exactly
    val q = s"SELECT k, count(*) AS n, sum(amount) AS s FROM $t " +
      "WHERE region = 'east' AND amount >= 100 GROUP BY k"
    val df = r.execute(q)
    assert(servedBy(df, mv), scanRoots(df))
    assert(got(df) == expect(r, q))
    // the persisted spec round-trips the predicate (restart path):
    // the sidecar text carries the WHERE clause verbatim
    val sidecar = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(r.registered(s"v_$t"), "_graft_mv.json")), "UTF-8")
    assert(sidecar.contains("region = 'east'"), sidecar)
  }
}
