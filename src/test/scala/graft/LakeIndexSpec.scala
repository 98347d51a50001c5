package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.server.SqlRouter

/** The round-10 features COMPOSED end-to-end — the same discipline as
  * CurationLoopSpec for round 9: each feature has its own suite; this
  * one proves they hold together under one workload, with the
  * invariants asserted SIMULTANEOUSLY after every phase:
  *
  *   1. an unclustered ingest stream gets a BLOOM INDEX — point
  *      lookups plan a near-single-file scan and stay row-identical
  *      to the unpruned answer;
  *   2. a FILTERED materialized view maintains over the same table —
  *      the dashboard SELECT carrying the view's predicate is served
  *      from the view and equals a cold filtered recompute, through
  *      DML that moves rows across the predicate boundary;
  *   3. a TYPE WIDENING of the bloom-indexed KEY column lands
  *      mid-stream — old and new files coexist, the follower mirrors
  *      the widening through SYNC, and the index keeps pruning
  *      (integral canonical keys are widening-stable); a widening of
  *      an MV-read column is refused by design (also asserted);
  *   4. `IS NOT NULL` cleaning scans prune all-null files via the v2
  *      null counts.
  */
class LakeIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fresh() = TestSpark.tempDir("graft_lake").toString

  private def planned(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.size
        case _ => 0
      }
    }.sum

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toSeq).toSeq.sortBy(_.mkString("|"))

  test("bloom index + filtered MV + widening + null skipping hold together") {
    val r = new SqlRouter(spark)
    val id = s"lk${System.nanoTime()}"
    val (t, mv, fw) = (id, s"${id}_v", s"${id}_f")
    val base = fresh()
    r.execute(s"CREATE MANAGED TABLE $t (doc_id INT, tag STRING, " +
      s"score INT, note STRING) LOCATION '$base/$t'")
    // unclustered ingest: 6 single-file waves with interleaved doc_ids,
    // notes null except the first wave (null-skipping's food)
    (0 until 6).foreach { j =>
      r.execute(s"INSERT INTO $t SELECT /*+ COALESCE(1) */ CAST(id * 6 + $j AS INT) AS doc_id, " +
        s"concat('t', (id * 6 + $j) % 500) AS tag, " +
        s"CAST((id * 6 + $j) % 300 AS INT) AS score, " +
        s"${if (j == 0) "concat('n', id)" else "CAST(NULL AS STRING)"} AS note " +
        s"FROM range(400)")
    }
    r.execute(s"CREATE BLOOM INDEX ON $t (doc_id, tag)")
    r.execute(s"CREATE MATERIALIZED VIEW $mv OVER $t KEY (tag) " +
      s"COUNT n SUM (score AS s_score) WHERE score >= 200 LOCATION '$base/$mv'")
    r.execute(s"SYNC TABLE $fw FROM $t KEY (doc_id) LOCATION '$base/$fw'")

    def dashboards(): Unit = {
      // (2) the dashboard SELECT is served FROM THE VIEW and equals a
      // cold filtered recompute on the base
      val q = s"SELECT tag, count(*) AS n, sum(score) AS s FROM $t " +
        "WHERE score >= 200 GROUP BY tag"
      val df = r.execute(q)
      val roots = df.queryExecution.analyzed.collect {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.head.toString
          case _ => "?"
        }
      }
      assert(roots.nonEmpty && roots.forall(_.contains(mv)), roots)
      assert(rows(df) == rows(TestSpark.recompute(r, q)))
    }
    def pointLookups(expectFiles: Int): Unit = {
      // (1) bloom-pruned point lookups: near-single-file plans, exact rows
      Seq(7L, 1234L, 2399L).foreach { k =>
        val df = r.execute(s"SELECT tag FROM $t WHERE doc_id = $k")
        assert(planned(df) <= expectFiles, s"doc_id=$k planned ${planned(df)}")
        graft.sources.FileSkip.disabled = true
        val expect = try rows(r.execute(s"SELECT tag FROM $t WHERE doc_id = $k"))
        finally graft.sources.FileSkip.disabled = false
        assert(rows(df) == expect, s"doc_id=$k")
      }
    }
    def followerMatches(): Unit = {
      r.execute(s"SYNC TABLE $fw FROM $t KEY (doc_id)")
      assert(rows(r.execute(s"SELECT * FROM $fw")) ==
        rows(r.execute(s"SELECT * FROM $t")))
    }

    dashboards(); pointLookups(3); followerMatches()

    // (4) the cleaning scan prunes the five all-null-note files
    val clean = r.execute(s"SELECT count(*) AS n FROM $t WHERE note IS NOT NULL")
    assert(planned(clean) <= 2, clean.queryExecution.optimizedPlan)
    assert(clean.collect().head.getLong(0) == 400L)

    // (3) widening of an MV-read column REFUSES by design...
    val refuse = intercept[IllegalArgumentException](
      r.execute(s"ALTER TABLE $t ALTER COLUMN score TYPE BIGINT"))
    assert(refuse.getMessage.contains("materialized view"), refuse.getMessage)
    // ...while the bloom-indexed KEY column widens mid-stream, and
    // rows cross the MV predicate both ways under further DML
    r.execute(s"ALTER TABLE $t ALTER COLUMN doc_id TYPE BIGINT")
    r.execute(s"UPDATE $t SET score = score + 150 WHERE doc_id % 10 = 3 AND score < 100")
    r.execute(s"UPDATE $t SET score = score - 150 WHERE doc_id % 10 = 6 AND score >= 230")
    r.execute(s"INSERT INTO $t VALUES (5000000001, 't3', 250, 'big'), " +
      s"(100002, 't4', 10, CAST(NULL AS STRING))")
    r.execute(s"DELETE FROM $t WHERE score >= 290 AND doc_id < 600")

    dashboards(); followerMatches()
    // the follower carries the widened type and the wide key
    assert(r.execute(s"SHOW SCHEMA FOR $fw").collect()
      .find(_.getString(0) == "doc_id").get.getString(1) == "bigint")
    assert(r.execute(s"SELECT tag FROM $fw WHERE doc_id = 5000000001")
      .collect().head.getString(0) == "t3")
    // bloom keeps pruning across the widening + mutations (new files
    // harvested per commit; integral keys widen canonically)
    pointLookups(5)
    val hit = r.execute(s"SELECT tag FROM $t WHERE doc_id = 5000000001")
    assert(rows(hit) == Seq(Seq("t3")))
  }

  /** The round-11 features composed: a JOIN materialized view over an
    * event-time fact whose TIMESTAMP column carries a bloom index
    * (segment-sharded sidecars), while repeated ingest + ANALYZE
    * INCREMENTAL cycles run the histogram drift budget to its
    * self-escalation — with the dashboard (served from the join view,
    * equal to the cold join recompute) and the event-time point
    * lookup (pruned, row-identical) asserted after every phase. */
  test("join view + timestamp bloom + drift-budgeted ANALYZE hold together") {
    val r = new SqlRouter(spark)
    val id = s"lj${System.nanoTime()}"
    val (t, d, jv) = (s"${id}_f", s"${id}_d", s"${id}_v")
    val base = fresh()
    r.execute(s"CREATE MANAGED TABLE $t (ts TIMESTAMP, sk BIGINT, " +
      s"amt DOUBLE) LOCATION '$base/$t'")
    r.execute(s"CREATE MANAGED TABLE $d (sk BIGINT, grp STRING) " +
      s"LOCATION '$base/$d'")
    r.execute(s"INSERT INTO $d SELECT id AS sk, concat('g', id % 7) AS grp " +
      s"FROM range(40)")
    def wave(w: Int): Unit =
      r.execute(s"INSERT INTO $t SELECT /*+ COALESCE(1) */ " +
        s"timestamp_micros(1700000000000000 + (id * 8 + $w) * 60000000) AS ts, " +
        s"(id * 8 + $w) % 40 AS sk, CAST((id * 8 + $w) % 97 AS DOUBLE) AS amt " +
        s"FROM range(300)")
    (0 until 4).foreach(wave)
    r.execute(s"CREATE BLOOM INDEX ON $t (ts)")
    r.execute(s"CREATE MATERIALIZED VIEW $jv OVER $t JOIN $d " +
      s"ON $t.sk = $d.sk KEY ($d.grp) COUNT n SUM ($t.amt AS s_amt) " +
      s"LOCATION '$base/$jv'")
    r.execute(s"ANALYZE TABLE $t")

    def dashboard(): Unit = {
      val q = s"SELECT $d.grp, count(*) AS n, sum($t.amt) AS s " +
        s"FROM $t JOIN $d ON $t.sk = $d.sk GROUP BY $d.grp"
      val df = r.execute(q)
      val roots = df.queryExecution.analyzed.collect {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.head.toString
          case _ => "?"
        }
      }
      assert(roots.nonEmpty && roots.forall(_.contains(jv)), roots)
      assert(rows(df) == rows(TestSpark.recompute(r, q)))
    }
    def tsLookup(expectFiles: Int): Unit = {
      val point = s"timestamp_micros(${1700000000000000L + 1001L * 60000000L})"
      val df = r.execute(s"SELECT sk FROM $t WHERE ts = $point")
      assert(planned(df) <= expectFiles, s"planned ${planned(df)}")
      graft.sources.FileSkip.disabled = true
      val expect = try rows(r.execute(s"SELECT sk FROM $t WHERE ts = $point"))
      finally graft.sources.FileSkip.disabled = false
      assert(rows(df) == expect && expect.nonEmpty)
    }
    dashboard(); tsLookup(2)

    // ingest + INCREMENTAL cycles until the drift budget escalates;
    // the join view maintains through every wave
    var sawEscalation = false
    var w = 4
    while (!sawEscalation &&
        w < 4 + graft.sources.TableStatistics.MaxHistMerges + 2) {
      wave(w); w += 1
      val mode = r.execute(s"ANALYZE TABLE $t INCREMENTAL")
        .collect().head.getAs[String]("mode")
      if (mode.startsWith("full_drift")) sawEscalation = true
      else assert(mode == "merged", mode)
      dashboard()
    }
    assert(sawEscalation, s"no escalation after ${w - 4} cycles")
    val st = graft.sources.TableStatistics.get(s"$base/$t").get
    assert(st.histMerges == 0 && st.cols.values.forall(!_.histMerged))

    // a dim relabel moves whole groups; everything still holds
    r.execute(s"UPDATE $d SET grp = 'moved' WHERE sk IN (3, 17)")
    dashboard(); tsLookup(3)
  }
}
