package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.funsuite.AnyFunSuite
import graft.server.QueryServer

/** The round-8/9 surface composed END-TO-END through one real socket:
  * HTTP ingest → write-time constraints (QUARANTINE divert) → live
  * materialized-view maintenance → MV query rewrite (incl. WHERE on
  * keys) → ChangeFeed follower SYNC — then a mixed workload, after
  * which the composed invariants must hold simultaneously:
  *   1. the MV answers every grain EXACTLY as a base recompute;
  *   2. the follower equals the upstream content row-for-row;
  *   3. the quarantine holds exactly the violating rows, the table
  *      exactly the clean ones.
  * Each feature has its own spec; this one pins that they compose —
  * the demo main (examples.CurationLoop) walks the same story for a
  * human reader.
  */
class CurationLoopSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val engine = new Graft(spark, TestSpark.sf0001)
  private lazy val server = {
    val s = new QueryServer(engine, port = 0)
    s.start(); s
  }
  private lazy val base = s"http://127.0.0.1:${server.boundPort}"
  private val client = HttpClient.newHttpClient()

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def sql(stmt: String): HttpResponse[String] = post("/query", stmt)

  test("ingest -> quarantine -> MV rewrite -> follower: the loop holds together") {
    val dir = TestSpark.tempDir("graft_loop").toString
    val t = "loop_docs"

    // 1. a constrained corpus table, violations diverted not refused
    assert(sql(s"CREATE MANAGED TABLE $t (doc_id BIGINT, lang STRING, " +
      s"score DOUBLE, PRIMARY KEY (doc_id), NOT NULL (lang), " +
      s"CHECK (score >= 0)) LOCATION '$dir/$t' " +
      "ON VIOLATION QUARANTINE").statusCode() == 200)

    // 2. a live per-language dashboard view over it
    assert(sql(s"CREATE MATERIALIZED VIEW ${t}_mv OVER $t KEY (lang) " +
      s"COUNT n SUM (score AS s_score) LOCATION '$dir/${t}_mv'")
      .statusCode() == 200)

    // 3. HTTP ingest: 8 clean rows + a NULL lang + a negative score
    val r1 = post(s"/ingest/$t",
      """{"columns":["doc_id","lang","score"],"keys":["doc_id"],
        |"rows":[[1,"en",0.9],[2,"en",0.5],[3,"de",0.7],[4,"de",0.2],
        |[5,"fr",0.8],[6,"en",0.4],[7,"fr",0.6],[8,"de",0.3],
        |[9,null,0.5],[10,"en",-1.0]]}""".stripMargin)
    assert(r1.statusCode() == 200, r1.body())

    // 4. bootstrap a follower, then keep mutating upstream
    assert(sql(s"SYNC TABLE ${t}_copy FROM $t KEY (doc_id) " +
      s"LOCATION '$dir/${t}_copy'").statusCode() == 200)
    assert(sql(s"UPDATE $t SET score = score + 1.0 WHERE lang = 'de'")
      .statusCode() == 200)
    assert(sql(s"DELETE FROM $t WHERE doc_id = 6").statusCode() == 200)
    // replayed ingest of doc 1 (same key, new score) = upsert
    assert(post(s"/ingest/$t",
      """{"columns":["doc_id","lang","score"],"keys":["doc_id"],
        |"rows":[[1,"en",0.95],[11,"es",0.65]]}""".stripMargin)
      .statusCode() == 200)
    assert(sql(s"SYNC TABLE ${t}_copy FROM $t KEY (doc_id)").statusCode() == 200)

    // --- invariant 1: the MV answers exactly like a recompute, at
    // every grain, including the new WHERE-on-keys dashboard shape ---
    def rows(stmt: String): String = {
      val r = sql(stmt)
      assert(r.statusCode() == 200, s"$stmt -> ${r.body()}")
      r.body()
    }
    val grains = Seq(
      s"SELECT lang, count(*) AS n, sum(score) AS s FROM $t GROUP BY lang ORDER BY lang",
      s"SELECT count(*) AS n, sum(score) AS s FROM $t",
      s"SELECT lang, count(*) AS n FROM $t WHERE lang = 'de' GROUP BY lang",
      s"SELECT count(*) AS n, sum(score) AS s FROM $t WHERE lang IN ('en','es')")
    // the engine's own router is a second router over the session: it
    // attaches the table (not its view), so it reads the base
    engine.sql(s"OPEN MANAGED TABLE $t LOCATION '$dir/$t'")
    grains.foreach { q =>
      // the server serves q (from the MV where the shape matches); the
      // ground truth recomputes on the table files directly, bypassing
      // both routers and the rewrite
      assert(rows(q).contains("\"rows\""))
      graft.sources.ManagedTable.read(spark, s"$dir/$t")
        .createOrReplaceTempView(s"${t}_truth")
      val expect = spark.sql(q.replace(s"FROM $t", s"FROM ${t}_truth")).collect()
        .map(_.toSeq.toSeq).sortBy(_.mkString("|")).toSeq
      val served = engine.sql(q).collect()
        .map(_.toSeq.toSeq).sortBy(_.mkString("|")).toSeq
      assert(served == expect, s"$q served=$served expect=$expect")
    }
    // and the dashboard query's EXPLAIN shows it is served by the VIEW
    val plan = rows(s"EXPLAIN SELECT lang, count(*) AS n FROM $t " +
      s"WHERE lang = 'de' GROUP BY lang")
    assert(plan.contains(s"${t}_mv"), plan.take(500))

    // --- invariant 2: the follower equals the upstream, row for row ---
    val up = graft.sources.ManagedTable.read(spark, s"$dir/$t")
      .collect().map(_.toSeq.toSeq).sortBy(_.mkString("|")).toSeq
    val down = graft.sources.ManagedTable.read(spark, s"$dir/${t}_copy")
      .collect().map(_.toSeq.toSeq).sortBy(_.mkString("|")).toSeq
    assert(down == up, s"follower diverged: up=${up.size} down=${down.size}")

    // --- invariant 3: quarantine holds exactly the violating rows ---
    // (read via the router's SHOW QUARANTINE to exercise the surface)
    val qRows = {
      val r = sql(s"SHOW QUARANTINE FOR $t")
      assert(r.statusCode() == 200, r.body())
      r.body()
    }
    assert(qRows.contains("not_null:lang"), qRows)
    assert(qRows.contains("check:check_1"), qRows)
    // the violating doc_ids 9 and 10 are quarantined, NOT in the table
    assert(qRows.contains("[9,") && qRows.contains("[10,"), qRows)
    val tableIds = graft.sources.ManagedTable.read(spark, s"$dir/$t")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!tableIds.contains(9L) && !tableIds.contains(10L))
    // clean rows all landed (1..8 minus deleted 6, plus 11)
    assert(tableIds == Set(1L, 2L, 3L, 4L, 5L, 7L, 8L, 11L), tableIds)
  }
}
