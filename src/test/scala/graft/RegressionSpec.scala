package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** Regressions for the round-1 review findings — each test pins a bug
  * that the fixtures alone did not exercise.
  */
class RegressionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("registerAll re-registers views when the same session switches sfDir") {
    Tables.registerAll(spark, TestSpark.sf0001)
    val n1 = spark.table("lineitem").count() // sf0.001: 6000
    Tables.registerAll(spark, "/root/testdata/sf0.01")
    val n2 = spark.table("lineitem").count() // sf0.01: 60000
    Tables.registerAll(spark, TestSpark.sf0001)
    val n3 = spark.table("lineitem").count() // back: must NOT serve sf0.01
    assert(n1 != n2, "scale factors distinguishable")
    assert(n3 == n1, s"stale view memo: got $n3 after switching back, expected $n1")
  }

  test("q48 fingerprint survives docs with fewer than 4 shingles (ANSI element_at)") {
    val tmp = TestSpark.tempDir("graft_shortdocs").toString
    Seq((1L, "only three tokens here"),   // 2 shingles
        (2L, "a b c"),                    // 1 shingle
        (3L, "plenty of tokens to make at least four shingles easily"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val row = SparkEntry.queries("q48_fingerprint")(spark, tmp).collect().head
    assert(row.getLong(row.fieldIndex("n_docs")) == 3L)
  }

  test("Graft sibling engines are isolated and close() spares the shared context") {
    val g = Graft.local(TestSpark.sf0001) // TestSpark session exists -> newSession
    assert(g.spark ne spark, "second engine must get its own session")
    assert(g.sql("SELECT COUNT(*) FROM documents").collect().head.getLong(0) == 500L)
    g.close()
    assert(!spark.sparkContext.isStopped, "close() must not stop the shared context")
  }

  test("Graft.sql is the full engine surface: DML, MV rewrite, EXPLAIN") {
    val g = new Graft(spark, TestSpark.sf0001, stopOnClose = false)
    val base = TestSpark.tempDir("graft_facade").toString
    val t = s"f${System.nanoTime()}"
    g.sql(s"CREATE MANAGED TABLE $t (k BIGINT, x BIGINT) LOCATION '$base/$t'")
    g.sql(s"INSERT INTO $t VALUES (1, 10), (1, 20), (2, 5)")
    g.sql(s"CREATE MATERIALIZED VIEW v_$t OVER $t KEY (k) COUNT n " +
      s"SUM (x AS sx) LOCATION '$base/v_$t'")
    g.sql(s"UPSERT INTO $t BY (k) SELECT 2 AS k, 9 AS x")
    val rows = g.sql(s"SELECT k, count(*) AS n, sum(x) AS s FROM $t GROUP BY k")
      .collect().map(_.toSeq.toSeq).sortBy(_.toString)
    assert(rows.toSeq == Seq(Seq(1L, 2L, 30L), Seq(2L, 1L, 9L)))
    val plan = g.sql(s"EXPLAIN SELECT k, count(*) AS n, sum(x) AS s " +
      s"FROM $t GROUP BY k").collect().head.getString(0)
    assert(plan.contains(s"v_$t"), plan) // served from the MV
  }

  test("QueryServer tolerates a malformed limit parameter") {
    val srv = new graft.server.QueryServer(new Graft(spark, TestSpark.sf0001, stopOnClose = false), 0)
    srv.start()
    try {
      val r = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${srv.boundPort}/query?limit=abc"))
          .POST(HttpRequest.BodyPublishers.ofString("SELECT 1 AS x")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200 && r.body().contains("\"n\":1"), r.body())
    } finally srv.stop()
  }

  test("binary columns serialize as base64 over HTTP, not JVM identity strings") {
    val srv = new graft.server.QueryServer(new Graft(spark, TestSpark.sf0001, stopOnClose = false), 0)
    srv.start()
    try {
      val r = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${srv.boundPort}/query"))
          .POST(HttpRequest.BodyPublishers.ofString(
            "SELECT encode('hi', 'UTF-8') AS b")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.body().contains("\"aGk=\""), r.body()) // base64("hi")
      assert(!r.body().contains("[B@"), r.body())
    } finally srv.stop()
  }
}
