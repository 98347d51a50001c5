package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.funsuite.AnyFunSuite
import graft.server.QueryServer

/** SQL-over-HTTP surface: health, query rows, limit cap, error path —
  * through a real socket. */
class QueryServerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val server = {
    val s = new QueryServer(new Graft(spark, TestSpark.sf0001), port = 0)
    s.start(); s
  }
  private lazy val base = s"http://127.0.0.1:${server.boundPort}"
  private val client = HttpClient.newHttpClient()

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("health endpoint") {
    val r = client.send(HttpRequest.newBuilder(URI.create(base + "/health")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200 && r.body().contains("\"ok\""))
  }

  test("query returns columns and rows as JSON") {
    val r = post("/query", "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"columns\":[\"r_regionkey\",\"r_name\"]"))
    assert(r.body().contains("[0,\"AFRICA\"]"))
    assert(r.body().contains("\"n\":5"))
  }

  test("graft functions are available over HTTP") {
    val r = post("/query",
      "SELECT ROUND(graft_cosine(embedding, embedding), 6) c FROM embeddings WHERE vec_id = 0")
    assert(r.statusCode() == 200 && r.body().contains("[1.0]"), r.body())
  }

  test("limit caps returned rows") {
    val r = post("/query?limit=3", "SELECT o_orderkey FROM orders ORDER BY o_orderkey")
    assert(r.statusCode() == 200 && r.body().contains("\"n\":3"))
  }

  test("bad SQL returns a clean 400 error, not a stack trace") {
    val r = post("/query", "SELECT FROM nope")
    assert(r.statusCode() == 400)
    assert(r.body().startsWith("{\"error\":"))
    assert(!r.body().contains("at org.apache"))
  }

  test("DML statements run over HTTP: create, insert, update, select") {
    val root = TestSpark.tempDir("graft_httpdml").toString + "/t"
    val c = post("/query",
      s"CREATE MANAGED TABLE http_t (id BIGINT, v DOUBLE) LOCATION '$root'")
    assert(c.statusCode() == 200 && c.body().contains("\"create\""), c.body())
    assert(post("/query", "INSERT INTO http_t VALUES (1, 1.5), (2, 2.5)").statusCode() == 200)
    assert(post("/query", "UPDATE http_t SET v = v + 10 WHERE id = 2").statusCode() == 200)
    val q = post("/query", "SELECT id, v FROM http_t ORDER BY id")
    assert(q.statusCode() == 200 && q.body().contains("[2,12.5]"), q.body())
    // DML on an unmanaged name surfaces as a clean client error
    val bad = post("/query", "DELETE FROM never_registered WHERE 1=1")
    assert(bad.statusCode() == 400, bad.body())
  }

  test("tables endpoint lists the catalog; per-table endpoint has schema") {
    val r = client.send(HttpRequest.newBuilder(URI.create(base + "/tables")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200 && r.body().contains("\"name\":\"region\""), r.body())
    val d = client.send(HttpRequest.newBuilder(URI.create(base + "/tables/region")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(d.statusCode() == 200, d.body())
    assert(d.body().contains("\"name\":\"r_regionkey\""), d.body())
    assert(d.body().contains("\"type\":\"int\""), d.body())
    val missing = client.send(
      HttpRequest.newBuilder(URI.create(base + "/tables/never_there")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(missing.statusCode() == 404, missing.body())
  }

  test("managed table detail carries location, version and history") {
    val root = TestSpark.tempDir("graft_httpmeta").toString + "/m"
    assert(post("/query",
      s"CREATE MANAGED TABLE http_meta (id BIGINT) LOCATION '$root'").statusCode() == 200)
    assert(post("/query", "INSERT INTO http_meta VALUES (1)").statusCode() == 200)
    val d = client.send(
      HttpRequest.newBuilder(URI.create(base + "/tables/http_meta")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(d.statusCode() == 200, d.body())
    assert(d.body().contains("\"managed\":true"), d.body())
    assert(d.body().contains("\"version\":1"), d.body())
    assert(d.body().contains("\"op\":\"insert\""), d.body())
    // a time-travel read leaves no name behind in either listing
    assert(post("/query", "SELECT id FROM http_meta VERSION AS OF 1").statusCode() == 200)
    val listed = client.send(HttpRequest.newBuilder(URI.create(base + "/tables")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(listed.body().contains("\"http_meta\"") && !listed.body().contains("http_meta__v"),
      listed.body())
    assert(!spark.catalog.listTables().collect().exists(_.name.contains("http_meta__v")))
  }

  test("managed tables survive a server restart via the durable catalog") {
    val catRoot = TestSpark.tempDir("graft_httpcat").toString
    val root = TestSpark.tempDir("graft_httpdur").toString + "/t"
    def send(port: Int, sql: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/query"))
        .POST(HttpRequest.BodyPublishers.ofString(sql)).build(),
        HttpResponse.BodyHandlers.ofString())
    val s1 = new QueryServer(new Graft(spark, TestSpark.sf0001), port = 0,
      catalogRoot = Some(catRoot))
    s1.start()
    try {
      assert(send(s1.boundPort,
        s"CREATE MANAGED TABLE durable_t (id BIGINT) LOCATION '$root'").statusCode() == 200)
      assert(send(s1.boundPort, "INSERT INTO durable_t VALUES (41), (42)").statusCode() == 200)
    } finally s1.stop()
    // a brand-new server process-equivalent over the same catalog root:
    // no register call anywhere — /tables and SELECT must just work
    val s2 = new QueryServer(new Graft(spark, TestSpark.sf0001), port = 0,
      catalogRoot = Some(catRoot))
    s2.start()
    try {
      val t = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${s2.boundPort}/tables")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(t.statusCode() == 200 && t.body().contains("\"durable_t\""), t.body())
      val q = send(s2.boundPort, "SELECT count(*) n FROM durable_t")
      assert(q.statusCode() == 200 && q.body().contains("[2]"), q.body())
    } finally s2.stop()
  }

  test("streaming ingest: batches merge, views stay equal to recompute, replay is a no-op") {
    val dir = TestSpark.tempDir("graft_httping").toString
    assert(post("/query",
      s"CREATE MANAGED TABLE ing (id BIGINT, ts TIMESTAMP, g STRING, v BIGINT) LOCATION '$dir/t'")
      .statusCode() == 200)
    assert(post("/query", "INSERT INTO ing VALUES " +
      "(1, TIMESTAMP '2024-01-01 00:00:00', 'a', 1), " +
      "(2, TIMESTAMP '2024-01-01 00:00:00', 'a', 9)").statusCode() == 200)
    assert(post("/query", "CREATE MATERIALIZED VIEW ingv OVER ing KEY (g) " +
      s"COUNT n SUM (v AS sv) MIN (v AS lo) MAX (v AS hi) LOCATION '$dir/v'")
      .statusCode() == 200)
    def viewRows() = post("/query",
      "SELECT * FROM ingv ORDER BY g").body()
    def recompute() = post("/query",
      "SELECT g, count(*) n, sum(v) sv, min(v) lo, max(v) hi FROM ing GROUP BY g ORDER BY g").body()
    assert(viewRows() == recompute())
    // batch 1: replace id 2 (REMOVES the group max -> repair path) and
    // insert a new group; in-batch duplicate of id 3 resolved by ts
    val batch1 = """{"columns":["id","ts","g","v"],
      "rows":[[2,"2024-01-01 00:01:00","a",2],
              [3,"2024-01-01 00:00:30","b",5],
              [3,"2024-01-01 00:01:30","b",7]],
      "keys":["id"], "orderBy":["ts"]}"""
    val r1 = post("/ingest/ing", batch1)
    assert(r1.statusCode() == 200, r1.body())
    assert(r1.body().contains("\"op\":\"ingest\""), r1.body())
    // 3 rows submitted, but the in-batch id-3 duplicate reduces to 2
    // winners before the MERGE — the response must say what was APPLIED
    assert(r1.body().contains("\"n_submitted\":3"), r1.body())
    assert(r1.body().contains("\"n_applied\":2"), r1.body())
    // compatibility alias: pre-rename clients read n_rows (= submitted)
    assert(r1.body().contains("\"n_rows\":3"), r1.body())
    assert(viewRows() == recompute())
    val afterBatch1 = viewRows()
    assert(afterBatch1.contains("[\"a\",2,3,1,2]"), afterBatch1) // max repaired 9->2
    assert(afterBatch1.contains("[\"b\",1,7,7,7]"), afterBatch1) // ts winner = 7
    // replay the SAME batch: table and view must not change
    assert(post("/ingest/ing", batch1).statusCode() == 200)
    assert(viewRows() == afterBatch1)
    assert(viewRows() == recompute())
    // malformed bodies are clean 400s
    assert(post("/ingest/ing", """{"rows":[[1]]}""").statusCode() == 400)
    assert(post("/ingest/ing", "not json").statusCode() == 400)
    assert(post("/ingest/nope", batch1).statusCode() == 400)
    assert(post("/query", "DROP MATERIALIZED VIEW ingv PURGE").statusCode() == 200)
    assert(post("/query", "DROP MANAGED TABLE ing PURGE").statusCode() == 200)
  }
}

/** Bearer-token auth + role gate over a real socket, and the
  * hashed-at-rest store roundtrip. */
class AuthServerSpec extends AnyFunSuite {
  import graft.server.{AuthStore, Principal}

  private lazy val spark = TestSpark.spark
  private lazy val server = {
    val store = AuthStore(Map(
      "read-secret" -> Principal("analyst", AuthStore.Reader),
      "write-secret" -> Principal("pipeline", AuthStore.Writer)))
    val s = new QueryServer(new Graft(spark, TestSpark.sf0001), port = 0,
      auth = Some(store))
    s.start(); s
  }
  private lazy val base = s"http://127.0.0.1:${server.boundPort}"
  private val client = HttpClient.newHttpClient()

  private def post(path: String, body: String, token: Option[String]): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body))
    token.foreach(t => b.header("Authorization", s"Bearer $t"))
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  test("health stays open; everything else requires a token") {
    val h = client.send(HttpRequest.newBuilder(URI.create(base + "/health")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(h.statusCode() == 200)
    val anon = post("/query", "SELECT 1 AS x", None)
    assert(anon.statusCode() == 401, anon.body())
    val wrong = post("/query", "SELECT 1 AS x", Some("not-a-token"))
    assert(wrong.statusCode() == 401, wrong.body())
    val tables = client.send(HttpRequest.newBuilder(URI.create(base + "/tables")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(tables.statusCode() == 401, tables.body())
  }

  test("reader can SELECT but not mutate; writer can do both") {
    val read = post("/query", "SELECT count(*) AS n FROM region", Some("read-secret"))
    assert(read.statusCode() == 200 && read.body().contains("[5]"), read.body())
    val root = TestSpark.tempDir("graft_authdml").toString + "/t"
    val denied = post("/query",
      s"CREATE MANAGED TABLE auth_t (id BIGINT) LOCATION '$root'", Some("read-secret"))
    assert(denied.statusCode() == 403, denied.body())
    // default-deny: an unrecognized statement shape is a write
    assert(post("/query", "SET spark.sql.shuffle.partitions=1",
      Some("read-secret")).statusCode() == 403)
    val created = post("/query",
      s"CREATE MANAGED TABLE auth_t (id BIGINT) LOCATION '$root'", Some("write-secret"))
    assert(created.statusCode() == 200, created.body())
    assert(post("/query", "INSERT INTO auth_t VALUES (7)",
      Some("write-secret")).statusCode() == 200)
    val back = post("/query", "SELECT id FROM auth_t", Some("read-secret"))
    assert(back.statusCode() == 200 && back.body().contains("[7]"), back.body())
    // ingest is a write: anonymous 401, reader 403, writer 200
    val ingBody = """{"columns":["id"],"rows":[[8]],"keys":["id"]}"""
    assert(post("/ingest/auth_t", ingBody, None).statusCode() == 401)
    assert(post("/ingest/auth_t", ingBody, Some("read-secret")).statusCode() == 403)
    val ing = post("/ingest/auth_t", ingBody, Some("write-secret"))
    assert(ing.statusCode() == 200, ing.body())
    assert(post("/query", "SELECT count(*) n FROM auth_t", Some("read-secret"))
      .body().contains("[2]"))
  }

  test("round-8 statements over the socket: SYNC is writer-gated, SHOW CONSTRAINTS is a read") {
    val base2 = TestSpark.tempDir("graft_authcdc").toString
    val (up, down) = (s"$base2/up", s"$base2/down")
    assert(post("/query",
      s"""CREATE MANAGED TABLE auth_up (id BIGINT, v STRING,
         |PRIMARY KEY (id), CHECK (id >= 0)) LOCATION '$up'""".stripMargin,
      Some("write-secret")).statusCode() == 200)
    assert(post("/query", "INSERT INTO auth_up VALUES (1, 'a'), (2, 'b')",
      Some("write-secret")).statusCode() == 200)
    // reader may inspect rules but not start a follower
    val rules = post("/query", "SHOW CONSTRAINTS auth_up", Some("read-secret"))
    assert(rules.statusCode() == 200 && rules.body().contains("primary_key"), rules.body())
    val sync = s"SYNC TABLE auth_down FROM auth_up KEY (id) LOCATION '$down'"
    assert(post("/query", sync, Some("read-secret")).statusCode() == 403)
    val boot = post("/query", sync, Some("write-secret"))
    assert(boot.statusCode() == 200, boot.body())
    assert(post("/query", "SELECT count(*) n FROM auth_down", Some("read-secret"))
      .body().contains("[2]"))
    // constraint DDL is a write; time travel is a read
    assert(post("/query", "ALTER TABLE auth_up DROP CONSTRAINTS",
      Some("read-secret")).statusCode() == 403)
    assert(post("/query", "SELECT count(*) n FROM auth_up VERSION AS OF 1",
      Some("read-secret")).body().contains("[2]"))
  }

  test("store persists hashed at rest and loads back") {
    val dir = TestSpark.tempDir("graft_auth").toString + "/tokens"
    AuthStore.save(spark, dir, Map("s3cret" -> Principal("svc", AuthStore.Writer)))
    // no plaintext token anywhere in the written files
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    var leaked = false
    files.forEachRemaining { p =>
      val bytes = new String(java.nio.file.Files.readAllBytes(p), "ISO-8859-1")
      if (bytes.contains("s3cret")) leaked = true
    }
    assert(!leaked, "plaintext token found in the at-rest store")
    val loaded = AuthStore.load(spark, dir)
    assert(loaded.size == 1)
    assert(loaded.authenticate(Some("Bearer s3cret")).contains(Principal("svc", "writer")))
    assert(loaded.authenticate(Some("Bearer nope")).isEmpty)
    assert(loaded.authenticate(Some("Basic s3cret")).isEmpty)
    assert(loaded.authenticate(None).isEmpty)
  }

  test("principal rejects unknown roles loudly") {
    intercept[IllegalArgumentException] { Principal("x", "superuser") }
  }
}
