package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.Row
import graft.Graft

/** SQL-over-HTTP surface matching the reference's access pattern
  * (queries submitted to an HTTP service, rows returned) — built on
  * the JDK's HttpServer, zero extra dependencies.
  *
  * Endpoints:
  *   - `GET  /health`          -> `{"status":"ok"}` (never authed)
  *   - `POST /query` (SQL body) -> `{"columns":[...],"rows":[[...]],"n":N}`
  *   - `POST /query?limit=N`    -> cap returned rows (default 1000)
  *   - `GET  /tables`           -> catalog listing (names, managed flag)
  *   - `GET  /tables/{name}`    -> schema + managed version history
  *   - `POST /ingest/{table}`   -> row-batch MERGE-upsert + live MV
  *                                 maintenance (writer role; see the
  *                                 /ingest context below for the body)
  *
  * With an [[AuthStore]] configured, every endpoint except /health
  * requires `Authorization: Bearer <token>` (401 otherwise) and write
  * statements additionally require the `writer` role (403 for a
  * reader). With none (the default), behavior is the historical open
  * loopback surface.
  *
  * The driver-side collect is capped by `limit` — the server is a
  * query front-end, not a bulk-export path; large results belong in
  * `df.write` to storage. Errors return HTTP 400 with the analysis
  * message (never a stack trace).
  */
final class QueryServer(engine: Graft, port: Int,
                        bindHost: String = "127.0.0.1",
                        auth: Option[AuthStore] = None,
                        catalogRoot: Option[String] = None) {

  /** Statement router: DML on managed tables -> [[SqlRouter]] /
    * ManagedTable; everything else -> spark.sql. Exposed so an
    * embedding host can pre-register managed tables. With
    * `catalogRoot` the name→root registry is durable: a restarted
    * server reattaches every managed table from the catalog file. */
  val router = new SqlRouter(engine.spark, catalogRoot)

  // Loopback by default: the endpoint executes arbitrary SQL with no
  // authentication, so exposing it beyond the host must be an explicit
  // caller decision (bindHost = "0.0.0.0").
  private val server = HttpServer.create(new InetSocketAddress(bindHost, port), 0)

  // Without an executor every handler runs on the single dispatcher
  // thread — one long query would block /health and all other
  // requests. A small pool keeps the front-end responsive; Spark
  // itself schedules the heavy work.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
  server.setExecutor(pool)

  /** Actual bound port (useful when constructed with port 0). */
  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def jsonStr(s: String): String = graft.util.Json.escape(s)

  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case d: Double => if (d.isNaN || d.isInfinite) jsonStr(d.toString) else d.toString
    // render the FLOAT's shortest form: widening 0.1f to double first
    // would emit 0.10000000149011612
    case f: Float => if (f.isNaN || f.isInfinite) jsonStr(f.toString) else f.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case r: Row => r.toSeq.map(jsonValue).mkString("[", ",", "]")
    case s: collection.Seq[_] => s.map(jsonValue).mkString("[", ",", "]")
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => jsonStr(String.valueOf(k)) + ":" + jsonValue(x) }
        .mkString("{", ",", "}")
    case b: Array[Byte] => jsonStr(java.util.Base64.getEncoder.encodeToString(b))
    case other => jsonStr(other.toString) // timestamps, dates, strings
  }

  /** Resolve the caller. With no [[AuthStore]] configured the surface
    * stays the historical open-loopback one (anonymous writer); with
    * one, every endpoint except /health requires a valid bearer
    * token. */
  private def principal(ex: HttpExchange): Either[Unit, Principal] =
    auth match {
      case None => Right(Principal("anonymous", AuthStore.Writer))
      case Some(store) =>
        store.authenticate(
          Option(ex.getRequestHeaders.getFirst("Authorization"))) match {
          case Some(p) => Right(p)
          case None =>
            ex.getResponseHeaders.set("WWW-Authenticate", "Bearer")
            respond(ex, 401, """{"error":"missing or invalid bearer token"}""")
            Left(())
        }
    }

  server.createContext("/health", (ex: HttpExchange) =>
    respond(ex, 200, """{"status":"ok"}"""))

  server.createContext("/query", (ex: HttpExchange) => {
    if (ex.getRequestMethod != "POST") respond(ex, 405, """{"error":"POST only"}""")
    else principal(ex).foreach { who =>
      val sql = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      if (!who.canWrite && router.isMutation(sql))
        respond(ex, 403,
          s"""{"error":"role '${who.role}' may not execute write statements"}""")
      else {
      val limit = Option(ex.getRequestURI.getQuery)
        .flatMap(_.split("&").collectFirst {
          case kv if kv.startsWith("limit=") => kv.drop(6) })
        .flatMap(_.toIntOption) // malformed limit -> default, not a dropped connection
        .getOrElse(1000)
      try {
        val df = router.execute(sql)
        val rows = df.limit(limit).collect()
        val cols = df.columns.map(jsonStr).mkString("[", ",", "]")
        val data = rows.map(r => r.toSeq.map(jsonValue).mkString("[", ",", "]"))
          .mkString("[", ",", "]")
        respond(ex, 200, s"""{"columns":$cols,"rows":$data,"n":${rows.length}}""")
      } catch {
        case e: Exception =>
          val msg = Option(e.getMessage).toSeq
            .flatMap(_.linesIterator).map(_.trim).find(_.nonEmpty)
            .getOrElse(e.getClass.getSimpleName)
          // client errors (bad SQL) are 400; engine/executor failures
          // are 500 so retrying clients can tell them apart.
          // ParseException is an AnalysisException subclass, so one
          // case covers both parse and analysis errors.
          val code = e match {
            case _: org.apache.spark.sql.AnalysisException => 400
            // router statement-shape errors (unknown table, malformed
            // assignment, bad arity) are client errors too
            case _: IllegalArgumentException => 400
            case _ => 500
          }
          respond(ex, code, s"""{"error":${jsonStr(msg)}}""")
      }
      }
    }
  })

  // --- streaming ingest: the row-batch write path --------------------
  // POST /ingest/{table} with body
  //   {"columns":["id","ts","v"], "rows":[[1,"2024-01-01 00:00:00",5],...],
  //    "keys":["id"], "orderBy":["ts"]}
  // -> one idempotent last-writer-wins MERGE-upsert into the managed
  // table + incremental maintenance of its materialized views (the
  // same per-batch semantics as streaming.ManagedSink/MvSink; a
  // replayed batch is a no-op for both the table and the views).
  // Cells travel as JSON scalars and cast through Spark's string→type
  // rules; binary columns are out of scope for this surface.
  server.createContext("/ingest", (ex: HttpExchange) => {
    if (ex.getRequestMethod != "POST") respond(ex, 405, """{"error":"POST only"}""")
    else principal(ex).foreach { who =>
      if (!who.canWrite)
        respond(ex, 403, s"""{"error":"role '${who.role}' may not ingest"}""")
      else {
        try {
          val table = ex.getRequestURI.getPath.stripPrefix("/ingest")
            .stripPrefix("/").trim
          require(table.nonEmpty, "usage: POST /ingest/{table}")
          require(router.registered.contains(table),
            s"no managed table '$table' — CREATE or OPEN it first")
          val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
          val doc = graft.util.Json.parse(body) match {
            case m: Map[String @unchecked, Any @unchecked] => m
            case _ => throw new IllegalArgumentException("body must be a JSON object")
          }
          def strs(k: String): Seq[String] = doc.get(k) match {
            case Some(v: Vector[Any @unchecked]) => v.map(String.valueOf)
            case None => Nil
            case _ => throw new IllegalArgumentException(s"'$k' must be an array")
          }
          val columns = strs("columns")
          require(columns.nonEmpty, "'columns' (array of names) required")
          val keys = strs("keys")
          require(keys.nonEmpty, "'keys' (merge key columns) required")
          val rows = doc.get("rows") match {
            case Some(v: Vector[Any @unchecked]) => v.map {
              case r: Vector[Any @unchecked] =>
                r.map(c => if (c == null) null else String.valueOf(c))
              case _ => throw new IllegalArgumentException(
                "'rows' must be an array of arrays")
            }
            case _ => throw new IllegalArgumentException("'rows' required")
          }
          val batch = router.batchFrame(table, columns, rows)
          val res = router.ingest(table, batch, keys, strs("orderBy")).collect().head
          // n_submitted = raw body rows; n_applied = winners after
          // in-batch duplicate-key reduction (what the MERGE saw).
          // n_rows is a compatibility alias for n_submitted — the
          // pre-round-7 response named the raw count n_rows, and a
          // client keying on it must not break on a field rename.
          respond(ex, 200,
            s"""{"op":"ingest","table":${jsonStr(table)},"version":${res.getAs[Int]("version")},"n_rows":${rows.size},"n_submitted":${rows.size},"n_applied":${res.getAs[Long]("n_applied")}}""")
        } catch {
          case e: Exception =>
            val msg = Option(e.getMessage).toSeq
              .flatMap(_.linesIterator).map(_.trim).find(_.nonEmpty)
              .getOrElse(e.getClass.getSimpleName)
            val code = e match {
              case _: IllegalArgumentException => 400
              case _: org.apache.spark.sql.AnalysisException => 400
              case _ => 500
            }
            respond(ex, code, s"""{"error":${jsonStr(msg)}}""")
        }
      }
    }
  })

  // --- metadata surface (the reference keeps table metadata alongside
  // auth in its RDBMS; here it is served straight from the session
  // catalog, the router's managed names and their manifests) ---------

  private def columnsJson(schema: org.apache.spark.sql.types.StructType): String =
    schema.fields.map(f =>
      s"""{"name":${jsonStr(f.name)},"type":${jsonStr(f.dataType.sql.toLowerCase)}""" +
        s""","nullable":${f.nullable}}""").mkString("[", ",", "]")

  private def tableJson(name: String, withColumns: Boolean): String = {
    val managedRoot = router.registered.get(name)
    val base = s"""{"name":${jsonStr(name)},"managed":${managedRoot.isDefined}"""
    val cols =
      if (withColumns) {
        val schema = managedRoot
          .map(graft.sources.ManagedTable.latest(engine.spark, _).schema)
          .getOrElse(engine.spark.table(name).schema)
        s""","columns":${columnsJson(schema)}"""
      } else ""
    val managed = managedRoot.map { root =>
      val hist = graft.sources.ManagedTable.history(engine.spark, root)
      val versions = hist.map(s =>
        s"""{"version":${s.version},"op":${jsonStr(s.op)},"files":${s.files.size}}""")
        .mkString("[", ",", "]")
      s""","location":${jsonStr(root)},"version":${hist.last.version}""" +
        s""","history":$versions"""
    }.getOrElse("")
    base + cols + managed + "}"
  }

  server.createContext("/tables", (ex: HttpExchange) => {
    if (ex.getRequestMethod != "GET") respond(ex, 405, """{"error":"GET only"}""")
    else principal(ex).foreach { _ =>
      val rest = ex.getRequestURI.getPath.stripPrefix("/tables")
        .stripPrefix("/").trim
      try {
        if (rest.isEmpty) {
          // listing stays cheap: names only; schemas come from the
          // per-table endpoint (resolving every relation per listing
          // call would re-analyze the whole catalog each poll)
          val names = (engine.spark.catalog.listTables().collect().map(_.name) ++
            router.registered.keys).distinct.sorted
          val body = names.map(tableJson(_, withColumns = false))
            .mkString("[", ",", "]")
          respond(ex, 200, s"""{"tables":$body,"n":${names.length}}""")
        } else if (router.registered.contains(rest) ||
            engine.spark.catalog.tableExists(rest)) {
          respond(ex, 200, tableJson(rest, withColumns = true))
        } else {
          respond(ex, 404, s"""{"error":${jsonStr(s"no table '$rest'")}}""")
        }
      } catch {
        case e: Exception =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
          respond(ex, 500, s"""{"error":${jsonStr(msg)}}""")
      }
    }
  })

  def start(): Unit = server.start()
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}

/** Standalone entry point:
  * `sbt "runMain graft.server.QueryServer <dataDir> [port]"` */
object QueryServer {
  def main(args: Array[String]): Unit = {
    val dataDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val port = if (args.length > 1) args(1).toInt else 8090
    val engine = Graft.local(dataDir)
    // durable catalog by default for the standalone server: managed
    // tables survive a restart (override via GRAFT_CATALOG_ROOT)
    val catalogRoot = sys.env.get("GRAFT_CATALOG_ROOT")
      .orElse(Some(System.getProperty("user.dir") + "/_graft_catalog"))
    val srv = new QueryServer(engine, port, catalogRoot = catalogRoot)
    srv.start()
    println(s"graft query server listening on :${srv.boundPort} over $dataDir")
    Thread.currentThread.join()
  }
}
