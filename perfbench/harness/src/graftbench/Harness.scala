package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.{Graft, SparkEntry}
import graft.server.{QueryServer, SqlRouter}
import graft.sources.ManagedTable
import graft.streaming.ManagedSink

/** Drives one workload against the engine's public API and writes what
  * it observed (latencies, responses, spans) to a JSON file. The Python
  * runner generates the inputs from the seed, checks the responses and
  * computes the metrics.
  *
  * Usage: Harness <workload> <dataDir> <workDir> <inputs.json> <out.json>
  *                <seconds> <trace 0|1> <cores>
  */
object Harness {

  final class Http(port: Int) {
    private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    def post(path: String, body: String): (Int, String) = {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .timeout(java.time.Duration.ofSeconds(150))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      val r = client.send(req, HttpResponse.BodyHandlers.ofString())
      (r.statusCode, r.body)
    }
  }

  private def attempt(f: => (Int, String)): (Int, String) =
    try f catch { case e: Exception => (-1, Out.str(String.valueOf(e.getMessage))) }

  private def seq(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq

  /** Requests grouped by their `round` field, in round order. */
  private def rounds(reqs: Seq[JsonNode]): Seq[Seq[JsonNode]] =
    reqs.groupBy(_.get("round").asInt).toSeq.sortBy(_._1).map(_._2)

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def dataFiles(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, inputsPath, outPath, secondsArg, traceArg, coresArg) = args
    val clock = new Clock
    val tMain = clock.now
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cores = coresArg.toInt
    val in = new ObjectMapper().readTree(new java.io.File(inputsPath))
    val lake = Paths.get(workDir, "lake")
    val viewDir = "ords_by_status"

    // ---- set-up: session, catalog registration + server, preload ----
    val spark = SparkSession.builder().master(s"local[$cores]").appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tSession = clock.now
    val engine = Graft.local(dataDir, cores)
    val catalogRoot = Paths.get(workDir, "catalog").toString
    val srv = new QueryServer(engine, 0, catalogRoot = Some(catalogRoot))
    srv.start()
    val http = new Http(srv.boundPort)
    val tRegister = clock.now
    if (workload == "ingest") {
      srv.router.execute(in.get("ctas").asText.replace("{root}", lake.resolve("ords").toString)).collect()
      srv.router.execute(in.get("view").asText.replace("{root}", lake.resolve(viewDir).toString)).collect()
    }
    val tPreload = clock.now
    val (firstStatus, _) = http.post("/query", "SELECT COUNT(*) AS n FROM region")
    require(firstStatus == 200, s"first request failed with HTTP $firstStatus")
    val tReady = clock.now
    val setup = Out.obj(
      "ready_epoch" -> f"${clock.epoch(tReady)}%.6f",
      "session_s" -> (tSession - tMain).toString,
      "register_s" -> (tRegister - tSession).toString,
      "preload_s" -> (tPreload - tRegister).toString,
      "first_request_s" -> (tReady - tPreload).toString)

    val tracer = new Tracer(clock, viewDir)
    if (traced) Tracer.install(engine.spark, tracer)
    val ops = new ConcurrentLinkedQueue[String]()

    /** One SQL request over HTTP, with the server's default row limit.
      * A traced request also times, in process on the server's own
      * router, the route and plan steps the server runs for the same
      * text, and carries its own row limit, which ties the server-side
      * execution to the request. */
    def query(req: JsonNode, client: Int, trace: Boolean, extra: () => String = () => "",
              warmup: Boolean = false): Unit = {
      val id = req.get("id").asLong
      val sql = req.get("sql").asText
      val tag = Tracer.TagBase + id
      val t0 = clock.now
      val (status, body) = if (!trace) attempt(http.post("/query", sql))
      else tracer.span("request", 0, id) { root =>
        attempt {
          val df = tracer.span("route", root, id)(_ => srv.router.execute(sql))
          tracer.span("plan", root, id)(_ => df.limit(tag.toInt).queryExecution.executedPlan)
          tracer.span("http", root, id)(_ => http.post(s"/query?limit=$tag", sql))
        }
      }
      val t1 = clock.now
      val more = extra()
      ops.add(Out.obj("client" -> client.toString, "id" -> id.toString,
        "round" -> req.get("round").asText, "kind" -> Out.str(req.get("kind").asText),
        "name" -> Out.str(req.get("name").asText), "t0" -> t0.toString, "t1" -> t1.toString,
        "status" -> status.toString, "traced" -> trace.toString, "warmup" -> warmup.toString,
        "bytes" -> body.length.toString,
        "body" -> (if (status == 200) body else Out.str(body))).dropRight(1) + more + "}")
    }

    def runThreads(bodies: Seq[() => Unit]): Unit = {
      val ts = bodies.map(b => new Thread(() => b()))
      ts.foreach(_.start()); ts.foreach(_.join())
    }

    // serve: each client's first round runs before the measured window, so
    // the window sees a server past its first queries, as a long-running
    // server is
    val serveRounds =
      if (workload == "serve") seq(in.get("clients")).map(c => rounds(seq(c))) else Nil
    runThreads(serveRounds.zipWithIndex.map { case (rs, c) => () =>
      rs.head.foreach(r => query(r, c, traced, warmup = true))
    })

    val steps = new ConcurrentLinkedQueue[String]()
    // ingest: the writer's path, and its first batch before the window, so
    // the window sees a write path past its first commit
    val ordsRoot = lake.resolve("ords")
    val viewRoot = lake.resolve(viewDir)
    val twinRoot = lake.resolve("ords_twin")
    val batchList = if (workload == "ingest") seq(in.get("batches")) else Nil
    val columns = if (workload == "ingest") seq(in.get("columns")).map(_.asText) else Nil
    val keys = if (workload == "ingest") seq(in.get("keys")).map(_.asText) else Nil
    val sent = new AtomicInteger(0)
    val acked = new AtomicInteger(0)
    val batches = new ConcurrentLinkedQueue[String]()
    def postBatch(b: JsonNode, warmup: Boolean): Unit = {
      val id = b.get("id").asLong
      val body = Out.obj("columns" -> columns.map(Out.str).mkString("[", ",", "]"),
        "rows" -> b.get("rows").toString,
        "keys" -> keys.map(Out.str).mkString("[", ",", "]"))
      sent.incrementAndGet()
      val t0 = clock.now
      val (status, resp) =
        if (traced) tracer.span("batch", 0, id)(_ => attempt(http.post("/ingest/ords", body)))
        else attempt(http.post("/ingest/ords", body))
      val t1 = clock.now
      acked.incrementAndGet()
      // the same batch on a twin table without the view, one public call
      // at a time: what the router's ingest does before it maintains the
      // view
      val twin = if (!traced) "" else tracer.span("twin_ingest", 0, id) { root =>
        val rows = seq(b.get("rows")).map(r => seq(r).map(c => if (c.isNull) null else c.asText))
        val frame = tracer.span("batch_frame", root, id)(_ =>
          srv.router.batchFrame("ords_twin", columns, rows))
        val winners = tracer.span("latest_per_key", root, id) { _ =>
          val w = ManagedSink.latestPerKey(frame, keys, keys); w.count(); w
        }
        val before = dataFiles(twinRoot)
        val pre = tracer.span("history", root, id)(_ =>
          ManagedTable.history(engine.spark, twinRoot.toString).last)
        tracer.span("upsert", root, id)(_ =>
          ManagedTable.upsert(engine.spark, twinRoot.toString,
            winners.select(pre.schema.fieldNames.map(org.apache.spark.sql.functions.col): _*), keys))
        val added = dataFiles(twinRoot) -- before.keys
        s""","files_written":${added.size},"bytes_written":${added.values.sum}"""
      }
      batches.add(Out.obj("id" -> id.toString, "t0" -> t0.toString, "t1" -> t1.toString,
        "status" -> status.toString, "traced" -> traced.toString, "warmup" -> warmup.toString,
        "rows" -> b.get("rows").size.toString,
        "body" -> (if (status == 200) resp else Out.str(resp))).dropRight(1) + twin + "}")
    }
    if (workload == "ingest") {
      if (traced)
        srv.router.execute(in.get("twin_ctas").asText.replace("{root}", twinRoot.toString)).collect()
      postBatch(batchList.head, warmup = true)
    }
    val bytesBefore = dirBytes(ordsRoot) + dirBytes(viewRoot)

    val (cg0, cgs0) = Tracer.codegen()
    val windowStart = clock.now
    val deadline = windowStart + seconds
    var finalState = "{}"
    var bytesAfter = 0L

    workload match {
      case "serve" =>
        // a fixed number of rounds (the inputs size it from the run's
        // seconds), so every run measures the same texts
        runThreads(serveRounds.zipWithIndex.map { case (rs, c) => () =>
          rs.tail.foreach(_.foreach(r => query(r, c, traced)))
        })

      case "ingest" =>
        // the writer sends a fixed number of batches (the inputs size it
        // from the run's seconds); the reader reads for as long as the
        // writer writes, so its reads always sit beside whole batches
        val writing = new java.util.concurrent.atomic.AtomicBoolean(true)
        val writer = () => {
          batchList.tail.foreach(postBatch(_, warmup = false))
          writing.set(false)
        }
        val reader = () => {
          val it = rounds(seq(in.get("reads"))).iterator
          while (it.hasNext && writing.get) {
            it.next().foreach { r =>
              val ackedBefore = acked.get
              query(r, 1, traced, () => {
                val live = if (traced && r.get("kind").asText == "point")
                  s""","files_live":${ManagedTable.history(engine.spark, ordsRoot.toString).last.files.size}"""
                else ""
                s""","acked_before":$ackedBefore,"sent_after":${sent.get}$live"""
              })
            }
          }
        }
        runThreads(Seq(writer, reader))
        bytesAfter = dirBytes(ordsRoot) + dirBytes(viewRoot)
        // final state, the view, and a fresh router reattached from the catalog
        srv.router.execute("SELECT * FROM ords").write.parquet(Paths.get(workDir, "final_ords").toString)
        val view = srv.router.execute(s"SELECT * FROM $viewDir")
        val fresh = new SqlRouter(engine.spark.newSession(), Some(catalogRoot))
        val summary = "SELECT COUNT(*) AS n, SUM(price_cents) AS s FROM ords"
        finalState = Out.obj(
          "view_columns" -> view.columns.map(Out.str).mkString("[", ",", "]"),
          "view" -> Out.rows(view.collect()),
          "summary" -> Out.rows(srv.router.execute(summary).collect()),
          "reattached_summary" -> Out.rows(fresh.execute(summary).collect()),
          "reattached_view" -> Out.rows(fresh.execute(s"SELECT * FROM $viewDir").collect()))

      case "pipeline" =>
        /** One pass of the operator sequence, each step called by name. */
        def pipelinePass(pass: Int): Unit = {
          val names = seq(in.get("steps")).map(_.asText)
          names.zipWithIndex.foreach { case (name, i) =>
            val req = pass * 100L + i
            val t0 = clock.now
            val rows = try {
              if (!traced) Right(SparkEntry.queries(name)(engine.spark, dataDir).collect())
              else tracer.span("step", 0, req) { root =>
                val df = tracer.span("build", root, req)(_ => SparkEntry.queries(name)(engine.spark, dataDir))
                tracer.span("plan", root, req)(_ => df.queryExecution.executedPlan)
                Right(tracer.span("exec", root, req)(_ => df.collect()))
              }
            } catch { case e: Exception => Left(String.valueOf(e.getMessage)) }
            val t1 = clock.now
            steps.add(Out.obj("pass" -> pass.toString, "name" -> Out.str(name),
              "t0" -> t0.toString, "t1" -> t1.toString, "ok" -> rows.isRight.toString,
              "rows" -> rows.fold(Out.str, Out.rows)))
          }
        }
        var pass = 0
        do { pipelinePass(pass); pass += 1 } while (clock.now < deadline)

      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val windowEnd = clock.now
    val (cg1, cgs1) = Tracer.codegen()

    if (traced) org.apache.spark.sql.graftbench.Internals.drain(engine.spark.sparkContext)
    val jobs = tracer.jobs.values.toSeq.sortBy(_.job).map(j =>
      s"""{"job":${j.job},"exec":${j.exec},"submit":${j.submit},"stages":${j.stages},"tasks":${j.tasks},"shuffle_bytes":${j.shuffleBytes},"scan_bytes":${j.scanBytes}}""")
    val execs = tracer.execs.iterator().asScala.toSeq.map(e =>
      s"""{"id":${e.id},"tag":${e.tag},"exec_s":${e.execS},"end":${e.endS},"files_read":${e.filesRead},"mv_hit":${e.mvHit}}""")
    if (traced)
      Files.write(Paths.get(workDir, "spans.jsonl"), Tracer.spansJson(tracer).toSeq.asJava)

    val out = Out.obj(
      "workload" -> Out.str(workload),
      "setup" -> setup,
      "window" -> Out.obj("t0" -> windowStart.toString, "t1" -> windowEnd.toString),
      "listener_s" -> tracer.busyS.toString,
      "codegen" -> Out.obj("compiles" -> (cg1 - cg0).toString, "seconds" -> (cgs1 - cgs0).toString),
      "bytes" -> Out.obj("before" -> bytesBefore.toString, "after" -> bytesAfter.toString),
      "ops" -> ops.asScala.mkString("[", ",\n", "]"),
      "batches" -> batches.asScala.mkString("[", ",\n", "]"),
      "steps" -> steps.asScala.mkString("[", ",\n", "]"),
      "final" -> finalState,
      "jobs" -> jobs.mkString("[", ",\n", "]"),
      "execs" -> execs.mkString("[", ",\n", "]"))
    Files.writeString(Paths.get(outPath), out)
    srv.stop()
    spark.stop()
  }
}
