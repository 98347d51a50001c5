package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.GlobalLimit
import org.apache.spark.sql.execution.{FileSourceScanExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graftbench.Internals

/** One span: a named interval on the benchmark's clock (seconds since
  * the harness started), its parent span and the request it belongs to. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
                      start: Double, end: Double)

/** What Spark did for one job. `exec` is the SQL execution the job ran
  * under (-1 when none). */
final class JobStat(val job: Int, val exec: Long, val submit: Double) {
  @volatile var stages = 0
  @volatile var tasks = 0L
  @volatile var shuffleBytes = 0L
  @volatile var scanBytes = 0L
}

/** One finished SQL execution, from its end event. `tag` is the row
  * limit the request carried (each traced request sends its own), which
  * ties the server-side execution to the client request. */
final case class ExecStat(id: Long, tag: Long, execS: Double, endS: Double,
                          filesRead: Long, mvHit: Boolean)

/** The traced run's recorder: spans kept in memory, plus a SparkListener
  * that attributes Spark's work to SQL executions and jobs. Nothing here
  * runs in an untraced run. */
final class Tracer(clock: Clock, viewDirName: String)
    extends SparkListener with AdaptiveSparkPlanHelper {

  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  val jobs = TrieMap.empty[Int, JobStat]
  private val stageJob = TrieMap.empty[Int, Int]
  val execs = new ConcurrentLinkedQueue[ExecStat]()
  private val busyNs = new java.util.concurrent.atomic.AtomicLong(0)
  /** Seconds the listener callbacks spent recording. */
  def busyS: Double = busyNs.get / 1e9
  private def busy(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally busyNs.addAndGet(System.nanoTime() - t0)
  }

  def span[T](name: String, parent: Long, req: Long)(body: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = clock.now
    try body(id) finally spans.add(Span(id, parent, req, name, t0, clock.now))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = busy {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).map(_.toLong)
    val exec = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
      .getOrElse(-1L)
    val st = new JobStat(e.jobId, exec, clock.fromEpochMs(e.time))
    st.stages = e.stageIds.size
    jobs.put(e.jobId, st)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = busy {
    for (j <- stageJob.get(e.stageId); st <- jobs.get(j); m <- Option(e.taskMetrics)) {
      st.tasks += 1
      st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      st.scanBytes += m.inputMetrics.bytesRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd => busy {
      Internals.queryExecution(end).foreach { qe =>
        val tag = qe.logical.collectFirst {
          case GlobalLimit(Literal(v: Int, _), _) if v >= Tracer.TagBase => v.toLong
        }.getOrElse(-1L)
        val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
        val files = scans.map(s => s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
        val mvHit = scans.exists(_.relation.location.rootPaths.exists(
          _.toString.contains(viewDirName)))
        execs.add(ExecStat(end.executionId, tag, Internals.durationNs(end) / 1e9,
          clock.fromEpochMs(end.time), files, mvHit))
      }
    }
    case _ =>
  }
}

object Tracer {
  /** Request row limits start here, far above any result size, so the
    * limit never cuts a result and always identifies its request. */
  val TagBase = 1000000

  def install(spark: SparkSession, t: Tracer): Unit = spark.sparkContext.addSparkListener(t)

  /** Whole-stage code generation: (classes compiled, seconds spent). */
  def codegen(): (Long, Double) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      WholeStageCodegenExec.codeGenTime / 1e9)

  def spansJson(t: Tracer): Iterator[String] = t.spans.iterator().asScala.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":${Out.str(s.name)},"start":${s.start},"end":${s.end}}"""
  }
}
