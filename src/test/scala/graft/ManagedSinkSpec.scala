package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ManagedTable
import graft.streaming.ManagedSink

/** Top-level so Spark can build its encoder (inner classes need outer
  * scopes the analyzer can't reach). */
case class Chg(id: Long, ts: Timestamp, v: Double)

/** Streaming CDC apply into a managed table: micro-batched change
  * streams converge to the latest row per key, across any batching of
  * the same changes, with in-batch order irrelevant.
  */
class ManagedSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("ts", TimestampType),
    StructField("v", DoubleType)))

  private def ts(s: String) = Timestamp.valueOf(s)

  private def freshTable(): String = {
    val root = TestSpark.tempDir("graft_sink").toString + "/t"
    ManagedTable.create(spark, root, schema)
    root
  }

  test("applyBatch keeps the latest row per key and inserts new keys") {
    val root = freshTable()
    ManagedSink.applyBatch(
      Seq(Chg(1L, ts("2024-01-01 00:00:02"), 2.0),
        Chg(1L, ts("2024-01-01 00:00:01"), 1.0), // stale, loses the reduce
        Chg(2L, ts("2024-01-01 00:00:01"), 5.0)).toDF(),
      root, keys = Seq("id"), orderCols = Seq("ts"))
    val got = ManagedTable.read(spark, root).as[Chg].collect()
      .map(c => c.id -> c.v).toMap
    assert(got == Map(1L -> 2.0, 2L -> 5.0))
  }

  test("streamed micro-batches converge to the batch latest-version result") {
    val root = freshTable()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Chg]
    val ckpt = TestSpark.tempDir("graft_sink_ckpt").toString
    val q = ManagedSink.upsertStream(mem.toDF(), root,
      keys = Seq("id"), orderCols = Seq("ts"), checkpointDir = ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData(Chg(1L, ts("2024-01-01 00:00:01"), 1.0),
        Chg(2L, ts("2024-01-01 00:00:01"), 2.0))
      q.processAllAvailable()
      mem.addData(Chg(1L, ts("2024-01-01 00:00:05"), 10.0), // update key 1
        Chg(3L, ts("2024-01-01 00:00:02"), 3.0))            // insert key 3
      q.processAllAvailable()
      val got = ManagedTable.read(spark, root).as[Chg].collect()
        .map(c => c.id -> c.v).toMap
      assert(got == Map(1L -> 10.0, 2L -> 2.0, 3L -> 3.0))
      // the table is versioned: one upsert commit per non-empty batch
      assert(ManagedTable.history(spark, root).map(_.op).count(_ == "merge") == 2)
    } finally q.stop()
  }

  test("a constrained target enforces at the stream's choke point: violators quarantine") {
    import graft.sources.Constraints
    val root = TestSpark.tempDir("graft_sink_c").toString + "/t"
    ManagedTable.create(spark, root, schema)
    // declare after create, the way a table gains rules post-hoc:
    // PK = the sink's merge keys, plus a domain rule with quarantine
    Constraints.save(spark, root, Constraints.Spec(
      primaryKey = Seq("id"), notNull = Nil,
      checks = Seq(Constraints.Check("check_1", "v >= 0")),
      onViolation = "quarantine"), schema)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Chg]
    val ckpt = TestSpark.tempDir("graft_sink_c_ckpt").toString
    val q = ManagedSink.upsertStream(mem.toDF(), root,
      keys = Seq("id"), orderCols = Seq("ts"), checkpointDir = ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData(Chg(1L, ts("2024-01-01 00:00:01"), 1.0),
        Chg(2L, ts("2024-01-01 00:00:01"), -5.0)) // violates v >= 0
      q.processAllAvailable()
      // the clean row landed; the violator was diverted, not dropped
      val got = ManagedTable.read(spark, root).as[Chg].collect()
        .map(c => c.id -> c.v).toMap
      assert(got == Map(1L -> 1.0))
      val quarantined = ManagedTable.read(spark, Constraints.quarantineRoot(root))
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("_violation")))
      assert(quarantined.toSeq == Seq((2L, "check:check_1")))
      // a later clean version of the same key flows through normally
      mem.addData(Chg(2L, ts("2024-01-01 00:00:09"), 7.0))
      q.processAllAvailable()
      assert(ManagedTable.read(spark, root).as[Chg].collect()
        .map(c => c.id -> c.v).toMap == Map(1L -> 1.0, 2L -> 7.0))
    } finally q.stop()
  }
}
