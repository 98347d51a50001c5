package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Mvm
import graft.sources.ManagedTable
import graft.streaming.MvSink

/** Top-level so Spark can build its encoder. */
case class MvChg(id: Long, ts: Timestamp, g: String, v: Long)

/** Streaming materialized-view maintenance: after every batch, the
  * view table must equal a full recompute of the base table —
  * including groups that die when their last row moves away, groups
  * born mid-stream, and replayed (retried) batches. */
class MvSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("ts", TimestampType),
    StructField("g", StringType), StructField("v", LongType)))
  private val sums = Seq("sv" -> col("v"))

  private def ts(s: String) = Timestamp.valueOf(s)

  private def fresh(rows: Seq[MvChg]): (String, String) = {
    val dir = TestSpark.tempDir("graft_mv").toString
    val tableRoot = dir + "/t"
    val viewRoot = dir + "/v"
    ManagedTable.create(spark, tableRoot, schema)
    if (rows.nonEmpty) ManagedTable.insert(spark, tableRoot, rows.toDF())
    MvSink.bootstrap(spark, tableRoot, viewRoot, Seq("g"), "n", sums)
    (tableRoot, viewRoot)
  }

  private def viewSet(viewRoot: String) =
    ManagedTable.read(spark, viewRoot).collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("n"), r.getAs[Long]("sv"))).toSet

  private def recomputeSet(tableRoot: String) =
    Mvm.compute(ManagedTable.read(spark, tableRoot), Seq("g"), "n", sums)
      .collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("n"), r.getAs[Long]("sv"))).toSet

  private def apply1(batch: Seq[MvChg], tableRoot: String, viewRoot: String): Unit =
    MvSink.applyBatch(batch.toDF(), tableRoot, viewRoot,
      keys = Seq("id"), orderCols = Seq("ts"), viewKeys = Seq("g"),
      countCol = "n", sums = sums)

  test("bootstrap equals recompute") {
    val (t, v) = fresh(Seq(
      MvChg(1L, ts("2024-01-01 00:00:01"), "a", 10L),
      MvChg(2L, ts("2024-01-01 00:00:01"), "a", 5L),
      MvChg(3L, ts("2024-01-01 00:00:01"), "b", 7L)))
    assert(viewSet(v) == recomputeSet(t))
    assert(viewSet(v) == Set(("a", 2L, 15L), ("b", 1L, 7L)))
  }

  test("update, insert, and group-move maintain to the recompute — including group death and rebirth") {
    val (t, v) = fresh(Seq(
      MvChg(1L, ts("2024-01-01 00:00:01"), "a", 10L),
      MvChg(2L, ts("2024-01-01 00:00:01"), "b", 5L)))
    // key 2's row MOVES from b to c (b dies), key 9 is new in c
    apply1(Seq(
      MvChg(2L, ts("2024-01-01 00:00:05"), "c", 6L),
      MvChg(9L, ts("2024-01-01 00:00:05"), "c", 1L)), t, v)
    assert(viewSet(v) == recomputeSet(t))
    assert(viewSet(v) == Set(("a", 1L, 10L), ("c", 2L, 7L)))
    // b is reborn
    apply1(Seq(MvChg(9L, ts("2024-01-01 00:00:09"), "b", 2L)), t, v)
    assert(viewSet(v) == recomputeSet(t))
    assert(viewSet(v) == Set(("a", 1L, 10L), ("c", 1L, 6L), ("b", 1L, 2L)))
  }

  test("a replayed batch is a no-op for both tables") {
    val (t, v) = fresh(Seq(MvChg(1L, ts("2024-01-01 00:00:01"), "a", 10L)))
    val batch = Seq(
      MvChg(1L, ts("2024-01-01 00:00:05"), "b", 3L),
      MvChg(2L, ts("2024-01-01 00:00:05"), "a", 4L))
    apply1(batch, t, v)
    val afterOnce = (viewSet(v), recomputeSet(t))
    apply1(batch, t, v) // the foreachBatch retry
    assert((viewSet(v), recomputeSet(t)) == afterOnce)
    assert(viewSet(v) == recomputeSet(t))
  }

  test("in-batch redelivery loses to the winner reduce before it touches the view") {
    val (t, v) = fresh(Seq(MvChg(1L, ts("2024-01-01 00:00:01"), "a", 10L)))
    apply1(Seq(
      MvChg(1L, ts("2024-01-01 00:00:05"), "b", 9L),
      MvChg(1L, ts("2024-01-01 00:00:03"), "c", 99L)), t, v) // stale, loses
    assert(viewSet(v) == recomputeSet(t))
    assert(viewSet(v) == Set(("b", 1L, 9L)))
  }

  test("streamed micro-batches keep the view equal to the recompute") {
    val (t, v) = fresh(Seq(MvChg(1L, ts("2024-01-01 00:00:01"), "a", 10L)))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[MvChg]
    val ckpt = TestSpark.tempDir("graft_mv_ckpt").toString
    val q = MvSink.upsertStreamWithView(mem.toDF(), t, v,
      keys = Seq("id"), orderCols = Seq("ts"), viewKeys = Seq("g"),
      countCol = "n", sums = sums, checkpointDir = ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData(MvChg(2L, ts("2024-01-01 00:00:02"), "a", 1L),
        MvChg(3L, ts("2024-01-01 00:00:02"), "b", 2L))
      q.processAllAvailable()
      assert(viewSet(v) == recomputeSet(t))
      mem.addData(MvChg(1L, ts("2024-01-01 00:00:09"), "b", 20L), // a shrinks
        MvChg(2L, ts("2024-01-01 00:00:09"), "b", 2L))            // a dies
      q.processAllAvailable()
      assert(viewSet(v) == recomputeSet(t))
      assert(viewSet(v) == Set(("b", 3L, 24L)))
    } finally q.stop()
  }

  test("MIN/MAX view: a CDC replacement that removes the extremum repairs") {
    val mins = Seq("lo" -> col("v")); val maxs = Seq("hi" -> col("v"))
    val dir = TestSpark.tempDir("graft_mv_ext").toString
    val (t, v) = (dir + "/t", dir + "/v")
    ManagedTable.create(spark, t, schema)
    ManagedTable.insert(spark, t, Seq(
      MvChg(1L, ts("2024-01-01 00:00:01"), "a", 1L),
      MvChg(2L, ts("2024-01-01 00:00:01"), "a", 9L),
      MvChg(3L, ts("2024-01-01 00:00:01"), "a", 4L)).toDF())
    MvSink.bootstrap(spark, t, v, Seq("g"), "n", sums, mins, maxs)
    def ext(root: String) = ManagedTable.read(spark, root).collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("n"), r.getAs[Long]("sv"),
        r.getAs[Long]("lo"), r.getAs[Long]("hi"))).toSet
    def rc() = ext0(Mvm.compute(ManagedTable.read(spark, t),
      Seq("g"), "n", sums, mins, maxs))
    def ext0(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("n"), r.getAs[Long]("sv"),
        r.getAs[Long]("lo"), r.getAs[Long]("hi"))).toSet
    assert(ext(v) == rc())
    // the upsert REPLACES the max-holder (id 2: 9 -> 2): the pre-image
    // delta deletes the group max, forcing the repair path
    MvSink.applyBatch(
      Seq(MvChg(2L, ts("2024-01-01 00:00:02"), "a", 2L)).toDF(),
      t, v, keys = Seq("id"), orderCols = Seq("ts"), viewKeys = Seq("g"),
      countCol = "n", sums = sums, mins = mins, maxs = maxs)
    assert(ext(v) == rc())
    assert(ext(v) == Set(("a", 3L, 7L, 1L, 4L)))
    // replay the same batch: idempotent (pre-image == winners)
    MvSink.applyBatch(
      Seq(MvChg(2L, ts("2024-01-01 00:00:02"), "a", 2L)).toDF(),
      t, v, keys = Seq("id"), orderCols = Seq("ts"), viewKeys = Seq("g"),
      countCol = "n", sums = sums, mins = mins, maxs = maxs)
    assert(ext(v) == Set(("a", 3L, 7L, 1L, 4L)))
    // a replacement that BECOMES the new min (cheap path, no repair)
    MvSink.applyBatch(
      Seq(MvChg(3L, ts("2024-01-01 00:00:03"), "a", 0L)).toDF(),
      t, v, keys = Seq("id"), orderCols = Seq("ts"), viewKeys = Seq("g"),
      countCol = "n", sums = sums, mins = mins, maxs = maxs)
    assert(ext(v) == rc())
    assert(ext(v) == Set(("a", 3L, 3L, 0L, 2L)))
  }
  test("quarantined rows never reach the view; each batch is one view version") {
    import graft.sources.Constraints
    val (t, v) = fresh(Seq(
      MvChg(1L, ts("2024-01-01 00:00:01"), "a", 10L),
      MvChg(2L, ts("2024-01-01 00:00:01"), "b", 5L)))
    Constraints.save(spark, t, Constraints.Spec(
      primaryKey = Seq("id"), notNull = Nil,
      checks = Seq(Constraints.Check("check_1", "v >= 0")),
      onViolation = "quarantine"), schema)
    def viewVersion = ManagedTable.history(spark, v).last.version
    val v0 = viewVersion
    // key 2's replacement and new key 3 violate the CHECK: both divert,
    // key 2 keeps its old row, and the view must count neither
    apply1(Seq(
      MvChg(1L, ts("2024-01-01 00:00:05"), "b", 4L),
      MvChg(2L, ts("2024-01-01 00:00:05"), "a", -1L),
      MvChg(3L, ts("2024-01-01 00:00:05"), "c", -7L)), t, v)
    assert(ManagedTable.read(spark, Constraints.quarantineRoot(t)).count() == 2)
    assert(viewSet(v) == recomputeSet(t))
    assert(viewSet(v) == Set(("b", 2L, 9L)))
    assert(viewVersion == v0 + 1, "a batch must move the view by one version")
    // a batch whose every row is quarantined changes nothing
    apply1(Seq(MvChg(4L, ts("2024-01-01 00:00:06"), "d", -1L)), t, v)
    assert(viewSet(v) == recomputeSet(t))
    assert(viewVersion == v0 + 1)
  }
}
