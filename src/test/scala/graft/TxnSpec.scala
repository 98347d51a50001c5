package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{ManagedTable, Txn}

/** Multi-statement transactions: several mutations across several
  * managed tables publish atomically via one marker create — readers
  * see all or none, conflicts abort cleanly, and a crash between stage
  * and publish leaves every table at its old version.
  */
class TxnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fresh(): (String, String) = {
    val base = TestSpark.tempDir("graft_txn").toString
    val (a, b) = (s"$base/a", s"$base/b")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING")
    ManagedTable.create(spark, a, schema)
    ManagedTable.create(spark, b, schema)
    import spark.implicits._
    ManagedTable.insert(spark, a, Seq((1L, "a1")).toDF("id", "v"))
    ManagedTable.insert(spark, b, Seq((1L, "b1")).toDF("id", "v"))
    (a, b)
  }

  /** Run `f` on a FRESH thread and return its result — the "another
    * reader/writer" vantage point (transactions are thread-local). */
  private def onOtherThread[T](f: => T): T = {
    var out: Either[Throwable, T] = null
    val t = new Thread(() => out = try Right(f) catch { case e: Throwable => Left(e) })
    t.start(); t.join()
    out.fold(throw _, identity)
  }

  private def rows(root: String): Set[(Long, String)] =
    ManagedTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("two-table transaction publishes atomically; mid-flight it is invisible") {
    val (a, b) = fresh()
    import spark.implicits._
    Txn.transaction(spark, a) {
      ManagedTable.insert(spark, a, Seq((2L, "a2")).toDF("id", "v"))
      ManagedTable.insert(spark, b, Seq((2L, "b2")).toDF("id", "v"))
      // read-your-own-writes on the staging thread
      assert(rows(a) == Set((1L, "a1"), (2L, "a2")))
      // ...but any other reader still sees the old versions of BOTH
      assert(onOtherThread(rows(a)) == Set((1L, "a1")))
      assert(onOtherThread(rows(b)) == Set((1L, "b1")))
    }
    // published: both visible everywhere
    assert(onOtherThread(rows(a)) == Set((1L, "a1"), (2L, "a2")))
    assert(rows(b) == Set((1L, "b1"), (2L, "b2")))
  }

  test("a failing body aborts: both tables stay at the old version") {
    val (a, b) = fresh()
    import spark.implicits._
    val boom = intercept[RuntimeException] {
      Txn.transaction(spark, a) {
        ManagedTable.insert(spark, a, Seq((3L, "a3")).toDF("id", "v"))
        ManagedTable.insert(spark, b, Seq((3L, "b3")).toDF("id", "v"))
        throw new RuntimeException("boom")
      }
    }
    assert(boom.getMessage == "boom")
    assert(rows(a) == Set((1L, "a1")) && rows(b) == Set((1L, "b1")))
    // the version slots reopened: a plain insert lands at the staged version
    ManagedTable.insert(spark, a, Seq((4L, "a4")).toDF("id", "v"))
    assert(rows(a) == Set((1L, "a1"), (4L, "a4")))
  }

  test("concurrent conflicting transaction aborts cleanly, other tables rolled back") {
    val (a, b) = fresh()
    import spark.implicits._
    Txn.transaction(spark, a) {
      ManagedTable.insert(spark, a, Seq((5L, "a5")).toDF("id", "v")) // stages a@v2
      // a SECOND transaction on another thread: b first (stages fine),
      // then a — whose v2 slot is held by OUR stage -> CommitConflict
      val e = intercept[ManagedTable.CommitConflict] {
        onOtherThread {
          Txn.transaction(spark, b) {
            ManagedTable.insert(spark, b, Seq((5L, "b5")).toDF("id", "v"))
            ManagedTable.insert(spark, a, Seq((9L, "a9")).toDF("id", "v"))
          }
        }
      }
      assert(e.getMessage.contains("unpublished transaction"), e.getMessage)
      // the loser's staged b-manifest was deleted by its abort
      assert(onOtherThread(rows(b)) == Set((1L, "b1")))
    }
    // winner published; loser left no trace
    assert(rows(a) == Set((1L, "a1"), (5L, "a5")))
    assert(rows(b) == Set((1L, "b1")))
  }

  test("crash between stage and publish: old versions everywhere; rollbackStale clears the slots") {
    val (a, b) = fresh()
    import spark.implicits._
    // simulate the crash by staging tagged manifests directly with a
    // marker that never gets published (the transaction died here)
    val marker = s"$a/_graft_log/_txn/dead-beef.committed"
    def stageGhost(root: String): Unit = {
      val cur = ManagedTable.history(spark, root).last
      ManagedTable.commit(spark, root, ManagedTable.Snapshot(
        cur.version + 1, "insert", cur.schemaDdl, cur.files, Some(marker))): Unit
    }
    stageGhost(a); stageGhost(b)
    // readers see the old versions only
    assert(rows(a) == Set((1L, "a1")) && rows(b) == Set((1L, "b1")))
    assert(ManagedTable.history(spark, a).last.version == 1)
    // a plain writer is blocked loudly, naming the remedy
    val e = intercept[ManagedTable.CommitConflict] {
      ManagedTable.insert(spark, a, Seq((6L, "a6")).toDF("id", "v"))
    }
    assert(e.getMessage.contains("rollbackStale"), e.getMessage)
    // operator clears the dead slots; writes flow again
    assert(Txn.rollbackStale(spark, a) == Seq(2))
    assert(Txn.rollbackStale(spark, b) == Seq(2))
    ManagedTable.insert(spark, a, Seq((6L, "a6")).toDF("id", "v"))
    assert(rows(a) == Set((1L, "a1"), (6L, "a6")))
    // rollbackStale never touches a PUBLISHED transaction's manifests
    Txn.transaction(spark, a) {
      ManagedTable.insert(spark, a, Seq((7L, "a7")).toDF("id", "v"))
    }
    assert(Txn.rollbackStale(spark, a).isEmpty)
    assert(rows(a) == Set((1L, "a1"), (6L, "a6"), (7L, "a7")))
  }

  test("multi-writer stress: conflicting transactions retry to a lossless end state") {
    val (a, b) = fresh()
    import spark.implicits._
    val writers = 4
    val perWriter = 5
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until writers).map { w =>
      new Thread(() => {
        try {
          for (i <- 0 until perWriter) {
            val id = 100L + w * perWriter + i
            var done = false
            var attempts = 0
            while (!done) {
              attempts += 1
              if (attempts > 200)
                throw new IllegalStateException(s"writer $w starved on id $id")
              try {
                // one atomic pair: the same id lands in BOTH tables or neither
                Txn.transaction(spark, a) {
                  ManagedTable.insert(spark, a, Seq((id, s"a$id")).toDF("id", "v"))
                  ManagedTable.insert(spark, b, Seq((id, s"b$id")).toDF("id", "v"))
                }
                done = true
              } catch {
                case _: ManagedTable.CommitConflict =>
                  Thread.sleep(5L + scala.util.Random.nextInt(45)) // jittered retry
              }
            }
          }
        } catch { case e: Throwable => errs.add(e): Unit }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty, s"writer failures: ${errs.toArray.mkString("; ")}")
    // lossless: every writer's every pair landed exactly once, atomically
    val ids = (0 until writers * perWriter).map(k => 100L + k)
    assert(rows(a) == Set((1L, "a1")) ++ ids.map(id => (id, s"a$id")).toSet)
    assert(rows(b) == Set((1L, "b1")) ++ ids.map(id => (id, s"b$id")).toSet)
    // and no orphaned staged manifests survived the contention
    assert(Txn.rollbackStale(spark, a).isEmpty)
    assert(Txn.rollbackStale(spark, b).isEmpty)
  }

  test("nested transactions are refused") {
    val (a, _) = fresh()
    intercept[IllegalArgumentException] {
      Txn.transaction(spark, a) {
        Txn.transaction(spark, a) { () }
      }
    }
  }
}
