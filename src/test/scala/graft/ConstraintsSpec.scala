package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.server.SqlRouter
import graft.sources.{Constraints, ConstraintViolation, ManagedTable}

/** Write-time constraint enforcement: q140's audit arithmetic moved to
  * the mutation choke points — violating writes are refused (REJECT)
  * or diverted (QUARANTINE) before they become part of a snapshot.
  */
class ConstraintsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val router = new SqlRouter(spark)

  private def fresh() = TestSpark.tempDir("graft_cons").toString

  test("sidecar round-trips, validates at CREATE, and rejects unknown columns") {
    val spec = Constraints.Spec(Seq("id"), Seq("name"),
      Seq(Constraints.Check("check_1", "id >= 0 AND name <> 'x'")), "quarantine")
    assert(Constraints.parse(Constraints.render(spec)) == spec)
    assert(graft.util.Json.isValid(Constraints.render(spec)))
    val base = fresh()
    val e = intercept[IllegalArgumentException] {
      router.execute(s"CREATE MANAGED TABLE badc (id BIGINT, PRIMARY KEY (nope)) " +
        s"LOCATION '$base/badc'")
    }
    assert(e.getMessage.contains("unknown column"))
    // the failed CREATE must not leave a half-made table behind
    assert(!new java.io.File(s"$base/badc/_graft_log").exists())
    val e2 = intercept[IllegalArgumentException] {
      router.execute(s"CREATE MANAGED TABLE badc2 (id BIGINT, CHECK (ghost > 0)) " +
        s"LOCATION '$base/badc2'")
    }
    assert(e2.getMessage.contains("does not resolve"))
  }

  test("REJECT: violating INSERT refused loudly with per-rule counts; clean inserts land") {
    val base = fresh()
    router.execute(s"CREATE MANAGED TABLE tr (id BIGINT, name STRING, score BIGINT, " +
      s"PRIMARY KEY (id), NOT NULL (name), CHECK (score BETWEEN 0 AND 100)) " +
      s"LOCATION '$base/tr'")
    router.execute("INSERT INTO tr VALUES (1, 'a', 50), (2, 'b', 99)")
    assert(router.execute("SELECT COUNT(*) FROM tr").collect().head.getLong(0) == 2)

    // NULL name + out-of-domain score + duplicate existing key, all counted
    val e = intercept[Exception] {
      router.execute("INSERT INTO tr VALUES (3, NULL, 50), (4, 'd', 101), (1, 'dup', 10)")
    }
    val msg = e.getMessage
    assert(msg.contains("refused"), msg)
    assert(msg.contains("not_null:name=1"), msg)
    assert(msg.contains("check:check_1=1"), msg)
    assert(msg.contains("pk_exists=1"), msg)
    // nothing landed: reject refuses the whole statement
    assert(router.execute("SELECT COUNT(*) FROM tr").collect().head.getLong(0) == 2)

    // in-batch duplicate PK group: the whole group violates (no winner)
    val e2 = intercept[Exception] {
      router.execute("INSERT INTO tr VALUES (7, 'x', 1), (7, 'y', 2)")
    }
    assert(e2.getMessage.contains("pk_duplicate=2"), e2.getMessage)

    // CHECK follows SQL: UNKNOWN (null score) passes
    router.execute("INSERT INTO tr VALUES (5, 'e', NULL)")
    assert(router.execute("SELECT COUNT(*) FROM tr").collect().head.getLong(0) == 3)

    // a SINGLE null PK row must be refused too — it would slip past
    // both the dup window (pairs only) and the null-rejecting pk_exists
    // join without the explicit pk_null rule
    val e3 = intercept[Exception] {
      router.execute("INSERT INTO tr VALUES (NULL, 'n', 1)")
    }
    assert(e3.getMessage.contains("pk_null=1"), e3.getMessage)
    assert(router.execute("SELECT COUNT(*) FROM tr").collect().head.getLong(0) == 3)
  }

  test("NULL merge/delete keys are refused loudly (silent no-match otherwise)") {
    import spark.implicits._
    val base = fresh()
    val root = s"$base/nk"
    ManagedTable.create(spark, root,
      Seq((1L, "a")).toDF("id", "v").schema)
    ManagedTable.insert(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // upsert: a null-key row never matches (null-rejecting join) and
    // would re-insert on every replay — must fail, not grow
    val e = intercept[IllegalArgumentException] {
      ManagedTable.upsert(spark, root,
        Seq((Option.empty[Long], "x"), (Some(2L), "b2")).toDF("id", "v"), Seq("id"))
    }
    assert(e.getMessage.contains("NULL"), e.getMessage)
    assert(ManagedTable.read(spark, root).count() == 2)
    // deleteKeys: a null key deletes nothing — must fail, not no-op
    val e2 = intercept[IllegalArgumentException] {
      ManagedTable.deleteKeys(spark, root,
        Seq(Option.empty[Long]).toDF("id"), Seq("id"))
    }
    assert(e2.getMessage.contains("NULL"), e2.getMessage)
    assert(ManagedTable.read(spark, root).count() == 2)
  }

  test("QUARANTINE: clean rows land, violating rows divert with rule names") {
    val base = fresh()
    router.execute(s"CREATE MANAGED TABLE tq (id BIGINT, name STRING, score BIGINT, " +
      s"PRIMARY KEY (id), NOT NULL (name), CHECK (score >= 0)) " +
      s"LOCATION '$base/tq' ON VIOLATION QUARANTINE")
    // empty quarantine reads with the right shape before any violation
    val q0 = router.execute("SHOW QUARANTINE tq")
    assert(q0.columns.contains("_violation") && q0.count() == 0)

    router.execute("INSERT INTO tq VALUES (1, 'a', 5), (2, NULL, 5), (3, 'c', -1), (1, 'dupof1', 5)")
    // all four divert: NULL name (2), negative score (3), and BOTH
    // id=1 rows — an in-batch duplicate group has no winner
    val live = router.execute("SELECT id FROM tq").collect().map(_.getLong(0)).toSet
    assert(live.isEmpty, live)
    val q1 = router.execute("SHOW QUARANTINE tq").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"),
        r.getAs[String]("_violation"))).toSet
    assert(q1.exists { case (id, _, v) => id == 2L && v.contains("not_null:name") }, q1)
    assert(q1.exists { case (id, _, v) => id == 3L && v.contains("check:check_1") }, q1)
    // BOTH rows of the id=1 dup group divert (distinct names prove it)
    assert(q1.count { case (id, _, v) => id == 1L && v.contains("pk_duplicate") } == 2, q1)
    assert(q1.size == 4)
    assert(router.execute("SELECT COUNT(*) FROM tq").collect().head.getLong(0) == 0)

    // next batch: clean row + a key colliding with... nothing (table
    // empty), then a real pk_exists after it lands
    router.execute("INSERT INTO tq VALUES (10, 'j', 1)")
    router.execute("INSERT INTO tq VALUES (10, 'again', 2), (11, 'k', 3)")
    val live2 = router.execute("SELECT id FROM tq ORDER BY id").collect().map(_.getLong(0)).toSeq
    assert(live2 == Seq(10L, 11L), live2)
    val q2 = router.execute("SHOW QUARANTINE tq")
      .filter(col("_violation") === "pk_exists").collect()
    assert(q2.map(_.getAs[Long]("id")).toSeq == Seq(10L), q2.mkString)

    // host evolves AFTER the quarantine table exists: the next divert
    // carries the new column — the quarantine table must evolve with
    // it (null-filled backward) instead of crashing the statement
    router.execute("ALTER TABLE tq ADD COLUMN note STRING")
    router.execute("INSERT INTO tq VALUES (12, NULL, 1, 'wide')")
    val q3 = router.execute("SHOW QUARANTINE tq")
      .filter(col("id") === 12).collect()
    assert(q3.length == 1 && q3.head.getAs[String]("note") == "wide", q3.mkString)
    // the pre-evolution quarantined rows read the new column as null
    val old = router.execute("SHOW QUARANTINE tq")
      .filter(col("id") === 2).collect()
    assert(old.length == 1 && old.head.getAs[String]("note") == null, old.mkString)
  }

  test("UPDATE may not modify PRIMARY KEY columns; non-PK updates still guard") {
    val base = fresh()
    router.execute(s"CREATE MANAGED TABLE tu (id BIGINT, name STRING, score BIGINT, " +
      s"PRIMARY KEY (id), NOT NULL (name)) LOCATION '$base/tu'")
    router.execute("INSERT INTO tu VALUES (1, 'a', 5), (2, 'b', 6)")
    // SET on the PK is refused outright: a per-row guard cannot see a
    // minted duplicate (cross-row) and SET id = NULL would null the key
    val e = intercept[ConstraintViolation] {
      ManagedTable.update(spark, s"$base/tu", col("id") === 2, Map("id" -> lit(1L)))
    }
    assert(e.getMessage.contains("PRIMARY KEY"), e.getMessage)
    // nothing committed
    assert(router.execute("SELECT id FROM tu ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // non-PK update still lands (and its row-local guard still fires)
    router.execute("UPDATE tu SET score = 7 WHERE id = 2")
    assert(router.execute("SELECT score FROM tu WHERE id = 2")
      .collect().head.getLong(0) == 7)
    val e2 = intercept[Exception] {
      router.execute("UPDATE tu SET name = NULL WHERE id = 1")
    }
    assert(e2.getMessage.contains("not_null"), e2.getMessage)
  }

  test("UPSERT honors the declared PRIMARY KEY and row rules") {
    val base = fresh()
    router.execute(s"CREATE MANAGED TABLE tu (id BIGINT, name STRING, " +
      s"PRIMARY KEY (id), NOT NULL (name)) LOCATION '$base/tu'")
    router.execute("INSERT INTO tu VALUES (1, 'a'), (2, 'b')")
    // merging by a non-PK column is refused outright
    val e = intercept[Exception] {
      router.execute("UPSERT INTO tu BY (name) VALUES (9, 'a')")
    }
    assert(e.getMessage.contains("PRIMARY KEY"), e.getMessage)
    // merge by the PK replaces and inserts as usual
    router.execute("UPSERT INTO tu BY (id) VALUES (2, 'b2'), (3, 'c')")
    val rows = router.execute("SELECT * FROM tu ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (2L, "b2"), (3L, "c")))
    // a NULL into a NOT NULL column via merge is refused
    val e2 = intercept[Exception] {
      router.execute("UPSERT INTO tu BY (id) VALUES (4, NULL)")
    }
    assert(e2.getMessage.contains("not_null:name=1"), e2.getMessage)
  }

  test("UPDATE cannot rewrite a row into violation") {
    val base = fresh()
    router.execute(s"CREATE MANAGED TABLE tv (id BIGINT, score BIGINT, " +
      s"NOT NULL (score), CHECK (score >= 0)) LOCATION '$base/tv'")
    router.execute("INSERT INTO tv VALUES (1, 5), (2, 10)")
    val e = intercept[Exception] {
      router.execute("UPDATE tv SET score = score - 100 WHERE id = 1")
    }
    def msgs(t: Throwable): String =
      Option(t.getMessage).getOrElse("") +
        Option(t.getCause).map(msgs).getOrElse("")
    assert(msgs(e).contains("UPDATE refused"), msgs(e).take(300))
    // nothing committed, nothing half-updated
    val rows = router.execute("SELECT * FROM tv ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 5L), (2L, 10L)))
    // a clean update still lands
    router.execute("UPDATE tv SET score = score + 1 WHERE id = 2")
    assert(router.execute("SELECT score FROM tv WHERE id = 2")
      .collect().head.getLong(0) == 11)
  }

  test("library-level enforcement: ManagedTable.insert/upsert respect the sidecar") {
    val base = fresh()
    val root = s"$base/t"
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING")
    ManagedTable.create(spark, root, schema)
    Constraints.save(spark, root,
      Constraints.Spec(Seq("id"), Seq("v"), Nil, "reject"), schema)
    ManagedTable.insert(spark, root, Seq((1L, "a")).toDF("id", "v"))
    intercept[Exception] {
      ManagedTable.insert(spark, root, Seq((1L, "dup")).toDF("id", "v"))
    }
    intercept[Exception] {
      ManagedTable.upsert(spark, root,
        Seq((2L, null.asInstanceOf[String])).toDF("id", "v"), Seq("id"))
    }
    assert(ManagedTable.read(spark, root).count() == 1)
  }
}
