package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ManagedTable

/** The DDL/DML surface: create / insert / delete / update / upsert /
  * time travel / vacuum, and the copy-on-write contract — a mutation
  * rewrites ONLY the files that contain affected rows (the 100 TB
  * selective-delete story), everything else carries by reference.
  */
class ManagedTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("grp", StringType),
    StructField("score", DoubleType)))

  private def freshRoot(): String =
    Files.createTempDirectory("graft_mt").toString + "/t"

  private def rows(r: (Long, String, Double)*) =
    r.toSeq.toDF("id", "grp", "score")

  test("create + insert + read round-trips; double create fails loudly") {
    val root = freshRoot()
    ManagedTable.create(spark, root, schema)
    assert(ManagedTable.read(spark, root).count() == 0)
    ManagedTable.insert(spark, root, rows((1L, "a", 1.0), (2L, "b", 2.0)))
    val got = ManagedTable.read(spark, root).as[(Long, String, Double)].collect().toSet
    assert(got == Set((1L, "a", 1.0), (2L, "b", 2.0)))
    intercept[IllegalArgumentException] { ManagedTable.create(spark, root, schema) }
  }

  test("insert enforces the declared schema loudly") {
    val root = freshRoot()
    ManagedTable.create(spark, root, schema)
    val bad = Seq((1L, "a")).toDF("id", "grp")
    intercept[IllegalArgumentException] { ManagedTable.insert(spark, root, bad) }
  }

  test("delete is copy-on-write: untouched files carry over by reference") {
    val root = freshRoot()
    ManagedTable.create(spark, root, schema)
    // two inserts -> two disjoint file sets; the delete hits only the second
    ManagedTable.insert(spark, root, rows((1L, "a", 1.0), (2L, "a", 2.0)))
    ManagedTable.insert(spark, root, rows((3L, "b", 3.0), (4L, "b", 4.0)))
    val before = ManagedTable.history(spark, root).last
    ManagedTable.delete(spark, root, col("grp") === "b" && col("id") === 3L)
    val after = ManagedTable.history(spark, root).last
    assert(ManagedTable.read(spark, root).select("id").as[Long].collect().toSet ==
      Set(1L, 2L, 4L))
    // the grp=a file(s) must appear verbatim in the new snapshot
    val aFiles = before.files.filter(f => after.files.contains(f))
    assert(aFiles.nonEmpty, "expected the unaffected insert's files to carry over")
    // and at least one file (the affected one) must have been rewritten
    assert(after.files.exists(f => !before.files.contains(f)))
  }

  test("delete with no matches leaves the snapshot version unchanged") {
    val root = freshRoot()
    ManagedTable.create(spark, root, schema)
    ManagedTable.insert(spark, root, rows((1L, "a", 1.0)))
    val v = ManagedTable.history(spark, root).last.version
    ManagedTable.delete(spark, root, col("id") === 999L)
    assert(ManagedTable.history(spark, root).last.version == v)
  }

  test("update rewrites matching rows only, unknown set-column fails") {
    val root = freshRoot()
    ManagedTable.create(spark, root, schema)
    ManagedTable.insert(spark, root, rows((1L, "a", 1.0), (2L, "b", 2.0)))
    ManagedTable.update(spark, root, col("grp") === "a",
      Map("score" -> (col("score") * 10)))
    val got = ManagedTable.read(spark, root).as[(Long, String, Double)].collect().toSet
    assert(got == Set((1L, "a", 10.0), (2L, "b", 2.0)))
    intercept[IllegalArgumentException] {
      ManagedTable.update(spark, root, col("grp") === "a", Map("nope" -> lit(1)))
    }
  }

  test("upsert updates matched keys, inserts new ones, rejects dup source keys") {
    val root = freshRoot()
    ManagedTable.create(spark, root, schema)
    ManagedTable.insert(spark, root, rows((1L, "a", 1.0), (2L, "b", 2.0)))
    ManagedTable.upsert(spark, root, rows((2L, "b", 20.0), (3L, "c", 3.0)), Seq("id"))
    val got = ManagedTable.read(spark, root).as[(Long, String, Double)].collect().toSet
    assert(got == Set((1L, "a", 1.0), (2L, "b", 20.0), (3L, "c", 3.0)))
    intercept[IllegalArgumentException] {
      ManagedTable.upsert(spark, root, rows((9L, "x", 1.0), (9L, "x", 2.0)), Seq("id"))
    }
  }

  test("upsert's key broadcast is size-gated: big sources probe without a broadcast") {
    // The r04 verdict's one `weak` item: the probe force-broadcast the
    // merge source's keys unconditionally — an OOM ceiling for large
    // backfill merges. The gate measures distinct keys × width against
    // the session threshold; this test drives BOTH sides of it through
    // the REAL probe builder (mergeKeyFrame) and the end-to-end upsert.
    val root = freshRoot()
    ManagedTable.create(spark, root, schema)
    ManagedTable.insert(spark, root, rows((1L, "a", 1.0), (2L, "b", 2.0)))
    val src = rows((2L, "b", 20.0), (3L, "c", 3.0)).localCheckpoint()
    val keyWidth = 8L + 16L // LongType.defaultSize + row overhead
    def probePlan(): String =
      ManagedTable.read(spark, root)
        .join(ManagedTable.mergeKeyFrame(src, Seq("id"), 2L, keyWidth),
          Seq("id"), "left_semi")
        .queryExecution.executedPlan.toString
    // small source under the default threshold: broadcast fast path kept
    assert(probePlan().contains("BroadcastHashJoin"), "small-source fast path lost")
    // the gate itself: a key count whose estimated bytes exceed the
    // threshold must NOT hint (the planner may still broadcast from its
    // own measured stats — that choice is stats-driven, never forced)
    val tenGiBKeys = (10L << 30) / keyWidth + 1
    assert(!ManagedTable.mergeKeyFrame(src, Seq("id"), tenGiBKeys, keyWidth)
      .queryExecution.logical.toString.contains("Hint"),
      "a 10 GiB key set must not be broadcast-hinted under the default threshold")
    assert(ManagedTable.mergeKeyFrame(src, Seq("id"), 2L, keyWidth)
      .queryExecution.logical.toString.contains("Hint"),
      "a 48 B key set should keep the broadcast hint")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1") // broadcasting off: hint suppressed AND planner abstains
    try {
      // the probe must plan WITHOUT a broadcast end to end
      assert(!probePlan().contains("BroadcastHashJoin"),
        "probe still broadcasts with autoBroadcastJoinThreshold disabled")
      // and the full merge stays correct on the shuffle path
      ManagedTable.upsert(spark, root, rows((2L, "b", 20.0), (3L, "c", 3.0)), Seq("id"))
      val got = ManagedTable.read(spark, root).as[(Long, String, Double)].collect().toSet
      assert(got == Set((1L, "a", 1.0), (2L, "b", 20.0), (3L, "c", 3.0)))
    } finally spark.conf.set(key, prev)
  }

  /** Which data files of version `v` hold the given ids. */
  private def filesHolding(root: String, v: Int, ids: Set[Long]): Set[String] =
    ManagedTable.read(spark, root, Some(v))
      .withColumn("f", input_file_name()).filter(col("id").isin(ids.toSeq: _*))
      .select("f").as[String].collect()
      .map(f => f.substring(f.indexOf("/data/") + 1)).toSet

  private def rowSet(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, String, Double)].collect().toSet

  test("upsertChanges returns the admitted source and the matched keys' pre-image") {
    val root = freshRoot()
    ManagedTable.create(spark, root, schema)
    ManagedTable.insert(spark, root, rows((1L, "a", 1.0), (2L, "a", 2.0)))
    ManagedTable.insert(spark, root, rows((3L, "b", 3.0), (4L, "b", 4.0)))
    val pre = ManagedTable.history(spark, root).last
    val cs = ManagedTable.upsertChanges(spark, root,
      rows((2L, "c", 20.0), (4L, "c", 40.0), (5L, "c", 5.0)), Seq("id"))
    assert(cs.snapshot.version == pre.version + 1)
    assert(cs.snapshot == ManagedTable.history(spark, root).last)
    assert(rowSet(cs.written) == Set((2L, "c", 20.0), (4L, "c", 40.0), (5L, "c", 5.0)))
    assert(rowSet(cs.replaced) == Set((2L, "a", 2.0), (4L, "b", 4.0)))
    assert(cs.written.columns.toSeq == schema.fieldNames.toSeq)
    assert(cs.replaced.columns.toSeq == schema.fieldNames.toSeq)
    // only files holding matched keys were rewritten
    val hit = filesHolding(root, pre.version, Set(2L, 4L))
    assert(pre.files.filterNot(hit.contains).forall(cs.snapshot.files.contains))
    assert(hit.forall(f => !cs.snapshot.files.contains(f)))
    // no match, no replaced row
    val fresh = ManagedTable.upsertChanges(spark, root, rows((9L, "z", 9.0)), Seq("id"))
    assert(fresh.replaced.isEmpty)
    assert(rowSet(fresh.written) == Set((9L, "z", 9.0)))
  }

  test("upsertChanges under quarantine: written and replaced skip diverted rows") {
    import graft.sources.Constraints
    val root = freshRoot()
    ManagedTable.create(spark, root, schema)
    ManagedTable.insert(spark, root, rows((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0)))
    Constraints.save(spark, root, Constraints.Spec(
      primaryKey = Seq("id"), notNull = Nil,
      checks = Seq(Constraints.Check("check_1", "score >= 0")),
      onViolation = "quarantine"), schema)
    // key 2's replacement and new key 7 violate the CHECK and divert:
    // key 2 keeps its old row, so it is neither written nor replaced
    val cs = ManagedTable.upsertChanges(spark, root,
      rows((1L, "b", 10.0), (2L, "b", -2.0), (6L, "b", 6.0), (7L, "b", -7.0)), Seq("id"))
    assert(rowSet(cs.written) == Set((1L, "b", 10.0), (6L, "b", 6.0)))
    assert(rowSet(cs.replaced) == Set((1L, "a", 1.0)))
    assert(rowSet(ManagedTable.read(spark, root)) ==
      Set((1L, "b", 10.0), (2L, "a", 2.0), (3L, "b", 3.0), (6L, "b", 6.0)))
    assert(ManagedTable.read(spark, Constraints.quarantineRoot(root)).count() == 2)
    // every row quarantined: no commit, an empty change set
    val v = ManagedTable.history(spark, root).last.version
    val none = ManagedTable.upsertChanges(spark, root, rows((3L, "x", -1.0)), Seq("id"))
    assert(none.snapshot.version == v && ManagedTable.history(spark, root).last.version == v)
    assert(none.written.isEmpty && none.replaced.isEmpty)
  }

  test("replaceMatched swaps the matched rows in one commit, NULL keys fail") {
    // the view-maintenance write: the rows holding the key set go out,
    // a function of exactly those rows comes in — here key 1's row is
    // dropped (a dead group), key 2's rewritten, key 8 born
    val root = freshRoot()
    ManagedTable.create(spark, root, schema)
    ManagedTable.insert(spark, root, rows((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0)))
    val v = ManagedTable.history(spark, root).last.version
    var seen = Set.empty[(Long, String, Double)]
    val snap = ManagedTable.replaceMatched(spark, root, Seq(1L, 2L, 8L, 2L).toDF("id"),
      Seq("id"), maxRows = 4L) { matched =>
      seen = rowSet(matched)
      matched.filter(col("id") === 2L).withColumn("score", col("score") * 10)
        .unionByName(rows((8L, "c", 8.0)))
    }
    assert(seen == Set((1L, "a", 1.0), (2L, "a", 2.0)))
    assert(snap.version == v + 1 && ManagedTable.history(spark, root).last == snap)
    assert(rowSet(ManagedTable.read(spark, root)) ==
      Set((2L, "a", 20.0), (3L, "b", 3.0), (8L, "c", 8.0)))
    // a NULL key fails in-plan, before anything commits
    val e = intercept[Exception] {
      ManagedTable.replaceMatched(spark, root, Seq(Option(3L), Option.empty[Long]).toDF("id"),
        Seq("id"), maxRows = 2L)(identity)
    }
    assert(e.getMessage.contains("NULL in key column 'id'"), e.getMessage)
    // an empty key source (bound 0) commits nothing
    ManagedTable.replaceMatched(spark, root, Seq.empty[Long].toDF("id"), Seq("id"), 0L)(identity)
    assert(ManagedTable.history(spark, root).last.version == snap.version)
  }

  test("deleteKeys rewrites exactly the files holding matched keys; empty key frame is a no-op") {
    val root = freshRoot()
    ManagedTable.create(spark, root, schema)
    ManagedTable.insert(spark, root, rows((1L, "a", 1.0), (2L, "a", 2.0)))
    ManagedTable.insert(spark, root, rows((3L, "b", 3.0), (4L, "b", 4.0)))
    val pre = ManagedTable.history(spark, root).last
    val hit = filesHolding(root, pre.version, Set(3L))
    val post = ManagedTable.deleteKeys(spark, root, Seq(3L, 99L).toDF("id"), Seq("id"))
    assert(post.version == pre.version + 1 && post.op == "delete")
    assert(rowSet(ManagedTable.read(spark, root)) ==
      Set((1L, "a", 1.0), (2L, "a", 2.0), (4L, "b", 4.0)))
    assert(pre.files.filterNot(hit.contains).forall(post.files.contains))
    assert(hit.forall(f => !post.files.contains(f)))
    // absent keys and an empty key frame commit nothing
    val same = ManagedTable.deleteKeys(spark, root, Seq(99L).toDF("id"), Seq("id"))
    assert(same.version == post.version)
    val empty = ManagedTable.deleteKeys(spark, root, Seq.empty[Long].toDF("id"), Seq("id"))
    assert(empty.version == post.version)
    assert(ManagedTable.history(spark, root).last.version == post.version)
  }

  private def liveFiles(root: String): Seq[String] = ManagedTable.history(spark, root).last.files

  /** Bytes of `root`'s data files `rels`, from the filesystem. */
  private def bytesOf(root: String, rels: Seq[String]): Long =
    rels.map(r => java.nio.file.Files.size(java.nio.file.Paths.get(root, r))).sum

  /** Run `body` with `spark.sql.files.maxPartitionBytes` set to `target`. */
  private def withTarget[T](target: Long)(body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, target.toString)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("packing: ten upserts into a small table keep one data file; reads equal the model") {
    val root = freshRoot()
    ManagedTable.create(spark, root, schema)
    val rnd = new scala.util.Random(41L)
    var model = (1L to 40L).map(i => i -> (s"g${i % 3}", i.toDouble)).toMap
    ManagedTable.insert(spark, root,
      model.toSeq.map { case (i, (g, v)) => (i, g, v) }.toDF("id", "grp", "score").coalesce(1))
    assert(liveFiles(root).size == 1)
    var next = 100L
    for (batch <- 1 to 10) {
      // a few existing keys (so the one file is affected) and new ones
      val hits = rnd.shuffle(model.keys.toList).take(1 + rnd.nextInt(4))
      val fresh = (next until next + rnd.nextInt(4)).toList
      next += 10
      val src = (hits ++ fresh).map(k => (k, s"g${rnd.nextInt(3)}", rnd.nextInt(100).toDouble))
      ManagedTable.upsert(spark, root, src.toDF("id", "grp", "score").repartition(3), Seq("id"))
      model ++= src.map { case (k, g, v) => k -> (g, v) }
      assert(liveFiles(root).size == 1, s"batch $batch left ${liveFiles(root)}")
      assert(rowSet(ManagedTable.read(spark, root)) ==
        model.toSeq.map { case (i, (g, v)) => (i, g, v) }.toSet, s"batch $batch")
    }
  }

  test("packing: an upsert matching no key leaves every file untouched and adds one file") {
    val root = freshRoot()
    ManagedTable.create(spark, root, schema)
    ManagedTable.insert(spark, root, rows((1L, "a", 1.0), (2L, "a", 2.0)))
    ManagedTable.insert(spark, root, rows((3L, "b", 3.0)))
    val pre = liveFiles(root)
    ManagedTable.upsert(spark, root,
      rows((7L, "c", 7.0), (8L, "c", 8.0), (9L, "d", 9.0)).repartition(3), Seq("id"))
    val post = liveFiles(root)
    assert(post.take(pre.size) == pre && post.size == pre.size + 1, s"$pre -> $post")
    assert(ManagedTable.read(spark, root).count() == 6)
  }

  test("packing: a view stays one file across ingest batches") {
    val router = new graft.server.SqlRouter(spark)
    val dir = Files.createTempDirectory("graft_pack_view").toString
    router.execute(s"CREATE MANAGED TABLE pv LOCATION '$dir/t' AS " +
      "SELECT id, concat('s', CAST(id % 3 AS STRING)) AS g, id AS v FROM range(300)")
    router.execute(
      s"CREATE MATERIALIZED VIEW pv_by_g OVER pv KEY (g) COUNT n SUM (v AS sv) LOCATION '$dir/v'")
    def ingest(rows: Seq[(Long, String, Long)]) =
      router.ingest("pv", router.batchFrame("pv", Seq("id", "g", "v"),
        rows.map { case (i, g, v) => Seq(i.toString, g, v.toString) }), Seq("id"), Seq("v"))
    // the first batch touches every group; later ones one group each
    ingest(Seq((1L, "s0", 5L), (2L, "s1", 6L), (3L, "s2", 7L), (1000L, "s0", 1L)))
    assert(liveFiles(s"$dir/v").size == 1)
    for (b <- 1 to 4) {
      ingest(Seq((10L * b, s"s${b % 3}", b.toLong), (2000L + b, s"s${b % 3}", 1L)))
      assert(liveFiles(s"$dir/v").size == 1, s"batch $b")
    }
    assert(spark.sql("SELECT g, n, sv FROM pv_by_g").collect().map(_.toSeq).toSet ==
      spark.sql("SELECT g, count(*), sum(v) FROM pv GROUP BY g").collect().map(_.toSeq).toSet)
  }

  test("packing: a rewrite of N bytes yields ceil(N / maxPartitionBytes) files") {
    val root = freshRoot()
    ManagedTable.create(spark, root, schema)
    ManagedTable.insert(spark, root, (1L to 3000L).map(i => (i, s"grp-$i", i * 1.5))
      .toDF("id", "grp", "score").coalesce(1))
    val n = bytesOf(root, liveFiles(root))
    // 3.5 targets: four files, with room for the one upserted row
    withTarget(n * 2 / 7) {
      ManagedTable.upsert(spark, root, rows((5L, "x", 0.0)), Seq("id"))
      assert(liveFiles(root).size == 4, liveFiles(root))
    }
    assert(ManagedTable.read(spark, root).count() == 3000)
  }

  test("packing: DELETE and UPDATE rewrites pack the same way") {
    val root = freshRoot()
    ManagedTable.create(spark, root, schema)
    (0 until 4).foreach { b =>
      ManagedTable.insert(spark, root, (1L to 500L).map(i => (b * 1000L + i, s"g$b", i * 1.0))
        .toDF("id", "grp", "score"))
    }
    assert(liveFiles(root).size > 1)
    // every file affected: one file under the default target
    ManagedTable.update(spark, root, lit(true), Map("score" -> (col("score") + 1)))
    assert(liveFiles(root).size == 1)
    ManagedTable.delete(spark, root, col("id") % 7 === 0)
    assert(liveFiles(root).size == 1)
    val ids = (0 until 4).flatMap(b => (1L to 500L).map(b * 1000L + _))
    assert(ManagedTable.read(spark, root).count() == ids.count(_ % 7 != 0))
    // a lowered target: ceil(bytes of the affected files / target) files
    val n = bytesOf(root, liveFiles(root))
    val target = n / 3 + 1
    withTarget(target) {
      ManagedTable.update(spark, root, col("id") > 0L, Map("grp" -> upper(col("grp"))))
      assert(liveFiles(root).size == 3, liveFiles(root))
      // every file holds a multiple of 5 (the rows were spread round-robin)
      val m = bytesOf(root, liveFiles(root))
      ManagedTable.delete(spark, root, col("id") % 5 === 0)
      assert(liveFiles(root).size == ((m + target - 1) / target).toInt, liveFiles(root))
    }
    assert(rowSet(ManagedTable.read(spark, root)) == ids.filter(i => i % 7 != 0 && i % 5 != 0)
      .map(i => (i, s"G${i / 1000}", (i % 1000) + 1.0)).toSet)
  }

  test("time travel reads any retained version; history records operations") {
    val root = freshRoot()
    ManagedTable.create(spark, root, schema)
    ManagedTable.insert(spark, root, rows((1L, "a", 1.0)))
    ManagedTable.insert(spark, root, rows((2L, "b", 2.0)))
    ManagedTable.delete(spark, root, col("id") === 1L)
    val h = ManagedTable.history(spark, root)
    assert(h.map(_.op) == Seq("create", "insert", "insert", "delete"))
    assert(ManagedTable.read(spark, root, asOf = Some(1)).count() == 1)
    assert(ManagedTable.read(spark, root, asOf = Some(2)).count() == 2)
    assert(ManagedTable.read(spark, root).count() == 1)
    intercept[IllegalArgumentException] {
      ManagedTable.read(spark, root, asOf = Some(99))
    }
  }

  test("randomized DML sequences agree with the relational model, at every version") {
    // q121/q133 gate ONE fixed mutation sequence against the DuckDB
    // replay; this fuzzes the same contract: seeded-random op
    // sequences applied both to the table and to an in-memory
    // relational model, with the FULL content compared at the end and
    // the snapshot log spot-checked by time-traveling to recorded
    // versions. Any copy-on-write slip — lost row, double row,
    // half-applied update, wrong manifest — diverges.
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 1 to 3) {
      val root = freshRoot()
      ManagedTable.create(spark, root, schema)
      var model = Map.empty[Long, (String, Double)]
      var nextId = 0L
      var trail = Vector(0 -> model) // (version, model state)
      for (_ <- 1 to 8) {
        rnd.nextInt(4) match {
          case 0 =>
            val batch = (1 to 1 + rnd.nextInt(3)).map { _ =>
              nextId += 1; (nextId, s"g${rnd.nextInt(3)}", rnd.nextInt(100).toDouble)
            }
            ManagedTable.insert(spark, root, rows(batch: _*))
            model ++= batch.map(r => r._1 -> ((r._2, r._3)))
          case 1 =>
            val g = s"g${rnd.nextInt(3)}"
            ManagedTable.delete(spark, root, col("grp") === g)
            model = model.filter(_._2._1 != g)
          case 2 =>
            val m = 2 + rnd.nextInt(2)
            ManagedTable.update(spark, root, col("id") % m === 0,
              Map("score" -> (col("score") + 10)))
            model = model.map { case (id, (g, s)) =>
              id -> ((g, if (id % m == 0) s + 10 else s)) }
          case 3 =>
            val existing = rnd.shuffle(model.keys.toList).take(rnd.nextInt(2))
            val fresh = (1 to 1 + rnd.nextInt(2)).map { _ => nextId += 1; nextId }
            val batch = (existing ++ fresh).map(id => (id, "u", 5.0 + id))
            ManagedTable.upsert(spark, root, rows(batch: _*), Seq("id"))
            model ++= batch.map(r => r._1 -> ((r._2, r._3)))
        }
        trail :+= ManagedTable.history(spark, root).last.version -> model
      }
      val got = ManagedTable.read(spark, root).as[(Long, String, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == model, s"trial $trial: final state diverged from the model")
      // time travel: two random recorded versions must read EXACTLY the
      // model as it was then (a no-op mutation records the same version
      // twice — identical states, so any recorded pair is checkable)
      for (_ <- 1 to 2) {
        val (v, m) = trail(rnd.nextInt(trail.size))
        val at = ManagedTable.read(spark, root, asOf = Some(v))
          .as[(Long, String, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
        assert(at == m, s"trial $trial: read(asOf=$v) diverged from the recorded model")
      }
    }
  }

  test("restore rolls back metadata-only; vacuumed targets fail loudly") {
    val root = freshRoot()
    ManagedTable.create(spark, root, schema)
    ManagedTable.insert(spark, root, rows((1L, "a", 1.0)))          // v1
    ManagedTable.insert(spark, root, rows((2L, "b", 2.0)))          // v2
    ManagedTable.delete(spark, root, col("id") === 1L)              // v3
    val r = ManagedTable.restore(spark, root, 2)                    // v4 = v2's files
    assert(r.version == 4 && r.op == "restore(v2)")
    assert(ManagedTable.read(spark, root).select("id").as[Long].collect().toSet ==
      Set(1L, 2L), "restore must bring back the deleted row")
    // the restore carried v2's files BY REFERENCE — no new data files
    assert(r.files.toSet == ManagedTable.history(spark, root)
      .find(_.version == 2).get.files.toSet)
    // roll forward: restore v3 again
    ManagedTable.restore(spark, root, 3)
    assert(ManagedTable.read(spark, root).select("id").as[Long].collect().toSet == Set(2L))
    // a target outside the retention window fails loudly
    ManagedTable.delete(spark, root, col("id") === 999L) // no-op, keeps head
    ManagedTable.vacuum(spark, root, retainVersions = 1)
    val e = intercept[IllegalArgumentException] { ManagedTable.restore(spark, root, 1) }
    assert(e.getMessage.contains("no version 1") || e.getMessage.contains("vacuumed"),
      e.getMessage)
  }

  test("withRetry: concurrent inserts all land under the optimistic loop") {
    val root = freshRoot()
    ManagedTable.create(spark, root, schema)
    // 6 threads race inserts; every loser re-reads and re-commits via
    // withRetry, so ALL rows must land across versions 1..6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val fs = (1 to 6).map { i =>
      scala.concurrent.Future {
        ManagedTable.withRetry(maxRetries = 20) {
          ManagedTable.insert(spark, root, rows((i.toLong, s"t$i", i.toDouble)))
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(fs), scala.concurrent.duration.Duration(120, "s"))
    pool.shutdown()
    assert(ManagedTable.read(spark, root).select("id").as[Long].collect().toSet ==
      (1L to 6L).toSet)
    assert(ManagedTable.history(spark, root).map(_.version) == (0 to 6))
    // exhausted retries rethrow the conflict
    intercept[ManagedTable.CommitConflict] {
      ManagedTable.withRetry(maxRetries = 2) {
        throw new ManagedTable.CommitConflict("synthetic")
      }
    }
  }

  test("concurrent commit of the same version loses loudly") {
    val root = freshRoot()
    ManagedTable.create(spark, root, schema)
    ManagedTable.insert(spark, root, rows((1L, "a", 1.0)))
    // two writers that both read latest=v1 and race to commit v2: the
    // second create(overwrite=false) must lose with CommitConflict
    val snap = ManagedTable.history(spark, root).last
    val next = snap.copy(version = snap.version + 1, op = "insert")
    ManagedTable.commit(spark, root, next)
    intercept[ManagedTable.CommitConflict] {
      ManagedTable.commit(spark, root, next)
    }
  }

  test("add column is metadata-only: old files carry over, reads fill nulls") {
    val root = freshRoot()
    ManagedTable.create(spark, root, schema)
    ManagedTable.insert(spark, root, rows((1L, "a", 1.0)))
    val before = ManagedTable.history(spark, root).last
    ManagedTable.addColumn(spark, root, "tag", StringType)
    val after = ManagedTable.history(spark, root).last
    assert(after.files == before.files, "add column must not rewrite data")
    val got = ManagedTable.read(spark, root).collect().head
    assert(got.getAs[String]("tag") == null)
    // inserts now require the widened schema; dup column fails loudly
    ManagedTable.insert(spark, root,
      Seq((2L, "b", 2.0, "t")).toDF("id", "grp", "score", "tag"))
    assert(ManagedTable.read(spark, root).count() == 2)
    intercept[IllegalArgumentException] {
      ManagedTable.addColumn(spark, root, "tag", StringType)
    }
  }

  test("optimize rewrites fragmented files into a bounded clustered set") {
    val root = freshRoot()
    ManagedTable.create(spark, root, schema)
    for (i <- 1 to 5) // five inserts -> at least five data files
      ManagedTable.insert(spark, root, rows((i.toLong, "g", i.toDouble)))
    val frag = ManagedTable.history(spark, root).last
    assert(frag.files.size >= 5)
    val opt = ManagedTable.compactTable(spark, root, numFiles = 2, Seq("id"))
    assert(opt.op == "compact" && opt.files.size <= 2, opt.files.toString)
    assert(ManagedTable.read(spark, root).select("id").as[Long].collect().sorted.toSeq ==
      (1L to 5L))
    // pre-compact files are unreferenced now; vacuum sweeps them
    val removed = ManagedTable.vacuum(spark, root, retainVersions = 1)
    assert(frag.files.forall(removed.contains), s"expected ${frag.files} swept, got $removed")
  }

  test("vacuum removes unreferenced files, keeps retained versions readable") {
    val root = freshRoot()
    ManagedTable.create(spark, root, schema)
    ManagedTable.insert(spark, root, rows((1L, "a", 1.0), (2L, "a", 2.0)))
    ManagedTable.delete(spark, root, col("id") === 1L) // orphans the insert's file
    ManagedTable.insert(spark, root, rows((3L, "b", 3.0)))
    val removed = ManagedTable.vacuum(spark, root, retainVersions = 2)
    assert(removed.nonEmpty, "expected the pre-delete file to be swept")
    val h = ManagedTable.history(spark, root)
    assert(h.size == 2, s"expected 2 retained manifests, got ${h.map(_.version)}")
    // both retained versions still read cleanly
    assert(ManagedTable.read(spark, root, asOf = Some(h.head.version)).count() == 1)
    assert(ManagedTable.read(spark, root).as[(Long, String, Double)].collect().toSet ==
      Set((2L, "a", 2.0), (3L, "b", 3.0)))
  }
}
