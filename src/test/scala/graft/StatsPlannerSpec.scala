package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.server.SqlRouter
import graft.sources.TableStatistics

/** The statistics-consuming planner (VERDICT r5 item 3): ANALYZE
  * collects rows/ndv/histograms, StatsJoinPlanner turns them into join
  * orders and broadcast build sides. These tests pin the DECISIONS
  * (plan shape), their STABILITY (same results with or without stats),
  * and the statistics lifecycle (persistence, staleness invalidation).
  */
class StatsPlannerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fresh() = TestSpark.tempDir("graft_sp").toString

  /** Managed-table roots of the scan leaves, in optimized-plan order —
    * the join order the planner actually chose. */
  private def leafTables(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.head.toUri.getPath
        case _ => "?"
      }
    }

  private def tableAt(paths: Seq[String], name: String): Int =
    paths.indexWhere(_.contains(s"/$name/"))

  test("join order follows ANALYZE stats and flips when the stats flip") {
    val r = new SqlRouter(spark)
    val base = fresh()
    r.execute(s"CREATE MANAGED TABLE f (k1 BIGINT, k2 BIGINT, v BIGINT) LOCATION '$base/f'")
    r.execute(s"CREATE MANAGED TABLE d1 (k1 BIGINT, a BIGINT) LOCATION '$base/d1'")
    r.execute(s"CREATE MANAGED TABLE d2 (k2 BIGINT, b BIGINT) LOCATION '$base/d2'")
    r.execute("INSERT INTO f SELECT id % 50 AS k1, id % 40 AS k2, id AS v FROM range(2000)")
    r.execute("INSERT INTO d1 SELECT id AS k1, id AS a FROM range(5)")
    r.execute("INSERT INTO d2 SELECT id AS k2, id AS b FROM range(1000)")
    val q = "SELECT f.v, d1.a, d2.b FROM f " +
      "JOIN d1 ON f.k1 = d1.k1 JOIN d2 ON f.k2 = d2.k2"
    // no stats yet: the rule must not touch the plan (written order)
    val pre = leafTables(r.execute(q))
    assert(tableAt(pre, "f") == 0, pre)
    val expected = r.execute(q).collect().map(_.toString).sorted.toSeq

    Seq("f", "d1", "d2").foreach(t => r.execute(s"ANALYZE TABLE $t"))
    // the selective dimension joins FIRST: some join combines exactly
    // {f, d1} (the 200-row intermediate), never {f, d2} first. (The
    // DP may put f on either side of that join — pairing, not leaf
    // order, is the decision under test.)
    assert(joinPairs(r.execute(q)).contains(Set("f", "d1")),
      joinPairs(r.execute(q)))
    assert(r.execute(q).collect().map(_.toString).sorted.toSeq == expected)

    // flip the sizes; stats are invalidated by the mutations, then
    // re-collected — the chosen pairing must flip with them
    r.execute("DELETE FROM d1")
    r.execute("INSERT INTO d1 SELECT id AS k1, id AS a FROM range(1000)")
    r.execute("DELETE FROM d2")
    r.execute("INSERT INTO d2 SELECT id AS k2, id AS b FROM range(5)")
    Seq("f", "d1", "d2").foreach(t => r.execute(s"ANALYZE TABLE $t"))
    assert(joinPairs(r.execute(q)).contains(Set("f", "d2")),
      joinPairs(r.execute(q)))
  }

  /** For every Join node: which of the named tables its subtree
    * combines — the pairing decisions of the chosen order. */
  private def joinPairs(df: DataFrame): Seq[Set[String]] =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        leafTablesOf(j).flatMap(p =>
          "/(\\w+)/data/".r.findFirstMatchIn(p).map(_.group(1))).toSet
    }

  private def leafTablesOf(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] =
    p.collectLeaves().collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.head.toUri.getPath
        case _ => "?"
      }
    }

  test("row mutations invalidate stats so the planner never acts on stale ones") {
    val r = new SqlRouter(spark)
    val base = fresh()
    r.execute(s"CREATE MANAGED TABLE tinv (k BIGINT) LOCATION '$base/tinv'")
    r.execute("INSERT INTO tinv SELECT id AS k FROM range(10)")
    r.execute("ANALYZE TABLE tinv")
    assert(TableStatistics.get(s"$base/tinv").exists(_.rows == 10))
    r.execute("INSERT INTO tinv SELECT id AS k FROM range(90)")
    assert(TableStatistics.get(s"$base/tinv").isEmpty, "stale stats must drop")
    assert(r.execute("SHOW STATS tinv").count() == 0)
    r.execute("ANALYZE TABLE tinv")
    assert(TableStatistics.get(s"$base/tinv").exists(_.rows == 100))
    val st = r.execute("SHOW STATS FOR tinv").collect()
    assert(st.length == 1 && st.head.getAs[Long]("table_rows") == 100)
  }

  test("histogram selectivity drives a broadcast the file sizes cannot justify") {
    val r = new SqlRouter(spark)
    val base = fresh()
    r.execute(s"CREATE MANAGED TABLE bf (k BIGINT, v BIGINT) LOCATION '$base/bf'")
    r.execute(s"CREATE MANAGED TABLE bd (k BIGINT, w BIGINT) LOCATION '$base/bd'")
    r.execute("INSERT INTO bf SELECT id % 1000 AS k, id AS v FROM range(4000)")
    // 20k rows, w uniform over 0..999 — the ANALYZE histogram knows
    // `w < 5` keeps ~0.5%, the parquet footprint does not
    r.execute("INSERT INTO bd SELECT id % 1000 AS k, id % 1000 AS w FROM range(20000)")
    Seq("bf", "bd").foreach(t => r.execute(s"ANALYZE TABLE $t"))
    val bytesOnDisk = TableStatistics.get(s"$base/bd").get.bytes
    val q = "SELECT bf.v, s.w FROM bf JOIN " +
      "(SELECT * FROM bd WHERE w < 5) s ON bf.k = s.k"
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // threshold far below the table's on-disk size, far above the
      // filtered estimate (≈100 rows × avg row width)
      val thr = math.min(bytesOnDisk / 2, 8192L)
      assert(thr > 1000, s"fixture too small: $bytesOnDisk")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr.toString)
      val planned = r.execute(q).queryExecution.executedPlan.toString
      assert(planned.contains("BroadcastHashJoin"), planned.take(800))
      // control: without stats the static plan cannot justify it
      TableStatistics.invalidate(s"$base/bf")
      TableStatistics.invalidate(s"$base/bd")
      val control = r.execute(q).queryExecution.executedPlan.toString
      assert(!control.contains("BroadcastHashJoin"), control.take(800))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("stats persist beside the snapshot log and reload only when current") {
    val r = new SqlRouter(spark)
    val base = fresh()
    r.execute(s"CREATE MANAGED TABLE tp (k BIGINT, s STRING) LOCATION '$base/tp'")
    r.execute("INSERT INTO tp SELECT id AS k, CAST(id % 7 AS STRING) AS s FROM range(500)")
    r.execute("ANALYZE TABLE tp")
    val ts = TableStatistics.get(s"$base/tp").get
    TableStatistics.invalidate(s"$base/tp")
    // a new router OPENing the table restores the persisted stats
    val r2 = new SqlRouter(spark)
    r2.execute(s"OPEN MANAGED TABLE tp2 LOCATION '$base/tp'")
    assert(TableStatistics.get(s"$base/tp") == Some(ts))
    // ...but not once the snapshot moved past the analyzed version
    r2.execute("INSERT INTO tp2 SELECT id AS k, 'x' AS s FROM range(3)")
    TableStatistics.invalidate(s"$base/tp")
    val r3 = new SqlRouter(spark)
    r3.execute(s"OPEN MANAGED TABLE tp3 LOCATION '$base/tp'")
    assert(TableStatistics.get(s"$base/tp").isEmpty,
      "version-mismatched sidecar must be ignored")
  }

  test("TableStats render/parse round-trips") {
    import graft.sources.TableStatistics.{render, parse, TableStats, ColStats}
    val ts = TableStats(3, 1234L, 98765L, Map(
      "k" -> ColStats(42L, Some(-1.5), Some(9.75), Seq(-1.5, 0.0, 2.5, 9.75)),
      "s" -> ColStats(7L, None, None, Nil)))
    assert(parse(render(ts)) == ts)
    assert(graft.util.Json.isValid(render(ts)), render(ts))
    val empty = TableStats(0, 0L, 0L, Map.empty)
    assert(parse(render(empty)) == empty)
    // column names that NEED Json.escape must round-trip to the same
    // key — a verbatim append of the escaped char would silently
    // detach the column's stats after reload (ADVICE r6)
    // base64 sketches ride the same flat format (no ';'/'|' in the
    // alphabet; '=' only as trailing padding after the field's own)
    val withSketch = TableStats(2, 5L, 50L, Map(
      "k" -> ColStats(5L, Some(1.0), Some(5.0), Seq(1.0, 3.0, 5.0),
        sketch = java.util.Base64.getEncoder.encodeToString(
          Array[Byte](1, 2, -3, 127, 0, 42)))))
    assert(parse(render(withSketch)) == withSketch)
    val exotic = TableStats(1, 10L, 100L, Map(
      "a\nb" -> ColStats(1L, None, None, Nil),
      "t\tq\"w\\e" -> ColStats(2L, Some(0.0), Some(1.0), Nil),
      "ctl\u0001x" -> ColStats(3L, None, None, Nil)))
    assert(parse(render(exotic)) == exotic)
    assert(graft.util.Json.isValid(render(exotic)), render(exotic))
    // the merged-histogram provenance flag rides the sidecar too
    val merged = TableStats(4, 9L, 90L, Map(
      "v" -> ColStats(9L, Some(0.0), Some(8.0), (0 to 8).map(_.toDouble),
        histMerged = true)))
    assert(parse(render(merged)) == merged)
    assert(parse(render(merged)).cols("v").histMerged)
  }

  test("mergeHistograms: CDF-weighted combine, degenerate sides, disjoint ranges") {
    import graft.sources.TableStatistics.mergeHistograms
    val uniform = (0 to 8).map(i => i * 100.0) // 800 rows uniform on [0,800]
    // merging with itself is a fixed point
    assert(mergeHistograms(uniform, 800, uniform, 800) == uniform)
    // empty/zero-row sides pass the other through
    assert(mergeHistograms(Nil, 0, uniform, 800) == uniform)
    assert(mergeHistograms(uniform, 800, Nil, 0) == uniform)
    // disjoint equal-mass ranges: the merged median must sit at the
    // junction, lower quartile inside A, upper inside B
    val a = (0 to 8).map(i => i * 1.0)        // [0,8]
    val b = (0 to 8).map(i => 100.0 + i)      // [100,108]
    val m = mergeHistograms(a, 1000, b, 1000)
    assert(m.head == 0.0 && m.last == 108.0)
    // combined p=0.25 is halfway through A's own mass; p=0.75 halfway
    // through B's
    assert(m(2) == 4.0 && m(6) == 104.0, m)
    assert(m(4) >= 8.0 && m(4) <= 100.0, m)   // median at the junction
    // 3:1 mass skew pulls 6 of 8 boundaries into the heavy side
    val skew = mergeHistograms(a, 3000, b, 1000)
    assert(skew.count(_ <= 8.0) >= 6, skew)
    // the merged result is monotone non-decreasing, always
    Seq(m, skew).foreach(h =>
      assert(h.sliding(2).forall { case Seq(x, y) => x <= y }, h))
  }

  test("registry keys carry scheme/authority; nested roots resolve longest-prefix") {
    import graft.sources.TableStatistics.{TableStats, ColStats}
    val a = TableStats(1, 10L, 100L, Map.empty[String, ColStats])
    val b = TableStats(2, 20L, 200L, Map.empty[String, ColStats])
    val outer = TableStats(3, 30L, 300L, Map.empty[String, ColStats])
    val inner = TableStats(4, 40L, 400L, Map.empty[String, ColStats])
    val m = TableStatistics.registry
    val before = m.toMap
    try {
      m.clear()
      // same path, different filesystem: must NOT collide
      def key(p: String) = TableStatistics.norm(p)
      m.put(key("file:///tmp/t1"), a)
      m.put(key("hdfs://nn1/tmp/t1"), b)
      assert(TableStatistics.get("file:///tmp/t1") == Some(a))
      assert(TableStatistics.get("hdfs://nn1/tmp/t1") == Some(b))
      // nested managed roots: the file belongs to the INNER table
      m.clear()
      m.put(key("/w/outer"), outer)
      m.put(key("/w/outer/inner"), inner)
      assert(TableStatistics.lookupByPath("/w/outer/inner/part-0.parquet")
        == Some(inner))
      assert(TableStatistics.lookupByPath("/w/outer/part-0.parquet")
        == Some(outer))
      // scan leaves carry qualified URIs; registration form must not
      // matter — qualified scan ↔ scheme-less registration and
      // qualified scan ↔ qualified registration both resolve, while a
      // qualified registration never leaks across filesystems
      m.clear()
      m.put(key("file:///w2/t"), a)
      m.put(key("hdfs://nn1/w2/t"), b)
      assert(TableStatistics.lookupByPath("file:/w2/t/part-0.parquet") == Some(a))
      assert(TableStatistics.lookupByPath("hdfs://nn1/w2/t/part-0.parquet") == Some(b))
      m.clear()
      m.put(key("/w3/t"), a)
      assert(TableStatistics.lookupByPath("file:/w3/t/part-0.parquet") == Some(a))
    } finally { m.clear(); before.foreach { case (k, v) => m.put(k, v) } }
  }

  test("scheme-qualified managed roots still drive stats broadcast hints") {
    val r = new SqlRouter(spark)
    val base = fresh()
    r.execute(s"CREATE MANAGED TABLE sqf (k BIGINT, v BIGINT) LOCATION 'file://$base/sqf'")
    r.execute(s"CREATE MANAGED TABLE sqd (k BIGINT, w BIGINT) LOCATION 'file://$base/sqd'")
    r.execute("INSERT INTO sqf SELECT id % 1000 AS k, id AS v FROM range(4000)")
    r.execute("INSERT INTO sqd SELECT id % 1000 AS k, id % 1000 AS w FROM range(20000)")
    Seq("sqf", "sqd").foreach(t => r.execute(s"ANALYZE TABLE $t"))
    val stats = TableStatistics.get(s"file://$base/sqd")
    assert(stats.nonEmpty, "ANALYZE must register under the qualified root")
    val q = "SELECT sqf.v, s.w FROM sqf JOIN " +
      "(SELECT * FROM sqd WHERE w < 5) s ON sqf.k = s.k"
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      val thr = math.min(stats.get.bytes / 2, 8192L)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr.toString)
      val planned = r.execute(q).queryExecution.executedPlan.toString
      assert(planned.contains("BroadcastHashJoin"), planned.take(800))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("ANALYZE INCREMENTAL scans only appended files, matches a full rescan") {
    val r = new SqlRouter(spark)
    val base = fresh()
    r.execute(s"CREATE MANAGED TABLE ti (k BIGINT, v DOUBLE) LOCATION '$base/ti'")
    r.execute("INSERT INTO ti SELECT id % 700 AS k, CAST(id AS DOUBLE) AS v FROM range(5000)")
    r.execute("ANALYZE TABLE ti")
    val full0 = TableStatistics.get(s"$base/ti").get
    assert(full0.cols("k").sketch.nonEmpty, "full ANALYZE must persist sketches")
    val filesBefore = graft.sources.ManagedTable
      .history(spark, s"$base/ti").last.files.size

    // append widens k's domain and v's max
    r.execute("INSERT INTO ti SELECT 700 + id % 300 AS k, CAST(9000000 + id AS DOUBLE) AS v FROM range(3000)")
    val inc = r.execute("ANALYZE TABLE ti INCREMENTAL").collect().head
    val filesAfter = graft.sources.ManagedTable
      .history(spark, s"$base/ti").last.files.size
    val scanned = inc.getAs[Long]("n_files_scanned")
    assert(scanned == (filesAfter - filesBefore).toLong,
      s"must scan only the appended files, scanned=$scanned of $filesAfter")
    val incStats = TableStatistics.get(s"$base/ti").get
    assert(incStats.rows == 8000)
    assert(incStats.cols("v").max.contains(9002999.0))
    assert(incStats.cols("v").min.contains(0.0))
    // histograms are MAINTAINED (delta-pass + CDF merge), flagged as
    // merged, and must approximate a full rescan: every merged bucket
    // boundary's CDF position under the full-rescan histogram must be
    // within one bucket width of its nominal i/8 position
    assert(incStats.cols("v").histMerged)
    assert(incStats.cols("v").hist != full0.cols("v").hist,
      "appending 3000 rows at v~9e6 must move the histogram")

    // sketch union == single-pass sketch: ndv must match a full
    // re-ANALYZE exactly (register-wise max is the same state)
    r.execute("ANALYZE TABLE ti")
    val full1 = TableStatistics.get(s"$base/ti").get
    assert(incStats.cols("k").ndv == full1.cols("k").ndv,
      s"inc=${incStats.cols("k").ndv} full=${full1.cols("k").ndv}")
    assert(incStats.cols("v").ndv == full1.cols("v").ndv)
    // full re-ANALYZE resets the merged flag to exact
    assert(!full1.cols("v").histMerged)
    // merged ≈ full-rescan: compare CDF positions of the merged
    // boundaries under the exact histogram (declared bound: 1.5
    // bucket widths = 0.1875, generous for GK's own 0.001 tolerance
    // plus the piecewise-uniform assumption)
    def cdf(bounds: Seq[Double], x: Double): Double =
      if (x <= bounds.head) 0.0
      else if (x >= bounds.last) 1.0
      else {
        val i = math.min(bounds.lastIndexWhere(_ <= x), bounds.size - 2)
        val (lo, hi) = (bounds(i), bounds(i + 1))
        (i + (if (hi > lo) (x - lo) / (hi - lo) else 1.0)) / (bounds.size - 1)
      }
    incStats.cols("v").hist.zipWithIndex.foreach { case (b, i) =>
      val pos = cdf(full1.cols("v").hist, b)
      assert(math.abs(pos - i / 8.0) <= 0.1875,
        s"merged boundary $i=$b sits at exact-CDF $pos (want ${i / 8.0})")
    }

    // a re-run with nothing new is metadata-only
    val noop = r.execute("ANALYZE TABLE ti INCREMENTAL").collect().head
    assert(noop.getAs[Long]("n_files_scanned") == 0L)

    // file REMOVAL breaks the append-only premise: falls back to full
    r.execute("DELETE FROM ti WHERE k < 100")
    val fb = r.execute("ANALYZE TABLE ti INCREMENTAL").collect().head
    val filesNow = graft.sources.ManagedTable
      .history(spark, s"$base/ti").last.files.size
    assert(fb.getAs[Long]("n_files_scanned") == filesNow.toLong,
      s"delete must force the full path: ${fb.getAs[Long]("n_files_scanned")} vs $filesNow")
    val afterDel = TableStatistics.get(s"$base/ti").get
    assert(afterDel.rows ==
      r.execute("SELECT COUNT(*) n FROM ti").collect().head.getLong(0))
  }

  test("histogram drift budget: repeated merges self-escalate to a full rescan") {
    val r = new SqlRouter(spark)
    val base = fresh()
    r.execute(s"CREATE MANAGED TABLE td (k BIGINT, v DOUBLE) LOCATION '$base/td'")
    r.execute("INSERT INTO td SELECT id % 50 AS k, CAST(id AS DOUBLE) AS v FROM range(2000)")
    r.execute("ANALYZE TABLE td")
    assert(TableStatistics.get(s"$base/td").get.histMerges == 0)
    // drive merge cycles; each INSERT + INCREMENTAL adds one
    // piecewise-linear combination. The count budget is MaxHistMerges;
    // the cycle AFTER the budget fills must run the full path WITHOUT
    // anyone asking for it — and the response must say so.
    var sawEscalation = false
    var cycles = 0
    while (!sawEscalation && cycles < TableStatistics.MaxHistMerges + 2) {
      cycles += 1
      r.execute(s"INSERT INTO td SELECT id % 50 AS k, " +
        s"CAST(${cycles * 10000} + id AS DOUBLE) AS v FROM range(500)")
      val resp = r.execute("ANALYZE TABLE td INCREMENTAL").collect().head
      val mode = resp.getAs[String]("mode")
      val st = TableStatistics.get(s"$base/td").get
      if (mode.startsWith("full_drift")) {
        sawEscalation = true
        // escalation = exact again: counters reset, hist_mode exact
        assert(st.histMerges == 0 && st.mergedRows == 0L, st)
        assert(st.cols.values.forall(!_.histMerged), "escalation must be exact")
      } else {
        assert(mode == "merged", mode)
        assert(st.histMerges == cycles, s"cycle $cycles -> ${st.histMerges}")
        assert(st.cols("v").histMerged)
      }
    }
    assert(sawEscalation,
      s"no self-escalation within ${cycles} merge cycles")
    // drift state round-trips through the sidecar (restart path)
    r.execute("INSERT INTO td VALUES (1, 1.0)")
    r.execute("ANALYZE TABLE td INCREMENTAL").collect()
    val persisted = TableStatistics.get(s"$base/td").get
    TableStatistics.invalidate(s"$base/td")
    val reloaded = TableStatistics.load(spark, s"$base/td").get
    assert(reloaded.histMerges == persisted.histMerges &&
      reloaded.mergedRows == persisted.mergedRows)
  }

  test("drift budget: the delta-mass fraction alone escalates a huge merge") {
    val r = new SqlRouter(spark)
    val base = fresh()
    r.execute(s"CREATE MANAGED TABLE tf (k BIGINT, v DOUBLE) LOCATION '$base/tf'")
    r.execute("INSERT INTO tf SELECT id AS k, CAST(id AS DOUBLE) AS v FROM range(1000)")
    r.execute("ANALYZE TABLE tf")
    // one merge under the fraction budget passes...
    r.execute("INSERT INTO tf SELECT id AS k, CAST(id AS DOUBLE) AS v FROM range(400)")
    val ok = r.execute("ANALYZE TABLE tf INCREMENTAL").collect().head
    assert(ok.getAs[String]("mode") == "merged", ok)
    // ...then a delta that pushes merged rows past half the table
    // escalates even though the merge COUNT is tiny
    r.execute("INSERT INTO tf SELECT id AS k, CAST(id AS DOUBLE) AS v FROM range(3000)")
    val esc = r.execute("ANALYZE TABLE tf INCREMENTAL").collect().head
    assert(esc.getAs[String]("mode").startsWith("full_drift(merged_frac"),
      esc.getAs[String]("mode"))
    val st = TableStatistics.get(s"$base/tf").get
    assert(st.histMerges == 0 && !st.cols("v").histMerged)
  }

  test("broadcast hints are restricted to legally-buildable sides") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
    val r = new SqlRouter(spark)
    val base = fresh()
    r.execute(s"CREATE MANAGED TABLE hs (k BIGINT, v BIGINT) LOCATION '$base/hs'")
    r.execute(s"CREATE MANAGED TABLE hb (k BIGINT, w BIGINT) LOCATION '$base/hb'")
    r.execute("INSERT INTO hs SELECT id AS k, id AS v FROM range(5)")
    r.execute("INSERT INTO hb SELECT id % 100 AS k, id AS w FROM range(20000)")
    Seq("hs", "hb").foreach(t => r.execute(s"ANALYZE TABLE $t"))
    def hints(sql: String): Seq[JoinHint] =
      r.execute(sql).queryExecution.optimizedPlan.collect {
        case j: Join => j.hint
      }
    // tiny hs on the PRESERVED side of a left outer join: Spark cannot
    // build from it, so the rule must not hint it (it would only warn)
    val lo = hints("SELECT hs.v, hb.w FROM hs LEFT JOIN hb ON hs.k = hb.k")
    assert(lo.forall(_.leftHint.isEmpty), lo)
    // ...but the same side of an INNER join is fair game
    val in = hints("SELECT hs.v, hb.w FROM hs JOIN hb ON hs.k = hb.k")
    assert(in.exists(_.leftHint.exists(_.strategy.nonEmpty)), in)
    // full outer: neither side may ever be hinted
    val fo = hints("SELECT hs.v, hb.w FROM hs FULL JOIN hb ON hs.k = hb.k")
    assert(fo.forall(h => h.leftHint.isEmpty && h.rightHint.isEmpty), fo)
  }

  test("semi/anti/outer joins get cardinality estimates: joins above them broadcast") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
    import org.apache.spark.sql.catalyst.plans.{LeftSemi, LeftAnti, LeftOuter}
    val r = new SqlRouter(spark)
    val base = fresh()
    r.execute(s"CREATE MANAGED TABLE ef (k BIGINT, v BIGINT) LOCATION '$base/ef'")
    r.execute(s"CREATE MANAGED TABLE es (k BIGINT) LOCATION '$base/es'")
    r.execute(s"CREATE MANAGED TABLE ew (k BIGINT) LOCATION '$base/ew'")
    r.execute(s"CREATE MANAGED TABLE eb (k BIGINT, w BIGINT) LOCATION '$base/eb'")
    r.execute("INSERT INTO ef SELECT id % 100 AS k, id AS v FROM range(20000)")
    r.execute("INSERT INTO es SELECT id AS k FROM range(5)")       // selective semi
    r.execute("INSERT INTO ew SELECT id AS k FROM range(95)")      // wide anti filter
    r.execute("INSERT INTO eb SELECT id % 100 AS k, id AS w FROM range(20000)")
    Seq("ef", "es", "ew", "eb").foreach(t => r.execute(s"ANALYZE TABLE $t"))
    def topHints(sql: String): Seq[(JoinHint, String)] =
      r.execute(sql).queryExecution.optimizedPlan.collect {
        case j: Join => (j.hint, j.joinType.toString)
      }
    // SEMI below: ef filtered to ~5/100 keys is estimated ~1000 rows —
    // the join ABOVE it must hint that side for broadcast (the q06
    // shape; before this, estimate() returned None for semi joins and
    // the hint stage went blind)
    val semi = topHints(
      "SELECT f.v, eb.w FROM (SELECT * FROM ef WHERE k IN (SELECT k FROM es)) f " +
        "JOIN eb ON f.k = eb.k")
    assert(semi.exists { case (h, jt) =>
      jt.contains("Inner") && h.leftHint.exists(_.strategy.nonEmpty) }, semi)
    // ANTI below: NOT EXISTS against 95 of 100 keys leaves ~1000 rows
    // — same broadcast decision through the anti estimate (q07 shape)
    val anti = topHints(
      "SELECT f.v, eb.w FROM (SELECT * FROM ef WHERE NOT EXISTS " +
        "(SELECT 1 FROM ew WHERE ew.k = ef.k)) f JOIN eb ON f.k = eb.k")
    assert(anti.exists { case (h, jt) =>
      jt.contains("Inner") && h.leftHint.exists(_.strategy.nonEmpty) }, anti)
    // LEFT OUTER below: es LEFT JOIN ef preserves the 5-row side, est
    // = max(inner, preserved) — still comfortably broadcastable above
    val lo = topHints(
      "SELECT x.k, eb.w FROM (SELECT es.k FROM es LEFT JOIN ef ON es.k = ef.k) x " +
        "JOIN eb ON x.k = eb.k")
    assert(lo.exists { case (h, jt) =>
      jt.contains("Inner") && h.leftHint.exists(_.strategy.nonEmpty) }, lo)
    // results stay correct under the hints
    val n = r.execute(
      "SELECT count(*) AS n FROM (SELECT * FROM ef WHERE k IN (SELECT k FROM es)) f " +
        "JOIN eb ON f.k = eb.k").head.getLong(0)
    assert(n == 1000L * 200L, s"semi+join row count $n")
  }

  test("null fraction drives selectivity: IS [NOT] NULL filters flip broadcast decisions") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
    val r = new SqlRouter(spark)
    val base = fresh()
    // nd: x is 99% NULL — `x IS NOT NULL` keeps ~200 of 20000 rows;
    // nc: x is 99% NON-null — `x IS NULL` keeps ~200
    // p is an incompressible payload so avg row width is realistic —
    // these tables must not parquet-compress to near-zero bytes/row,
    // or EVERY estimate (even 20000 rows) would fit under the threshold
    r.execute(s"CREATE MANAGED TABLE nd (k BIGINT, x BIGINT, p BIGINT) LOCATION '$base/nd'")
    r.execute(s"CREATE MANAGED TABLE nc (k BIGINT, x BIGINT, p BIGINT) LOCATION '$base/nc'")
    r.execute(s"CREATE MANAGED TABLE nb (k BIGINT, w BIGINT) LOCATION '$base/nb'")
    r.execute("INSERT INTO nd SELECT id % 100 AS k, " +
      "IF(id % 100 = 0, id, CAST(NULL AS BIGINT)) AS x, " +
      "CAST(hash(id) AS BIGINT) * 7919 AS p FROM range(20000)")
    r.execute("INSERT INTO nc SELECT id % 100 AS k, " +
      "IF(id % 100 = 0, CAST(NULL AS BIGINT), id) AS x, " +
      "CAST(hash(id) AS BIGINT) * 7919 AS p FROM range(20000)")
    r.execute("INSERT INTO nb SELECT id % 100 AS k, id AS w FROM range(20000)")
    Seq("nd", "nc", "nb").foreach(t => r.execute(s"ANALYZE TABLE $t"))
    // SHOW STATS surfaces the exact counts
    val nn = r.execute("SHOW STATS FOR nd").collect()
      .find(_.getString(0) == "x").get.getAs[Long]("n_nulls")
    assert(nn == 19800L, s"n_nulls $nn")
    def leftHinted(sql: String): Boolean =
      r.execute(sql).queryExecution.optimizedPlan.collect {
        case j: Join => j.hint
      }.exists(_.leftHint.exists(_.strategy.nonEmpty))
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // a threshold only the ~200-row null-filtered estimate fits under —
    // the unfiltered 20000-row side exceeds it by far, so a hint can
    // only come from the null-fraction selectivity
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (8 * 1024).toString)
    try {
      assert(leftHinted("SELECT f.k, nb.w FROM " +
        "(SELECT * FROM nd WHERE x IS NOT NULL) f JOIN nb ON f.k = nb.k"),
        "IS NOT NULL over a 99%-null column must estimate small and broadcast")
      assert(leftHinted("SELECT f.k, nb.w FROM " +
        "(SELECT * FROM nc WHERE x IS NULL) f JOIN nb ON f.k = nb.k"),
        "IS NULL over a 1%-null column must estimate small and broadcast")
      // the complements estimate LARGE: no hint
      assert(!leftHinted("SELECT f.k, nb.w FROM " +
        "(SELECT * FROM nc WHERE x IS NOT NULL) f JOIN nb ON f.k = nb.k"))
      assert(!leftHinted("SELECT f.k, nb.w FROM " +
        "(SELECT * FROM nd WHERE x IS NULL) f JOIN nb ON f.k = nb.k"))
      // a PROVEN-zero-nulls column (p — never the join key, so the
      // filter survives optimization) is not "unknown": IS NULL over
      // it estimates ~empty and broadcasts — the exact statistic the
      // round collects must not be conflated with its absence
      assert(leftHinted("SELECT f.k, nb.w FROM " +
        "(SELECT * FROM nd WHERE p IS NULL) f JOIN nb ON f.k = nb.k"),
        "IS NULL over a proven-no-nulls column must estimate ~empty")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("incremental ANALYZE merges null counts additively, matching a full rescan") {
    val r = new SqlRouter(spark)
    val base = fresh()
    r.execute(s"CREATE MANAGED TABLE ninc (k BIGINT, x BIGINT) LOCATION '$base/ninc'")
    r.execute("INSERT INTO ninc SELECT id AS k, " +
      "IF(id % 2 = 0, id, CAST(NULL AS BIGINT)) AS x FROM range(100)")
    r.execute("ANALYZE TABLE ninc")
    r.execute("INSERT INTO ninc SELECT id + 100 AS k, " +
      "IF(id % 10 = 0, CAST(NULL AS BIGINT), id) AS x FROM range(50)")
    val inc = r.execute("ANALYZE TABLE ninc INCREMENTAL").collect().head
    assert(inc.getAs[Long]("n_files_scanned") < 10, inc) // delta-only
    def nNulls(c: String): Long = r.execute("SHOW STATS FOR ninc").collect()
      .find(_.getString(0) == c).get.getAs[Long]("n_nulls")
    assert(nNulls("x") == 50L + 5L, s"x nulls ${nNulls("x")}")
    assert(nNulls("k") == 0L)
    // and the incremental result equals the full rescan's
    r.execute("ANALYZE TABLE ninc")
    assert(nNulls("x") == 55L && nNulls("k") == 0L)
  }

  test("Selinger DP beats the greedy's myopic start and is a fixed point") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val r = new SqlRouter(spark)
    val base = fresh()
    // the shape greedy gets wrong: it MUST start from the smallest
    // relation (s, 10 rows), whose only edge goes to the 100k hub h —
    // a 100k-row intermediate. The DP instead joins h with the
    // selective d first (100 rows) and brings s last: cost ~200 vs
    // ~100100 under the same estimates.
    r.execute(s"CREATE MANAGED TABLE dps (ks BIGINT, sv BIGINT) LOCATION '$base/dps'")
    r.execute(s"CREATE MANAGED TABLE dph (ks BIGINT, kh BIGINT) LOCATION '$base/dph'")
    r.execute(s"CREATE MANAGED TABLE dpd (kh BIGINT, w BIGINT) LOCATION '$base/dpd'")
    r.execute("INSERT INTO dps SELECT id AS ks, id AS sv FROM range(10)")
    r.execute("INSERT INTO dph SELECT id % 10 AS ks, id AS kh FROM range(100000)")
    r.execute("INSERT INTO dpd SELECT id AS kh, id AS w FROM range(100)")
    val q = "SELECT dps.sv, dph.kh, dpd.w FROM dps " +
      "JOIN dph ON dps.ks = dph.ks JOIN dpd ON dph.kh = dpd.kh"
    val expected = r.execute(q).collect().map(_.toString).sorted.toSeq
    Seq("dps", "dph", "dpd").foreach(t => r.execute(s"ANALYZE TABLE $t"))

    val df = r.execute(q)
    // some join in the chosen plan combines EXACTLY {h, d} — the
    // selective pair greedy can never form (it grows from s only)
    val joinLeafSets = df.queryExecution.optimizedPlan.collect {
      case j: Join => j.collectLeaves().collect {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.head.toUri.getPath
          case _ => "?"
        }
      }.map(p => Seq("dps", "dph", "dpd").find(n => p.contains(s"/$n/")).getOrElse("?"))
        .toSet
    }
    assert(joinLeafSets.contains(Set("dph", "dpd")),
      s"DP did not form the h-d pair first: $joinLeafSets")
    assert(df.collect().map(_.toString).sorted.toSeq == expected)

    // fixed point: re-applying the rule to the already-optimized plan
    // is an identity (the strict-improvement gate refuses a tie)
    val rule = new graft.plans.StatsJoinPlanner
    val opt = df.queryExecution.optimizedPlan
    assert(rule(opt) eq opt, "DP rewrite must be a fixed point")
  }

  test("anti estimate uses containment, not the inner-join product (multiplying keys)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
    val r = new SqlRouter(spark)
    val base = fresh()
    r.execute(s"CREATE MANAGED TABLE af (k BIGINT, v BIGINT) LOCATION '$base/af'")
    r.execute(s"CREATE MANAGED TABLE aw (k BIGINT) LOCATION '$base/aw'")
    r.execute(s"CREATE MANAGED TABLE ab (k BIGINT, w BIGINT) LOCATION '$base/ab'")
    r.execute("INSERT INTO af SELECT id % 100 AS k, id AS v FROM range(20000)")
    // the anti filter covers only 5 of af's 100 keys but MULTIPLIES:
    // 5000 dups per key, so inner ≈ 20000·25000/100 = 5M >> |af| — the
    // old `le.rows - min(le.rows, inner.rows)` proxy clamped the anti
    // output to 1 row and hinted broadcast on a ~19000-row side
    r.execute("INSERT INTO aw SELECT id % 5 AS k FROM range(25000)")
    r.execute("INSERT INTO ab SELECT id % 100 AS k, id AS w FROM range(20000)")
    Seq("af", "aw", "ab").foreach(t => r.execute(s"ANALYZE TABLE $t"))
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // a threshold the TRUE anti output (19000 rows × avg width × 2
    // slack) clearly exceeds, so only the bogus 1-row estimate hints
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (16 * 1024).toString)
    try {
      val hints = r.execute(
        "SELECT f.v, ab.w FROM (SELECT * FROM af WHERE NOT EXISTS " +
          "(SELECT 1 FROM aw WHERE aw.k = af.k)) f JOIN ab ON f.k = ab.k")
        .queryExecution.optimizedPlan.collect {
          case j: Join => (j.hint, j.joinType.toString)
        }
      assert(hints.forall { case (h, jt) =>
        !(jt.contains("Inner") && h.leftHint.exists(_.strategy.nonEmpty)) },
        s"anti side wrongly hinted for broadcast: $hints")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }
}
