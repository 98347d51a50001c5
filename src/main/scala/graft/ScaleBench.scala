package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up measurement harness: times the heaviest kernels on 1x/2x/
  * 5x/10x replicas of the sf0.1 corpus to turn the repo's central
  * "scale-safe" design arguments into MEASURED time-vs-n curves
  * (recorded in SCALING.md).
  *
  * Corpus construction preserves the duplication structure instead of
  * inflating it: copy k rewrites every token t -> "t_k" (copy 0 keeps
  * the original text). A bijective token remap preserves every
  * shingle-set relation WITHIN a copy (same Jaccard, same clusters,
  * same dup density), while making copies pairwise disjoint — so a
  * 10x corpus has 10x the documents, 10x the duplicate clusters, and
  * the same per-cluster shape, which is what "the same corpus, 10x
  * bigger" means for a dedup kernel. Naive row duplication would
  * instead make every document a cross-copy EXACT duplicate,
  * quadrupling candidate-pair density and measuring a different
  * (and wrong) workload. Embeddings replicate with remapped vec_id
  * and identical vectors: ANN kernel cost is corpus-side (assignment,
  * residuals, codebooks, ADC), and the q101/q127 query sets stay
  * pinned to the low ids by construction.
  *
  * Usage:
  *   sbt "runMain graft.ScaleBench [factors]"      # default 1,2,5,10
  * Env: SPARK_GRAFT_SF_DIR (base corpus, default sf0.1),
  *      SPARK_GRAFT_CPUS (default 32),
  *      SPARK_GRAFT_SCALE_DIR (work dir, default /tmp/graft_scale).
  * Emits one JSON line per (factor, query) and a final summary line.
  */
object ScaleBench {

  /** The kernels whose 100 TB story SCALING.md documents: the capped
    * Jaccard/containment family + connected components, the residual
    * IVF-PQ capstone, the span census, BM25, and the ANN recall gate. */
  val kernels: Seq[String] = Seq(
    "q42_dedup_ngram_jaccard", "q82_containment", "q90_dup_degree",
    "q93_dup_clusters", "q97_keep_best", "q105_mirror_matrix",
    "q101_ivfpq", "q117_span_dedup", "q109_bm25", "q127_ann_recall",
    "q139_dsir_weights", "q142_graph_pagerank", "q144_bfs_reach",
    "q146_bloom_join",
    // round 6: the bucketed-prefix-sum family (CDF/knot kernels) and
    // the shingle-leakage pair join — the new waves' heaviest shapes
    "q151_token_budget_curve", "q154_hist_selectivity",
    "q158_topk_token_share", "q157_cross_lang_leakage",
    // round 7: the LSH banding curve (bucket self-joins × 3 configs +
    // the capped truth kernel — the battery's heaviest single query),
    // the shingle-novelty census, and the value-level prefix-sum
    // quantile pick over the joined fact
    "q161_lsh_band_curve", "q170_shingle_novelty", "q173_ship_lag_profile",
    // round 7b: the sequence kernels over the replicated user
    // populations — keyed windows and the bucketed proximity join
    "q189_purchase_proximity", "q191_active_streaks",
    // round 7c: the robust-statistics wave's heavy shapes — the
    // double prefix-sum median/MAD (value ndv grows with the data),
    // the session-keyed pair join, and the minhash copy-flow over
    // the replicated corpus
    "q207_value_mad", "q208_session_cooccur", "q211_copy_direction",
    // round 7d: the centroid-margin DECIMAL ladder over replicated
    // embeddings and the dedup vocabulary-cost double-distinct
    "q224_centroid_margin", "q241_dedup_vocab_cost")

  private def buildScaled(spark: SparkSession, base: String, dir: String,
                          factor: Int): Unit = {
    val done = new java.io.File(s"$dir/_done")
    if (done.exists) return
    val docs = graft.sources.Tables.load(spark, base, "documents")
    val emb = graft.sources.Tables.load(spark, base, "embeddings")
    val nDocs = docs.agg(max("doc_id")).head().getLong(0) + 1
    val nVecs = emb.agg(max("vec_id")).head().getLong(0) + 1
    val docCopies = (0 until factor).map { k =>
      val text =
        if (k == 0) col("text")
        else array_join(transform(
          filter(split(col("text"), " "), t => t =!= ""),
          t => concat(t, lit(s"_$k"))), " ")
      docs.select((col("doc_id") + lit(k * nDocs)).as("doc_id"), text.as("text"),
        col("lang"), col("source"), length(text).cast("long").as("n_chars"))
    }
    docCopies.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    (0 until factor).map(k => emb.select(
        (col("vec_id") + lit(k * nVecs)).as("vec_id"), col("embedding"), col("label")))
      .reduce(_ unionByName _)
      .repartition(8).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    done.createNewFile(): Unit
  }

  /** Factor-k lineitem + orders replicas for the graph/bloom kernels
    * (round 5): copy k offsets every key, so the part<->supplier graph
    * gains k DISJOINT copies — k x the nodes and edges with the same
    * per-copy degree structure ("the same supply network, k x bigger")
    * — and the order-key offset is SHARED between the two tables, so
    * every lineitem→orders FK relation is preserved within each copy
    * (q146's true-match rate stays the base corpus's at every factor).
    */
  /** Factor-k events replicas for the sequence kernels (round 7):
    * copy k offsets event ids AND user ids, so the stream gains k
    * disjoint user populations with identical per-user event
    * sequences — k × the users and events, the same per-user
    * timeline shape. Keyed windows (streaks, lag, proximity cells)
    * then scale in the number of independent keys, which is exactly
    * the claim to measure. */
  private def buildScaledEvents(spark: SparkSession, base: String,
                                dir: String, factor: Int): Unit = {
    val done = new java.io.File(s"$dir/_done_events")
    if (done.exists) return
    val ev = graft.sources.Tables.load(spark, base, "events")
    val offs = ev.agg(max("event_id"), max("user_id")).head()
    val (ne, nu) = (offs.getLong(0) + 1, offs.getLong(1) + 1)
    (0 until factor).map { k =>
      ev.select((col("event_id") + lit(k * ne)).as("event_id"), col("ts"),
        (col("user_id") + lit(k * nu)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
      .repartition(16).write.mode("overwrite").parquet(s"$dir/events.parquet")
    done.createNewFile(): Unit
  }

  private def buildScaledTrade(spark: SparkSession, base: String,
                               dir: String, factor: Int): Unit = {
    val done = new java.io.File(s"$dir/_done_trade")
    if (done.exists) return
    val li = graft.sources.Tables.load(spark, base, "lineitem")
    val ord = graft.sources.Tables.load(spark, base, "orders")
    val offs = li.agg(max("l_orderkey"), max("l_partkey"), max("l_suppkey")).head()
    val noOrd = ord.agg(max("o_orderkey")).head().getLong(0) + 1
    val (no, np, ns) =
      (math.max(offs.getLong(0) + 1, noOrd), offs.getLong(1) + 1, offs.getLong(2) + 1)
    (0 until factor).map { k =>
      li.select((col("l_orderkey") + lit(k * no)).as("l_orderkey"),
        (col("l_partkey") + lit(k * np)).as("l_partkey"),
        (col("l_suppkey") + lit(k * ns)).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    (0 until factor).map { k =>
      ord.select((col("o_orderkey") + lit(k * no)).as("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    }.reduce(_ unionByName _)
      .repartition(16).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    done.createNewFile(): Unit
  }

  /** SPARK_GRAFT_SCALE_ONLY=q142,q144 — prefix-filter for targeted
    * re-sweeps while iterating on one kernel (Bench's ONLY contract);
    * a filter matching nothing fails loudly. */
  private def selectedKernels: Seq[String] = {
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(',').toSeq)
    // "none": run ONLY the env-gated A/B cells (skip/mvr/cdc/graph) —
    // the x20/x50 read-side sweeps, where dragging the full kernel
    // battery through a 50x corpus would cost an hour for no new data
    if (only.contains(Seq("none"))) return Nil
    val sel = kernels.filter(k => only.forall(_.exists(k.startsWith)))
    require(sel.nonEmpty,
      s"SPARK_GRAFT_SCALE_ONLY=${only.getOrElse(Nil).mkString(",")} matches no kernel")
    sel
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val work = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val factors = args.headOption.map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 2, 5, 10))
    require(factors.forall(_ >= 1), s"factors must be >= 1: $factors")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bucketed graph tables (g_pr_* A/B) land in the work dir, not ./spark-warehouse
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    // One untimed pass of every kernel on the smallest corpus first:
    // the session's codegen/shuffle/scan machinery warms OUTSIDE the
    // curve, so factor-to-factor ratios measure data scaling, not JIT
    // state (the smoke run showed x1 absorbing ~2-3 s of warmup that
    // made x2 look sublinear).
    // the trade (lineitem/orders) and events replicas feed the kernel
    // battery and the cdc/graph cells only — a cells-only skip/mvr
    // sweep (ONLY=none) needs just the documents corpus, and building
    // a 50x lineitem for nothing would dominate the run
    val needTradeEvents = selectedKernels.nonEmpty ||
      sys.env.get("SPARK_GRAFT_SCALE_CDC").contains("1") ||
      sys.env.get("SPARK_GRAFT_SCALE_GRAPH").contains("1")
    locally {
      val wdir = s"$work/x${factors.min}"
      buildScaled(spark, base, wdir, factors.min)
      if (needTradeEvents) {
        buildScaledTrade(spark, base, wdir, factors.min)
        buildScaledEvents(spark, base, wdir, factors.min)
      }
      selectedKernels.foreach(k => SparkEntry.queries(k)(spark, wdir).count(): Unit)
      System.err.println(s"[scale] warmup pass done on x${factors.min}")
    }
    val out = new StringBuilder
    val summary = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[Int, Double]]
    for (f <- factors) {
      val dir = s"$work/x$f"
      val b0 = System.nanoTime()
      buildScaled(spark, base, dir, f)
      if (needTradeEvents) {
        buildScaledTrade(spark, base, dir, f)
        buildScaledEvents(spark, base, dir, f)
      }
      System.err.println(f"[scale] x$f corpus ready in ${(System.nanoTime() - b0) / 1e9}%.1f s")
      for (k <- selectedKernels) {
        val load = osBean.getSystemLoadAverage
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(k)(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        summary.getOrElseUpdate(k, scala.collection.mutable.LinkedHashMap.empty)
          .put(f, sec)
        val line = f"""{"factor":$f,"query":"$k","sec":$sec%.3f,"rows":$rows,"load":$load%.2f}"""
        println(line)
        out.append(line).append('\n')
      }
      // Managed-merge kernel — the r04 weak item's fixed probe measured
      // at scale: create+insert a managed table from the scaled corpus
      // UNTIMED, then time only the MERGE of a 20% source. Twice: on
      // the broadcast fast path (keys measured small, under the default
      // threshold) and with broadcasting disabled (the big-backfill
      // shuffle shape the gate falls back to). Skipped when a kernel
      // subset is selected (SPARK_GRAFT_SCALE_ONLY — targeted re-sweeps).
      if (sys.env.get("SPARK_GRAFT_SCALE_ONLY").isEmpty) locally {
        import graft.sources.ManagedTable
        val docs = graft.sources.Tables.load(spark, dir, "documents")
        val src = docs.filter(col("doc_id") % 5 === 0)
          .withColumn("n_chars", col("n_chars") + 1)
        for ((label, thresh) <- Seq("m_upsert_bcast" -> None,
                                    "m_upsert_shuffle" -> Some("-1"))) {
          val mroot = java.nio.file.Files
            .createTempDirectory("graft_scale_m").toString + "/t"
          ManagedTable.create(spark, mroot, docs.schema)
          ManagedTable.insert(spark, mroot, docs)
          val key = "spark.sql.autoBroadcastJoinThreshold"
          val prev = spark.conf.get(key)
          thresh.foreach(spark.conf.set(key, _))
          val load = osBean.getSystemLoadAverage
          val t0 = System.nanoTime()
          val snap =
            try ManagedTable.upsert(spark, mroot, src, Seq("doc_id"))
            finally spark.conf.set(key, prev)
          val sec = (System.nanoTime() - t0) / 1e9
          summary.getOrElseUpdate(label, scala.collection.mutable.LinkedHashMap.empty)
            .put(f, sec)
          val line = f"""{"factor":$f,"query":"$label","sec":$sec%.3f,"rows":${snap.files.size},"load":$load%.2f}"""
          println(line)
          out.append(line).append('\n')
        }
      }
      // SPARK_GRAFT_SCALE_CDC=1 — is the ChangeFeed follower really
      // delta-sized? Per factor: an upstream managed table holds the
      // factor-k documents; a follower bootstraps once (g_cdc_init —
      // the one table-sized step, by design); the upstream then takes
      // a FIXED-SIZE mutation wave (update 1000 rows + insert 100 +
      // delete 100 — constant however big the table) and ONE sync
      // drains it (g_cdc_sync). The claim under test: g_cdc_init
      // grows with the data, g_cdc_sync does NOT — the changes() diff
      // reduces both snapshots to (key, hash) and the apply probes
      // with the delta, so a 1000-row wave costs the same against a
      // 100k-doc table as against 5k. g_cdc_noop times the
      // already-current sync (one manifest listing).
      if (sys.env.get("SPARK_GRAFT_SCALE_CDC").contains("1")) locally {
        import graft.sources.ManagedTable
        import graft.streaming.ChangeFeed
        val docs = graft.sources.Tables.load(spark, dir, "documents")
        val base = java.nio.file.Files
          .createTempDirectory("graft_scale_cdc").toString
        val (up, down) = (s"$base/up", s"$base/down")
        ManagedTable.create(spark, up, docs.schema)
        ManagedTable.insert(spark, up, docs)
        def cdcCell(label: String)(body: => Long): Unit = {
          val load = osBean.getSystemLoadAverage
          val t0 = System.nanoTime()
          val rows = body
          val sec = (System.nanoTime() - t0) / 1e9
          summary.getOrElseUpdate(label, scala.collection.mutable.LinkedHashMap.empty)
            .put(f, sec)
          val line = f"""{"factor":$f,"query":"$label","sec":$sec%.3f,"rows":$rows,"load":$load%.2f}"""
          println(line)
          out.append(line).append('\n'): Unit
        }
        cdcCell("g_cdc_init") {
          ChangeFeed.init(spark, up, down)
          ManagedTable.read(spark, down).count()
        }
        // the fixed-size wave: ids are corpus-independent (low range)
        val maxId = docs.agg(max("doc_id")).head().getLong(0)
        ManagedTable.update(spark, up, col("doc_id") < 1000,
          Map("n_chars" -> (col("n_chars") + lit(1))))
        ManagedTable.insert(spark, up,
          spark.range(maxId + 1, maxId + 101).toDF("doc_id")
            .selectExpr("doc_id", "'new row' AS text", "'en' AS lang",
              "'cdc' AS source", "CAST(7 AS BIGINT) AS n_chars")
            .select(docs.columns.map(col): _*))
        ManagedTable.delete(spark, up,
          col("doc_id") >= 1000 && col("doc_id") < 1100)
        cdcCell("g_cdc_sync") {
          val r = ChangeFeed.sync(spark, up, down, Seq("doc_id"))
          r.upserted + r.removed
        }
        cdcCell("g_cdc_noop") {
          val r = ChangeFeed.sync(spark, up, down, Seq("doc_id"))
          r.upserted + r.removed
        }
      }
      // SPARK_GRAFT_SCALE_GRAPH=1 — the persisted-graph PageRank A/B
      // (SCALING.md round 8): does reading the contribution relation
      // from PRE-BUCKETED tables beat the in-session repartition+cache
      // inside the rounds, once the graph is big enough that ranks
      // stop broadcasting? Three timed cells over the SAME mined
      // graph (mining itself is checkpointed out of every cell):
      //   g_pr_insession — pagerankPpb as q142 runs it (derives
      //     out-degrees, repartitions + caches both relations);
      //   g_pr_plain     — pagerankPpbOver on a plain-parquet
      //     persisted (src,dst,od): no cache, layout unknown, every
      //     round re-shuffles the edge side once ranks exceed the
      //     broadcast threshold;
      //   g_pr_bucketed  — pagerankPpbOver on writeBucketed tables
      //     (nodes on id, eod on src, buckets = shuffle partitions):
      //     no cache, rounds consume pre-partitioned buckets.
      // g_pr_build reports the one-time bucket-write cost the layout
      // amortizes over every later rank report.
      if (sys.env.get("SPARK_GRAFT_SCALE_GRAPH").contains("1")) locally {
        import graft.operators.GraphOps
        import graft.sources.Tables
        val pe = Tables.load(spark, dir, "lineitem")
          .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
          .distinct().localCheckpoint()
        val nodes = pe.select(col("pk").as("id")).distinct()
          .unionByName(pe.select((-col("sk") - 1).as("id")).distinct())
        val edges = pe.select(col("pk").as("src"), (-col("sk") - 1).as("dst"))
          .unionByName(pe.select((-col("sk") - 1).as("src"), col("pk").as("dst")))
        val eod = edges
          .join(edges.groupBy("src").agg(count(lit(1)).as("od")), "src")
          .select(col("src"), col("dst"), col("od"))
        val plainDir = s"$dir/g_eod_plain.parquet"
        nodes.write.mode("overwrite").parquet(s"$dir/g_nodes_plain.parquet")
        eod.write.mode("overwrite").parquet(plainDir)
        def cell(label: String)(body: => Long): Unit = {
          val load = osBean.getSystemLoadAverage
          val t0 = System.nanoTime()
          val rows = body
          val sec = (System.nanoTime() - t0) / 1e9
          summary.getOrElseUpdate(label, scala.collection.mutable.LinkedHashMap.empty)
            .put(f, sec)
          val line = f"""{"factor":$f,"query":"$label","sec":$sec%.3f,"rows":$rows,"load":$load%.2f}"""
          println(line)
          out.append(line).append('\n'): Unit
        }
        cell("g_pr_build") {
          // idempotent across runs: DROP TABLE alone leaves the
          // warehouse directory behind when the catalog entry is gone
          // (fresh session, same work dir) and saveAsTable then fails
          // with LOCATION_ALREADY_EXISTS — clear both
          Seq(s"g_nodes_x$f", s"g_eod_x$f").foreach { t =>
            spark.sql(s"DROP TABLE IF EXISTS $t")
            val loc = new java.io.File(s"$work/warehouse/$t")
            def rm(x: java.io.File): Unit = {
              Option(x.listFiles).foreach(_.foreach(rm)); x.delete(): Unit
            }
            if (loc.exists) rm(loc)
          }
          Tables.writeBucketed(nodes, s"g_nodes_x$f", cpus.toInt, Seq("id"))
          Tables.writeBucketed(eod, s"g_eod_x$f", cpus.toInt, Seq("src"))
          spark.table(s"g_eod_x$f").count()
        }
        cell("g_pr_insession")(GraphOps.pagerankPpb(nodes, edges, 3).count())
        cell("g_pr_plain") {
          GraphOps.pagerankPpbOver(spark.read.parquet(s"$dir/g_nodes_plain.parquet"),
            spark.read.parquet(plainDir), 3).count()
        }
        cell("g_pr_bucketed") {
          GraphOps.pagerankPpbOver(spark.table(s"g_nodes_x$f"),
            spark.table(s"g_eod_x$f"), 3).count()
        }
      }
      // SPARK_GRAFT_SCALE_SKIP=1 — manifest-level data skipping A/B
      // (plans.FileSkipScan): a factor-k documents table clustered on
      // doc_id into 64 files takes a fixed batch of 50 point SELECTs.
      //   g_skip_off — FileSkip registry cleared: every query plans
      //     all 64 files (parquet footer pruning still applies at
      //     execution, which is exactly the cost being measured:
      //     listing + opening O(files) footers per query).
      //   g_skip_on  — sidecar registered: the optimizer rule prunes
      //     each point predicate to the ONE covering file before the
      //     scan is planned.
      // The claim: per-query cost is O(1) vs O(files) in planning
      // I/O, so the gap WIDENS with factor (more rows -> bigger
      // files) while g_skip_on stays flat-ish. g_skip_files reports
      // total files planned across the batch in each mode.
      if (sys.env.get("SPARK_GRAFT_SCALE_SKIP").contains("1")) locally {
        import graft.sources.{FileSkip, ManagedTable}
        import graft.plans.FileSkipScan
        import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
        FileSkipScan.install(spark)
        val docs = graft.sources.Tables.load(spark, dir, "documents")
          .select("doc_id", "lang", "n_chars")
        val root = java.nio.file.Files
          .createTempDirectory("graft_scale_skip").toString + "/t"
        ManagedTable.create(spark, root, docs.schema)
        ManagedTable.insert(spark, root, docs)
        ManagedTable.compactTable(spark, root, 64, Seq("doc_id"))
        val maxId = docs.agg(max("doc_id")).head().getLong(0)
        val probes = (1 to 50).map(i => i.toLong * maxId / 51)
        def cell(label: String)(body: => Long): Unit = {
          val load = osBean.getSystemLoadAverage
          val t0 = System.nanoTime()
          val rows = body
          val sec = (System.nanoTime() - t0) / 1e9
          summary.getOrElseUpdate(label, scala.collection.mutable.LinkedHashMap.empty)
            .put(f, sec)
          val line = f"""{"factor":$f,"query":"$label","sec":$sec%.3f,"rows":$rows,"load":$load%.2f}"""
          println(line)
          out.append(line).append('\n'): Unit
        }
        def plannedFiles(q: Long): Int =
          ManagedTable.read(spark, root).filter(col("doc_id") === q)
            .queryExecution.optimizedPlan.collect {
              case l: LogicalRelation => l.relation match {
                case h: HadoopFsRelation => h.location.rootPaths.size
                case _ => 0
              }
            }.sum
        def batch(): Long = probes.map { q =>
          ManagedTable.read(spark, root).filter(col("doc_id") === q).count()
        }.sum
        // the kill switch, not clear(): every read under test
        // re-registers its sidecar, so an empty registry cannot model
        // "skipping off" for even one query
        FileSkip.disabled = true
        cell("g_skip_off")(batch())
        cell("g_skip_files_off")(plannedFiles(probes.head).toLong)
        FileSkip.disabled = false
        cell("g_skip_on")(batch())
        cell("g_skip_files_on")(plannedFiles(probes.head).toLong)
      }
      // SPARK_GRAFT_SCALE_BLOOM=1 — the bloom-index A/B on an
      // UNCLUSTERED layout (the case min/max skipping can never serve:
      // a round-robin 64-file layout gives every file the full doc_id
      // envelope, so point lookups scan all 64 without the index).
      // g_bloom_build prices the one-job backfill harvest; the
      // off/on batches run 50 point lookups; g_bloom_files_* report
      // files planned for one probe (64 vs ~1-3 incl. the ~3% FPR).
      // The companion NULL-skipping cells use a doc_id-clustered table
      // whose `flag` column is non-null only in the lowest doc_id
      // slice: `flag IS NOT NULL` prunes the ~62/64 all-null files —
      // provable only through the v2 sidecar's exact null counts.
      if (sys.env.get("SPARK_GRAFT_SCALE_BLOOM").contains("1")) locally {
        import graft.sources.{FileBloom, FileSkip, ManagedTable}
        import graft.plans.FileSkipScan
        import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
        FileSkipScan.install(spark)
        def cell(label: String)(body: => Long): Unit = {
          val load = osBean.getSystemLoadAverage
          val t0 = System.nanoTime()
          val rows = body
          val sec = (System.nanoTime() - t0) / 1e9
          summary.getOrElseUpdate(label, scala.collection.mutable.LinkedHashMap.empty)
            .put(f, sec)
          val line = f"""{"factor":$f,"query":"$label","sec":$sec%.3f,"rows":$rows,"load":$load%.2f}"""
          println(line)
          out.append(line).append('\n'): Unit
        }
        def planned(df: org.apache.spark.sql.DataFrame): Long =
          df.queryExecution.optimizedPlan.collect {
            case l: LogicalRelation => l.relation match {
              case h: HadoopFsRelation => h.location.rootPaths.size
              case _ => 0
            }
          }.sum.toLong
        val docs = graft.sources.Tables.load(spark, dir, "documents")
          .select("doc_id", "lang", "n_chars")
        val maxId = docs.agg(max("doc_id")).head().getLong(0)
        val probes = (1 to 50).map(i => i.toLong * maxId / 51)
        locally { // bloom over an unclustered layout
          val root = java.nio.file.Files
            .createTempDirectory("graft_scale_bloom").toString + "/t"
          ManagedTable.create(spark, root, docs.schema)
          ManagedTable.insert(spark, root, docs)
          ManagedTable.compactTable(spark, root, 64) // round-robin: NO clustering
          def batch(): Long = probes.map { q =>
            ManagedTable.read(spark, root).filter(col("doc_id") === q).count()
          }.sum
          FileSkip.disabled = true
          cell("g_bloom_off")(batch())
          cell("g_bloom_files_off")(planned(
            ManagedTable.read(spark, root).filter(col("doc_id") === probes.head)))
          FileSkip.disabled = false
          cell("g_bloom_build") {
            FileBloom.saveConfig(spark, root, Seq("doc_id"))
            FileBloom.write(spark, root, ManagedTable.latest(spark, root))
            FileSkip.invalidate(spark, root)
            64L
          }
          cell("g_bloom_on")(batch())
          cell("g_bloom_files_on")(planned(
            ManagedTable.read(spark, root).filter(col("doc_id") === probes.head)))
        }
        locally { // null-count skipping over mostly-all-null files
          val root = java.nio.file.Files
            .createTempDirectory("graft_scale_null").toString + "/t"
          val flagged = docs.withColumn("flag",
            when(col("doc_id") < maxId / 32, col("n_chars")))
          ManagedTable.create(spark, root, flagged.schema)
          ManagedTable.insert(spark, root, flagged)
          ManagedTable.compactTable(spark, root, 64, Seq("doc_id"))
          def q() = ManagedTable.read(spark, root).filter(col("flag").isNotNull)
          FileSkip.disabled = true
          cell("g_nullskip_off")(q().agg(org.apache.spark.sql.functions.sum(col("flag"))).head().getLong(0))
          cell("g_nullskip_files_off")(planned(q()))
          FileSkip.disabled = false
          cell("g_nullskip_on")(q().agg(org.apache.spark.sql.functions.sum(col("flag"))).head().getLong(0))
          cell("g_nullskip_files_on")(planned(q()))
        }
      }
      // SPARK_GRAFT_SCALE_MVR=1 — materialized-view rewrite A/B
      // (server.MvRewrite): a fact table derived from the factor-k
      // documents corpus (the table that actually scales with factor)
      // carries an MV grouped to ~3000 keys; the SAME router SELECT
      // (exact MV shape) runs with the rewrite disabled (g_mvr_direct
      // — full base aggregation) and enabled (g_mvr_rewrite — a
      // projection of the view). g_mvr_maintain prices what the
      // rewrite costs at write time: one fixed 10k-row INSERT's
      // incremental view maintenance. The claim: direct grows with
      // the data, rewrite is |view|-bound (flat), maintenance is
      // delta-sized.
      if (sys.env.get("SPARK_GRAFT_SCALE_MVR").contains("1")) locally {
        import graft.server.{MvRewrite, SqlRouter}
        val r = new SqlRouter(spark)
        val t = s"g_fact_x$f"
        val base = java.nio.file.Files
          .createTempDirectory("graft_scale_mvr").toString
        r.execute(s"CREATE MANAGED TABLE $t (k1 BIGINT, k2 STRING, " +
          s"amt DOUBLE) LOCATION '$base/$t'")
        val li = graft.sources.Tables.load(spark, dir, "documents")
          .selectExpr("doc_id % 1000 AS k1", "lang AS k2",
            "CAST(n_chars AS DOUBLE) AS amt")
        li.createOrReplaceTempView(s"__mvr_src_$f")
        r.execute(s"INSERT INTO $t SELECT * FROM __mvr_src_$f")
        r.execute(s"CREATE MATERIALIZED VIEW ${t}_v OVER $t KEY (k1, k2) " +
          s"COUNT n SUM (amt AS s_amt) LOCATION '$base/${t}_v'")
        val q = s"SELECT k1, k2, count(*) AS n, sum(amt) AS s FROM $t " +
          s"GROUP BY k1, k2"
        def cell(label: String)(body: => Long): Unit = {
          val load = osBean.getSystemLoadAverage
          val t0 = System.nanoTime()
          val rows = body
          val sec = (System.nanoTime() - t0) / 1e9
          summary.getOrElseUpdate(label, scala.collection.mutable.LinkedHashMap.empty)
            .put(f, sec)
          val line = f"""{"factor":$f,"query":"$label","sec":$sec%.3f,"rows":$rows,"load":$load%.2f}"""
          println(line)
          out.append(line).append('\n'): Unit
        }
        MvRewrite.disabled = true
        cell("g_mvr_direct")(r.execute(q).count())
        MvRewrite.disabled = false
        cell("g_mvr_rewrite")(r.execute(q).count())
        spark.range(10000)
          .selectExpr("id % 1000 AS k1", "'N' AS k2", "1.0 AS amt")
          .createOrReplaceTempView(s"__mvr_delta_$f")
        cell("g_mvr_maintain") {
          r.execute(s"INSERT INTO $t SELECT * FROM __mvr_delta_$f")
            .collect().head.getAs[Int]("version").toLong
        }
      }
      // SPARK_GRAFT_SCALE_MVJ=1 — materialized view OVER A JOIN
      // (round 11): the star-schema rollup a dashboard wants. The fact
      // grows with the factor; the dim is fixed (3000 keys). The SAME
      // grouped-join SELECT runs as a full join recompute
      // (g_mvj_recompute — grows with the data) and served from the
      // join view (g_mvj_rewrite — |view|-bound, flat). Maintenance is
      // priced on BOTH sides: a fixed 10k-row fact INSERT
      // (g_mvj_maintain_fact, delta-keyed probe into the dim) and a
      // one-key dim UPDATE (g_mvj_maintain_dim — fact ⋈ Δdim, the
      // group-moving case).
      if (sys.env.get("SPARK_GRAFT_SCALE_MVJ").contains("1")) locally {
        import graft.server.{MvRewrite, SqlRouter}
        val r = new SqlRouter(spark)
        val t = s"g_jfact_x$f"
        val d = s"g_jdim_x$f"
        val base2 = java.nio.file.Files
          .createTempDirectory("graft_scale_mvj").toString
        r.execute(s"CREATE MANAGED TABLE $t (sk BIGINT, amt DOUBLE) " +
          s"LOCATION '$base2/$t'")
        r.execute(s"CREATE MANAGED TABLE $d (sk BIGINT, grp STRING) " +
          s"LOCATION '$base2/$d'")
        // ×64 replication so the fact is big enough that the base
        // recompute's growth clears the ~0.3 s job-launch floor
        // (x50 → ~20M fact rows)
        graft.sources.Tables.load(spark, dir, "documents")
          .selectExpr("explode(sequence(1, 64)) AS rep", "doc_id", "n_chars")
          .selectExpr("(doc_id * 64 + rep) % 3000 AS sk",
            "CAST(n_chars AS DOUBLE) AS amt")
          .createOrReplaceTempView(s"__mvj_fact_$f")
        spark.range(3000)
          .selectExpr("id AS sk", "concat('g', id % 40) AS grp")
          .createOrReplaceTempView(s"__mvj_dim_$f")
        r.execute(s"INSERT INTO $t SELECT * FROM __mvj_fact_$f")
        r.execute(s"INSERT INTO $d SELECT * FROM __mvj_dim_$f")
        r.execute(s"CREATE MATERIALIZED VIEW ${t}_v OVER $t JOIN $d " +
          s"ON $t.sk = $d.sk KEY ($d.grp) COUNT n SUM ($t.amt AS s_amt) " +
          s"LOCATION '$base2/${t}_v'")
        val q = s"SELECT $d.grp, count(*) AS n, sum($t.amt) AS s " +
          s"FROM $t JOIN $d ON $t.sk = $d.sk GROUP BY $d.grp"
        def cell(label: String)(body: => Long): Unit = {
          val load = osBean.getSystemLoadAverage
          val t0 = System.nanoTime()
          val rows = body
          val sec = (System.nanoTime() - t0) / 1e9
          summary.getOrElseUpdate(label, scala.collection.mutable.LinkedHashMap.empty)
            .put(f, sec)
          val line = f"""{"factor":$f,"query":"$label","sec":$sec%.3f,"rows":$rows,"load":$load%.2f}"""
          println(line)
          out.append(line).append('\n'): Unit
        }
        MvRewrite.disabled = true
        cell("g_mvj_recompute")(r.execute(q).count())
        MvRewrite.disabled = false
        cell("g_mvj_rewrite")(r.execute(q).count())
        spark.range(10000)
          .selectExpr("id % 3000 AS sk", "1.0 AS amt")
          .createOrReplaceTempView(s"__mvj_delta_$f")
        cell("g_mvj_maintain_fact") {
          r.execute(s"INSERT INTO $t SELECT * FROM __mvj_delta_$f")
            .collect().head.getAs[Int]("version").toLong
        }
        cell("g_mvj_maintain_dim") {
          r.execute(s"UPDATE $d SET grp = 'moved' WHERE sk = 7")
            .collect().head.getAs[Int]("version").toLong
        }
      }
      // SPARK_GRAFT_SCALE_BLOOMSHARD=1 — the round-11 segment-shard
      // claim, swept over FILE COUNT (independent of the data factor,
      // so it runs once): per-commit bloom maintenance must be
      // O(files-in-the-commit), never O(table). For each table of F
      // indexed files: the full backfill (executor-written shards
      // above 256 files), then ONE single-file INSERT's commit — the
      // number that the old per-version monolith made O(F) — and the
      // metadata footprint the commit-time carry check actually reads.
      if (f == factors.min &&
          sys.env.get("SPARK_GRAFT_SCALE_BLOOMSHARD").contains("1")) locally {
        import graft.sources.{FileBloom, ManagedTable}
        graft.plans.FileSkipScan.install(spark)
        def cell(label: String)(body: => Long): Unit = {
          val load = osBean.getSystemLoadAverage
          val t0 = System.nanoTime()
          val rows = body
          val sec = (System.nanoTime() - t0) / 1e9
          summary.getOrElseUpdate(label, scala.collection.mutable.LinkedHashMap.empty)
            .put(f, sec)
          val line = f"""{"factor":$f,"query":"$label","sec":$sec%.3f,"rows":$rows,"load":$load%.2f}"""
          println(line)
          out.append(line).append('\n'): Unit
        }
        Seq(64, 512, 2048).foreach { nf =>
          val root = java.nio.file.Files
            .createTempDirectory("graft_scale_bseg").toString + s"/t$nf"
          val df0 = spark.range(nf * 1000L)
            .selectExpr("id AS doc_id", "id % 97 AS v")
          ManagedTable.create(spark, root, df0.schema)
          ManagedTable.insert(spark, root, df0)
          ManagedTable.compactTable(spark, root, nf)
          FileBloom.saveConfig(spark, root, Seq("doc_id"))
          cell(s"g_bseg_backfill_f$nf") {
            FileBloom.write(spark, root,
              ManagedTable.latest(spark, root))
            nf.toLong
          }
          cell(s"g_bseg_commit_f$nf") {
            ManagedTable.insert(spark, root,
              spark.range(1000)
                .selectExpr(s"id + ${nf * 1000L} AS doc_id", "id % 97 AS v")
                .coalesce(1)).version.toLong
          }
          cell(s"g_bseg_meta_kb_f$nf") {
            val sd = FileBloom.segDirPath(root)
            val fsys = sd.getFileSystem(spark.sparkContext.hadoopConfiguration)
            fsys.listStatus(sd).filter(_.getPath.getName.endsWith(".meta.json"))
              .map(_.getLen).sum / 1024
          }
        }
      }
    }
    val sum = summary.map { case (k, m) =>
      s"\"$k\":{${m.map { case (f, s) => f""""x$f":$s%.3f""" }.mkString(",")}}"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scaling","base":${graft.util.Json.escape(base)},"kernels":$sum}""")
    spark.stop()
  }
}
