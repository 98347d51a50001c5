package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression tests: the plan properties the 100 TB
  * design story depends on (pushdown, broadcast joins, partial+final
  * aggregation, top-k without global sort, codegen) asserted against
  * the actual planner output, so a refactor that silently loses one
  * fails CI — not just the benchmark.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString

  /** Formatted explain — the only mode that prints scan metadata
    * (PushedFilters, ReadSchema) untruncated. */
  private def planFormatted(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.sf0001)
      .queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q01: timestamp filter and projection reach the parquet scan") {
    val p = plan("q01_scan_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_shipdate"), p)
    // pruned read schema: only the 4 selected cols + filter col
    assert(!p.contains("l_returnflag"), "scan reads pruned columns only")
  }

  test("q03: dimension side broadcasts") {
    assert(plan("q03_join_inner").contains("BroadcastHashJoin"))
  }

  test("q04: multiway join broadcasts the dimension chain") {
    val p = plan("q04_join_multiway")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(500))
  }

  test("q06/q07: EXISTS/NOT EXISTS plan as semi/anti joins") {
    assert(plan("q06_join_semi").contains("LeftSemi"))
    assert(plan("q07_join_anti").contains("LeftAnti"))
  }

  test("q09: range count is a window, not a pair join") {
    val p = plan("q09_join_range")
    assert(p.contains("Window"), p.take(500))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(500))
  }

  test("q11: aggregation is partial+final hash aggregate over a pruned scan") {
    val p = plan("q11_agg_hash")
    assert(p.contains("partial_sum"), p.take(500))             // map-side combine
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(500)) // + final
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(500))
  }

  test("q21: global top-k plans as TakeOrderedAndProject (no full sort)") {
    assert(plan("q21_sort_limit").contains("TakeOrderedAndProject"))
  }

  test("no accidental cartesian products anywhere in the contract") {
    // Broadcast nested-loop joins against 1-row/broadcast sides are fine;
    // a CartesianProduct over two big sides is never intended.
    val offenders = SparkEntry.queries.keys.filter(plan(_).contains("CartesianProduct"))
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("q38/q44: ANN query side is broadcast") {
    assert(plan("q38_knn_cosine").contains("Broadcast"))
    assert(plan("q44_ann_lsh").contains("BroadcastHashJoin"))
  }

  test("q60: every predicate reaches the lineitem scan") {
    val p = planFormatted("q60_scan_agg")
    for (f <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
      "GreaterThanOrEqual(l_discount", "LessThan(l_quantity"))
      assert(p.contains(f), s"missing pushed filter $f\n${p.take(800)}")
  }

  test("q62: correlated-avg rewrite is all broadcast joins (fact table never shuffles)") {
    val p = plan("q62_correlated_ratio")
    assert(!p.contains("SortMergeJoin"), p.take(500))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(500))
  }

  test("q63: HAVING prunes the aggregate before the joins") {
    val p = plan("q63_having_in")
    // the sum filter must sit directly on the aggregate, not above the joins
    assert(p.contains("(sqd"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"), "top-50 must not global-sort")
  }

  test("q64: no-big-orders is a broadcast anti join") {
    assert(plan("q64_anti_scalar").contains("LeftAnti"))
  }

  test("q48: the fingerprint is a pure projection — no exchange before the final group") {
    // exactly two exchanges: the group-by-fingerprint shuffle and the
    // single-row stats agg; the bottom-4 md5 selection itself must add
    // none (in-row slice/array_sort/transform)
    val p = plan("q48_fingerprint")
    assert("Exchange".r.findAllIn(p).size <= 2, p.take(800))
    assert(!p.contains("CollectList"), "bottom-k must not buffer collect_list\n" + p.take(500))
  }

  test("q56: IVF bucket assignment has no window/sort — argmin is in-scan") {
    val p = plan("q56_ann_ivf")
    assert(!p.contains("Window"), p.take(800))
    assert(p.contains("Broadcast"), "centroid array must broadcast")
  }

  test("zorder key build: no window, no exchange — rank is a broadcast-boundary search") {
    import org.apache.spark.sql.functions._
    // the round-3 scale-killer was an unpartitioned percent_rank window
    // per clustered column (all data through ONE task); the rank must
    // now be a pure projection over driver-computed quantile boundaries
    val df = spark.range(10_000L).select(
      (col("id") * 7919L % 1000L).as("x"),
      (col("id") * 104729L % 1000L).as("y"))
    val p = graft.sources.Tables.zkey(df, Seq("x", "y"), bits = 8)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p.take(800))
    assert(!p.contains("Exchange"), "zkey must add no shuffle\n" + p.take(800))
  }

  test("q66: the split is a projection — no exchange before the report agg") {
    val p = plan("q66_hash_split")
    // one exchange for groupBy(split, lang) + possibly one for the sort
    assert("Exchange".r.findAllIn(p).size <= 2, p.take(800))
  }

  test("q67: eval shingle set broadcasts into the semi join") {
    val p = plan("q67_contamination")
    assert(p.contains("LeftSemi"), p.take(500))
  }

  test("q70: gap-fill grid is sequence+explode, not a time-range join") {
    val p = plan("q70_gap_fill")
    assert(p.contains("Generate"), p.take(500))     // in-row sequence explode
    assert(!p.contains("CartesianProduct"), p.take(500))
  }

  test("q80/q81: per-doc argmax and index stats are hash aggregates, not windows") {
    // the per-doc top-term argmax is min(struct(-score, term)) — a
    // partial+final aggregate; a row_number formulation would add a
    // full sort of the (doc, term) relation
    assert(!plan("q80_tfidf_topterm").contains("Window"))
    assert(!plan("q81_inverted_index").contains("Window"))
  }

  test("q86/q88: chunking and bigram extraction are in-row generates, no join") {
    // chunk windows and adjacent-pair structs come from sequence()/
    // transform() INSIDE the scan row — a join formulation (tokens
    // against a position table, or tokens self-joined at pos+1) would
    // shuffle the exploded relation
    val p86 = plan("q86_chunking")
    assert(p86.contains("Generate"), s"q86: expected in-row explode\n${p86.take(500)}")
    assert(!p86.contains("Join"), s"q86: token-level join crept in\n${p86.take(500)}")
    // q88's Generate sits behind the counts checkpoint, so pin what the
    // visible plan can show: the argmax is an aggregate (no window sort)
    // and the totals/top join broadcasts (both sides are vocab-sized)
    val p88 = plan("q88_bigram_lm")
    assert(!p88.contains("Window"), p88.take(500))
    assert(!p88.contains("SortMergeJoin"), p88.take(500))
  }

  test("q91: stacked burst aggs end in top-k, not a global sort") {
    assert(plan("q91_burstiness").contains("TakeOrderedAndProject"))
  }

  test("q92: rate-sample membership is a pure filter — one exchange for the report") {
    // the md5-threshold filter must evaluate in the scan projection;
    // exactly one exchange (groupBy source) plus at most the sort
    val p = plan("q92_apply_mixing")
    assert("Exchange".r.findAllIn(p).size <= 2, p.take(800))
    assert(!p.contains("Join"), "rate lookup must be a CASE projection, not a join")
  }

  test("q94/q95: fences and marginals broadcast back onto the fact scan") {
    // the 3-row fence table (q94) and the vocab-bounded marginal/total
    // tables (q95) must broadcast — a shuffle join against the fact
    // side would move the big relation for a handful of rows
    assert(plan("q94_winsorize").contains("BroadcastHashJoin"))
    val p95 = plan("q95_cooccur_lift")
    assert("BroadcastHashJoin".r.findAllIn(p95).size >= 2, p95.take(500))
  }

  test("q96/q98: rolling actives explode in-row; attribution is one window pass") {
    // the 7-day span must be a sequence explode of the distinct
    // relation (flat 7x fan-out), never a day-range self-join
    assert(plan("q96_rolling_actives").contains("Generate"))
    // one window shuffle on user_id, no join anywhere
    val p98 = plan("q98_attribution")
    assert("Window".r.findAllIn(p98).size == 1, p98.take(500))
    assert(!p98.contains("Join"), p98.take(500))
  }

  test("q99/q100: seasonality joins nothing; pipeline's only join is the dedup semi") {
    // q99 is pure epoch arithmetic + one grouped pass — a join or a
    // window here would mean the seasonality matrix stopped being a
    // single-scan aggregation
    val p99 = plan("q99_seasonality")
    assert(!p99.contains("Join"), p99.take(500))
    assert(!p99.contains("Window"), p99.take(500))
    // q100: dedup's semi join is the ONE join; the mixing-rate filter
    // and the split assignment must stay pure projections/filters
    val p100 = plan("q100_curation_pipeline")
    assert("Join".r.findAllIn(p100).size == 1, p100.take(500))
    assert(!p100.contains("Window"), p100.take(500))
  }

  test("q84: the salted join stays a broadcast join on the replicated dimension") {
    // replicating the dim 8x must not push it over to sort-merge at
    // this size; the plain-join oracle equivalence is the t2 gate
    assert(plan("q84_skew_salted").contains("BroadcastHashJoin"))
  }

  test("q102: the skew profile is one grouped pass + a broadcast 1-row summary") {
    // the detection report must itself be skew-safe: no window over the
    // counts (the top-k is a TakeOrdered), no shuffle for the summary
    // attach (broadcast nested loop over 1 row), ONE key-shuffle total
    val p = plan("q102_skew_profile")
    assert(!p.contains("WindowExec"), p.take(500))
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(500))
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p.take(800))
  }

  test("q106/q107/q108: vocab-collapse, broadcast fences, broadcast argmin") {
    // q106: the pair explosion must run over the AGGREGATED vocab
    // (Generate above the word-count), never as a join — the corpus is
    // touched exactly once
    val p106 = plan("q106_bpe_merges")
    assert(!p106.contains("Join"), p106.take(500))
    assert(p106.contains("Generate"), p106.take(500))
    // q107: the per-source fence table (handful of rows) broadcasts
    // back onto the scored relation — shuffling the corpus against 4
    // rows would be the q94 anti-pattern
    val p107 = plan("q107_quality_floor")
    assert(p107.contains("BroadcastHashJoin"), p107.take(500))
    assert(!p107.contains("SortMergeJoin"), p107.take(500))
    // q108: assignment is the zero-shuffle broadcast cross over the
    // one-row centroid array; the only exchange is the bucket groupBy
    val p108 = plan("q108_quant_error")
    assert(p108.contains("BroadcastNestedLoopJoin"), p108.take(500))
    assert(!p108.contains("SortMergeJoin"), p108.take(500))
  }

  test("q109-q112: broadcast stats sides, windowed entropy, one-scan analyze") {
    // q109: df + corpus totals broadcast; the only shuffle joins key on
    // doc_id; top-10 is TakeOrdered, never a global sort
    val p109 = plan("q109_bm25")
    assert(p109.contains("BroadcastHashJoin"), p109.take(500))
    assert(p109.contains("TakeOrderedAndProject"), p109.take(500))
    assert(!p109.contains("CartesianProduct"), p109.take(500))
    // q110: the 5-row plan broadcasts onto the per-source aggregate
    val p110 = plan("q110_epoch_mix")
    assert(p110.contains("BroadcastHashJoin"), p110.take(500))
    assert(!p110.contains("SortMergeJoin"), p110.take(500))
    // q111: doc length comes from a doc_id-PARTITIONED window sharing
    // the groupBy's exchange — no join, no unpartitioned window
    val p111 = plan("q111_token_entropy")
    assert(!p111.contains("Join"), p111.take(500))
    // the one Window is PARTITIONED on doc_id (its spec lists the
    // partition columns after the frame) — never a global window
    assert("Window \\[[^\\n]*\\], \\[doc_id".r.findFirstIn(p111).isDefined, p111.take(800))
    // q112: one scan of orders feeds every column's stats — no join,
    // no union of per-column scans
    val p112 = plan("q112_table_stats")
    assert(!p112.contains("Join"), p112.take(500))
    assert(!p112.contains("Union"), p112.take(500))
    // q113: the signature key is a pure projection — no join, and the
    // only hash exchange is the groupBy on the key itself
    val p113 = plan("q113_sig_groups")
    assert(!p113.contains("Join"), p113.take(500))
    assert("Exchange hashpartitioning".r.findAllIn(p113).size == 1, p113.take(800))
    // q114: totals and the TV summary broadcast; the movers top-10 is
    // TakeOrdered, never a global sort; no cartesian anywhere
    val p114 = plan("q114_vocab_drift")
    assert(p114.contains("TakeOrderedAndProject"), p114.take(500))
    assert(!p114.contains("CartesianProduct"), p114.take(500))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p114).size >= 1, p114.take(800))
  }

  test("q115-q120: join-free profiles, broadcast moments, aggregated-only windows") {
    // q115/q116: one tokenize/bigram pass + stacked hash aggs — no join
    for (k <- Seq("q115_gopher_rules", "q116_intradoc_repeat")) {
      val p = plan(k)
      assert(!p.contains("Join"), s"$k should be join-free\n${p.take(500)}")
      assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(500))
    }
    // q117: the gram census is a hash agg (never a pair join); the
    // only joins key on gram/1-row totals — no cartesian over docs
    val p117 = plan("q117_span_dedup")
    assert(!p117.contains("CartesianProduct"), p117.take(500))
    // q118: the ~users-sized moment table broadcasts onto the event
    // scan; top-10 is TakeOrdered, never a global sort
    val p118 = plan("q118_user_anomaly")
    assert(p118.contains("BroadcastHashJoin"), p118.take(500))
    assert(p118.contains("TakeOrderedAndProject"), p118.take(500))
    // q119: scrub is a pure projection — the only hash exchange is the
    // report's groupBy(source)
    val p119 = plan("q119_stopword_scrub")
    assert(!p119.contains("Join"), p119.take(500))
    assert("Exchange hashpartitioning".r.findAllIn(p119).size == 1, p119.take(800))
    // q120: the running sum's window reads the ~days-sized aggregated
    // relation — the event stream passes through hash aggs only
    val p120 = plan("q120_cumulative_users")
    assert(p120.contains("Window"), p120.take(500))
    assert("HashAggregate".r.findAllIn(p120).size >= 4, p120.take(800))
    // q122: the vocab-size side is a broadcast 1-row relation; the LM
    // cost join keys on the bigram — never a cartesian over docs
    val p122 = plan("q122_perplexity")
    assert(!p122.contains("CartesianProduct"), p122.take(500))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p122).size >= 1, p122.take(800))
    // q123: the leak check is a LeftSemi keyed on the shingle
    val p123 = plan("q123_split_leakage")
    assert(p123.contains("LeftSemi"), p123.take(500))
    assert(!p123.contains("CartesianProduct"), p123.take(500))
  }

  test("q124-q126: diversity wave broadcasts its small sides") {
    // q124: the k-row bounds table and 1-row target broadcast onto the
    // assignment scan — the corpus is never shuffled for membership,
    // only for the two per-cluster counts
    val p124 = plan("q124_diversity_sample")
    assert("BroadcastHashJoin".r.findAllIn(p124).size >= 1, p124.take(500))
    assert(!p124.contains("CartesianProduct"), p124.take(500))
    // q125: the eval split (the small benchmark set) broadcasts into
    // the bucket join; candidates never form an all-pairs product
    val p125 = plan("q125_embedding_decontam")
    assert(p125.contains("BroadcastHashJoin"), p125.take(500))
    assert(!p125.contains("CartesianProduct"), p125.take(500))
    // q126: family degree is ONE window over the fingerprint key —
    // partitioned, never a global unpartitioned sort
    val p126 = plan("q126_boilerplate_quality")
    assert(p126.contains("Window"), p126.take(500))
    assert(!p126.contains("SinglePartition"), p126.take(500))
  }

  test("q127-q130: evaluation wave — broadcast ground truth, keyed windows") {
    // q127: the benchmark query set broadcasts onto ONE corpus scan
    // (the brute-force ground truth is |queries| x |corpus| by
    // construction, never corpus x corpus); the exact top-10 window is
    // PARTITIONED by query id — no SinglePartition anywhere
    val p127 = plan("q127_ann_recall")
    assert(p127.contains("BroadcastNestedLoopJoin"), p127.take(500))
    assert(!p127.contains("CartesianProduct"), p127.take(500))
    assert(!p127.contains("SinglePartition"), p127.take(800))
    assert(!p127.contains("SortMergeJoin"), p127.take(800))
    // q128: same kernel shape as q50 — signatures in-row, candidates
    // from band equi-joins; nothing may fall back to sort-merge or a
    // doc x doc product
    val p128 = plan("q128_minhash_fidelity")
    assert(!p128.contains("CartesianProduct"), p128.take(500))
    // q129: assignment is the zero-shuffle broadcast argmin (q56's
    // pin); the modal label is a min-struct hash-agg argmax, no window
    val p129 = plan("q129_cluster_purity")
    assert(!p129.contains("Window"), p129.take(800))
    assert(p129.contains("Broadcast"), p129.take(500))
    // q130: one corpus tokenize+groupBy; the 1-row totals attach as a
    // broadcast nested loop, never a shuffle of the per-source rows
    val p130 = plan("q130_temperature_mix")
    assert(p130.contains("BroadcastNestedLoopJoin"), p130.take(500))
    assert(!p130.contains("SortMergeJoin"), p130.take(500))
    assert("Exchange hashpartitioning".r.findAllIn(p130).size <= 2, p130.take(800))
  }

  test("q132: the nprobe curve is one candidate relation, keyed windows") {
    // the nested candidate sets come from ONE in-row sequence explode
    // over one scored relation (never 4 separate searches); both
    // top-10 windows are keyed by query id (the SinglePartition
    // exchanges that DO appear are the ~k-row centroid-array collapses
    // inside probeBuckets/assignBuckets — constant-size by
    // construction); the probe-rank and ground-truth sides broadcast
    val p = plan("q132_ivf_nprobe_recall")
    assert(p.contains("Generate"), p.take(800))
    assert("Window \\[[^\\n]*\\], \\[qid".r.findFirstIn(p).isDefined, p.take(1000))
    assert(!"Window \\[[^\\n]*\\], \\[\\]".r.findFirstIn(p).isDefined,
      "unpartitioned window over the candidate relation\n" + p.take(1000))
    assert(!p.contains("CartesianProduct"), p.take(500))
    assert(p.contains("BroadcastHashJoin"), p.take(500))
  }

  test("q131: manifest coordinates come from keyed windows + broadcast offsets") {
    // the corpus-sized windows (rank, running tokens) are PARTITIONED
    // by source; the only SinglePartition window runs over the
    // ~#shards-row aggregate (the q120 precedent); the offsets attach
    // by broadcast, never a corpus shuffle against a 20-row side; and
    // nothing global-sorts the corpus (the sort in the plan is the
    // final ORDER BY over the 97th-step sample)
    val p = plan("q131_training_manifest")
    assert("Window \\[[^\\n]*\\], \\[source".r.findFirstIn(p).isDefined, p.take(1000))
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("SortMergeJoin"), p.take(500))
    assert(!p.contains("CartesianProduct"), p.take(500))
  }

  test("day=-partitioned layout: a date predicate prunes partitions at the scan") {
    // SCALING.md's 100 TB scan claim, demonstrated: write events as a
    // day=-partitioned directory (Tables.writeAs, the lake-layout
    // sink), then prove an equality predicate on the partition column
    // (a) lands in PartitionFilters — pruning happens at the DRIVER
    // from directory names, before any file is opened — and (b)
    // actually reads fewer files than the full scan.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = TestSpark.tempDir("events-partitioned").toString
    val ev = graft.sources.Tables.load(spark, TestSpark.sf0001, "events")
      .withColumn("day", to_date(col("ts")))
    graft.sources.Tables.writeAs(ev, dir, partitionBy = Seq("day"))
    val all = spark.read.parquet(dir)
    val days = all.select("day").distinct().count()
    assert(days > 1, s"fixture spans $days day(s) — partitioning proves nothing")
    val oneDay = all.select(min(col("day"))).collect().head.getDate(0).toString

    def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
      df.collect() // execute so scan metrics (numFiles) are populated
      df.queryExecution.executedPlan
        .collect { case f: FileSourceScanExec => f }.head
    }
    val prunedDf = all.filter(col("day") === lit(oneDay))
    assert(prunedDf.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(day"),
      "partition predicate must appear as a PartitionFilter, not a data Filter")
    val prunedFiles = scanOf(prunedDf).metrics("numFiles").value
    val allFiles = scanOf(all).metrics("numFiles").value
    assert(prunedFiles < allFiles,
      s"pruned scan read $prunedFiles of $allFiles files — no pruning happened")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(new java.io.File(dir))
  }

  test("q133/q134/q135: round-5 wave scale shapes hold") {
    // q133: the snapshot diff reduces both sides to (key, 16-byte md5)
    // before the full-outer join — it must plan as an equi join on the
    // key, never a nested loop over documents
    val p133 = plan("q133_time_travel")
    assert(p133.contains("FullOuter"), p133.take(500))
    assert(!p133.contains("NestedLoop"), p133.take(500))
    // q134: every top-k window is keyed by query id (a SinglePartition
    // window would funnel the scored relation through one task), and
    // the tiny ADC/probe side tables broadcast
    val p134 = plan("q134_ivfpq_nprobe")
    assert(p134.contains("windowspecdefinition(qid"), p134.take(800))
    assert("BroadcastHashJoin".r.findAllIn(p134).size >= 2, p134.take(800))
    // q135: the semantic-dedup pair join is an equi join on the cluster
    // label — SemDeDup's whole point is the cluster-bounded pair space
    val p135 = plan("q135_semdedup")
    assert(!p135.contains("NestedLoop") && !p135.contains("CartesianProduct"),
      p135.take(800))
  }

  test("q137-q143: governance/graph wave scale shapes hold") {
    // q137: both SCD2 windows are KEYED by user_id — a SinglePartition
    // window over the event stream would funnel it through one task
    val p137 = plan("q137_scd2")
    assert(p137.contains("windowspecdefinition(user_id"), p137.take(800))
    assert(!p137.contains("windowspecdefinition(grp"), "island window must also key by user_id")
    // q138: both fusion arms reduce to top-50 (TakeOrdered) BEFORE the
    // rank windows and the full-outer merge; the BM25 df/totals and
    // the 1-row query vector broadcast
    val p138 = plan("q138_rrf_hybrid")
    assert("TakeOrderedAndProject".r.findAllIn(p138).size >= 2, p138.take(800))
    assert(p138.contains("FullOuter"), p138.take(500))
    assert("BroadcastHashJoin".r.findAllIn(p138).size >= 2, p138.take(800))
    // q139: the 256-row llr model broadcasts back onto the occurrence
    // scan — the big relation never shuffles for the scoring join
    val p139 = plan("q139_dsir_weights")
    assert(p139.contains("BroadcastHashJoin"), p139.take(800))
    // q140: FK audits are anti joins; no shape in the audit joins
    // fact-to-fact without a key
    val p140 = plan("q140_constraints")
    assert("LeftAnti".r.findAllIn(p140).size >= 4, p140.take(800))
    assert(!p140.contains("CartesianProduct") || p140.contains("BroadcastNestedLoopJoin"),
      "only 1-row summary cross joins allowed")
    // q142: rank propagation is equi joins + hash aggregates — an
    // iteration that planned a nested loop would be quadratic in nodes
    val p142 = plan("q142_graph_pagerank")
    assert(!p142.contains("CartesianProduct"), p142.take(800))
    assert(p142.contains("TakeOrderedAndProject"), p142.take(500))
    // q143: the exact join sizes come from grouped counts — the plan
    // must contain NO join of the two fact tables themselves (only
    // 1-row assemblies and count-relation equi joins)
    val p143 = plan("q143_join_card_est")
    assert("HashAggregate".r.findAllIn(p143).size >= 6, p143.take(800))
    assert(!p143.contains("SortMergeJoin"), "per-key count joins should broadcast at this size")
  }

  test("q144-q147: introspection wave scale shapes hold") {
    // q144: the final reported round is keyed joins/aggregates, never
    // a nested loop over the edge relation; node ids are longs, so no
    // string concat appears before the last projection
    val p144 = plan("q144_bfs_reach")
    assert(!p144.contains("CartesianProduct") && !p144.contains("NestedLoop"),
      p144.take(800))
    // q145: the 3-row predicate table broadcasts onto both the zone
    // stats and the match recount — the document scan never shuffles
    // for the predicate pairing
    val p145 = plan("q145_zone_prune")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p145).size >= 2, p145.take(800))
    assert(!p145.contains("SortMergeJoin"), p145.take(800))
    // q146: the occupied-position filter relation reaches the probe as
    // a broadcast hash join (the runtime-filter shape); only the 1-row
    // m/aggregate assemblies may appear as nested-loop broadcasts
    val p146 = plan("q146_bloom_join")
    assert(p146.contains("BroadcastHashJoin"), p146.take(800))
    assert(!p146.contains("CartesianProduct"), p146.take(800))
    // q147: ONE pair of partial+final aggregates collapses the fact
    // rows to the ndv-sized value relation before any window; the
    // window must be keyed by col_name, never SinglePartition
    val p147 = plan("q147_equi_depth_hist")
    assert(p147.contains("windowspecdefinition(col_name"), p147.take(800))
    assert("HashAggregate".r.findAllIn(p147).size >= 2, p147.take(800))
  }

  test("q148-q150: drift/calibration wave scale shapes hold") {
    // q148: the per-source CDF window is KEYED by source; the fact
    // table collapses to the value relation before any window
    val p148 = plan("q148_ks_drift")
    assert(p148.contains("windowspecdefinition(source"), p148.take(800))
    assert(!p148.contains("CartesianProduct"), p148.take(800))
    // q149: exact intermediate sizes come from grouped counts — never
    // a fact-to-fact join; rank windows run on the 2-row relation
    val p149 = plan("q149_join_order")
    assert("HashAggregate".r.findAllIn(p149).size >= 4, p149.take(800))
    assert(!p149.contains("SortMergeJoin"), "count relations broadcast at this size")
    // q150: systematic sampling has NO top-k barrier and no global
    // sort at all — the cumulative walk is the bucketed prefix sum,
    // the totals broadcast, draws are a projection. The only Sort
    // allowed is the final ~sources-row orderBy.
    val p150 = plan("q150_weighted_sample")
    assert(!p150.contains("TakeOrderedAndProject"), p150.take(800))
    assert(!p150.contains("SortMergeJoin"), p150.take(800))
  }

  test("q151-q156: profiling wave scale shapes hold") {
    // q151: the knot lookup is a 10-row broadcast inequality join;
    // no cartesian on data relations anywhere
    val p151 = plan("q151_token_budget_curve")
    assert(p151.contains("BroadcastNestedLoopJoin"), p151.take(800))
    assert(!p151.contains("CartesianProduct"), p151.take(800))
    // q152: exclusivity joins keyed on the token — never a pair join
    val p152 = plan("q152_vocab_exclusivity")
    assert(!p152.contains("CartesianProduct"), p152.take(800))
    assert(!p152.contains("NestedLoop"), p152.take(800))
    // q153: ONE window, keyed by (user_id, event_type); nothing global
    val p153 = plan("q153_event_burst_echo")
    assert(p153.contains("windowspecdefinition(user_id"), p153.take(800))
    assert(!p153.contains("SinglePartition"), p153.take(800))
    // q155: per-doc math is a pure projection — the plan has NO join
    val p155 = plan("q155_head_tail_overlap")
    assert(!p155.contains("Join"), p155.take(800))
    // q156: distinct census keyed (source, gram); final join is tiny
    val p156 = plan("q156_gram_diversity")
    assert(!p156.contains("CartesianProduct"), p156.take(800))
  }

  test("q157-q160: tuning wave scale shapes hold") {
    // q157: the cross-lang join keys on the SHINGLE (≤ C(langs,2)
    // rows per shingle) — never a doc-pair or lang-matrix cartesian
    val p157 = plan("q157_cross_lang_leakage")
    assert(!p157.contains("CartesianProduct"), p157.take(800))
    // q158: the Zipf knots are a 4-row broadcast inequality join over
    // the count-value relation, never the token relation
    val p158 = plan("q158_topk_token_share")
    assert(p158.contains("BroadcastNestedLoopJoin"), p158.take(800))
    assert(!p158.contains("CartesianProduct"), p158.take(800))
    // q159: first/last prices come from ONE min/max-struct agg pair
    // over the fact scan — no window over the fact table; top-20 is
    // TakeOrdered, never a global sort
    val p159 = plan("q159_price_drift")
    assert(p159.contains("TakeOrderedAndProject"), p159.take(800))
    assert(!p159.contains("Window"), p159.take(800))
    // q160: the whole curve is one pass — the only join is the 4-row
    // broadcast ctx relation
    val p160 = plan("q160_packing_curve")
    assert(!p160.contains("SortMergeJoin"), p160.take(800))
    assert("HashAggregate".r.findAllIn(p160).size >= 2, p160.take(800))
  }

  test("q161-q163: selection wave scale shapes hold") {
    // q161: candidates come from bucket equi-joins keyed on
    // (cfg, band index, band value) and the truth kernel joins on the
    // shingle — never a doc-pair cartesian
    val p161 = plan("q161_lsh_band_curve")
    assert(!p161.contains("CartesianProduct"), p161.take(800))
    // q162: one pass — a single partial+final agg pair over the scan,
    // no join at all
    val p162 = plan("q162_discount_revenue")
    assert(!p162.contains("Join"), p162.take(800))
    assert("HashAggregate".r.findAllIn(p162).size >= 2, p162.take(800))
    // q163: the grid join is the broadcast ~blocks-sized totals
    val p163 = plan("q163_quality_length_grid")
    assert(p163.contains("BroadcastHashJoin"), p163.take(800))
    assert(!p163.contains("SortMergeJoin"), p163.take(800))
    // q164: median windows are KEYED per (type, half); the bounded
    // per-type relations assemble with broadcasts, never a cartesian
    val p164 = plan("q164_temporal_split_drift")
    assert(p164.contains("windowspecdefinition(event_type"), p164.take(800))
    assert(!p164.contains("CartesianProduct"), p164.take(800))
    // q165: top-10 is TakeOrdered over the per-supplier agg — no
    // global sort of the fact table
    val p165 = plan("q165_supplier_concentration")
    assert(p165.contains("TakeOrderedAndProject"), p165.take(800))
  }

  test("q166-q172: lifecycle wave scale shapes hold") {
    // q166: cohorts assemble from keyed joins and hash aggs — never a
    // cartesian, never a window over the orders fact
    val p166 = plan("q166_cohort_ltv")
    assert(!p166.contains("CartesianProduct"), p166.take(800))
    assert(!p166.contains("Window"), p166.take(800))
    // q167: histogram of a histogram — two stacked agg pairs, NO join
    val p167 = plan("q167_prefix_dup")
    assert(!p167.contains("Join"), p167.take(800))
    assert("HashAggregate".r.findAllIn(p167).size >= 2, p167.take(800))
    // q168: explode-free per-row HOFs then one agg pair — no join, no
    // Generate (an explode would multiply the scan by tokens-per-doc)
    val p168 = plan("q168_token_shape_mix")
    assert(!p168.contains("Join"), p168.take(800))
    assert(!p168.contains("Generate"), p168.take(800))
    // q169: top-15 is TakeOrdered, the only nested-loop is the
    // broadcast 1-row total (the 5-relation join chain itself sits
    // behind the localCheckpoint barrier, so it shows as ExistingRDD
    // here — its keyed-join shape is covered by the no-cartesian pin
    // on the full battery and the q04 dimension-chain precedent)
    val p169 = plan("q169_nation_trade_matrix")
    assert(!p169.contains("CartesianProduct"), p169.take(800))
    assert(p169.contains("TakeOrderedAndProject"), p169.take(800))
    // q170: census joins key on the shingle — never a doc-pair product
    val p170 = plan("q170_shingle_novelty")
    assert(!p170.contains("CartesianProduct"), p170.take(800))
    // q171: endpoint years arrive as a broadcast 1-row relation; the
    // only windows run on the brands-sized (ndv-bounded) relation
    val p171 = plan("q171_brand_share_shift")
    assert(!p171.contains("CartesianProduct"), p171.take(800))
    assert(p171.contains("BroadcastNestedLoopJoin"), p171.take(800))
    // q172: two stacked agg pairs over the event scan, no join
    val p172 = plan("q172_repeat_action_rate")
    assert(!p172.contains("Join"), p172.take(800))
    assert("HashAggregate".r.findAllIn(p172).size >= 2, p172.take(800))
  }

  test("q173-q180: flow wave scale shapes hold") {
    // q173: the lag distribution is value-level counts + prefixSum —
    // no rank window over the joined fact (prefixSum's own windows
    // are keyed; the keyed-window invariant test below covers that
    // pattern globally)
    val p173 = plan("q173_ship_lag_profile")
    assert(!p173.contains("CartesianProduct"), p173.take(800))
    // q176: the pair space comes from a user-keyed self-join — the
    // only nested-loop anywhere would be a cartesian, which is banned
    val p176 = plan("q176_event_type_overlap")
    assert(!p176.contains("CartesianProduct"), p176.take(800))
    assert(!p176.contains("BroadcastNestedLoopJoin") ||
      p176.contains("BroadcastHashJoin"), p176.take(800))
    // q178: both cumulatives are bucketed prefix sums; deciles come
    // from arithmetic, not ntile — no partition-less WindowExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(p: SparkPlan): Seq[WindowExec] = p match {
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      case w: WindowExec => w +: w.children.flatMap(windows)
      case other => other.children.flatMap(windows)
    }
    for (k <- Seq("q178_revenue_pareto", "q175_segment_migration")) {
      val exec = SparkEntry.queries(k)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan
      val unkeyed = windows(exec).filter(_.partitionSpec.isEmpty)
      assert(unkeyed.isEmpty,
        s"$k has partition-less windows:\n${unkeyed.mkString("\n")}")
    }
    // q180: one agg pair over the scan, no join
    val p180 = plan("q180_tax_discount_grid")
    assert(!p180.contains("Join"), p180.take(800))
    assert("HashAggregate".r.findAllIn(p180).size >= 2, p180.take(800))
  }

  test("q181-q188: spectrum wave scale shapes hold") {
    // q181/q183/q187: stacked agg pairs, no cartesian on data
    for (k <- Seq("q181_order_fill_profile", "q183_shingle_df_spectrum",
                  "q187_brand_type_coverage")) {
      val p = plan(k)
      assert(!p.contains("CartesianProduct"), s"$k: ${p.take(400)}")
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$k: ${p.take(400)}")
    }
    // q185/q186: quartiles/medians ride prefix sums — no
    // partition-less WindowExec anywhere in the executed plan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(p: SparkPlan): Seq[WindowExec] = p match {
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      case w: WindowExec => w +: w.children.flatMap(windows)
      case other => other.children.flatMap(windows)
    }
    for (k <- Seq("q185_acctbal_revenue_grid", "q186_weekend_value_shift",
                  "q182_top_customer_stability")) {
      val exec = SparkEntry.queries(k)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan
      val unkeyed = windows(exec).filter(_.partitionSpec.isEmpty)
      assert(unkeyed.isEmpty,
        s"$k has partition-less windows:\n${unkeyed.mkString("\n")}")
    }
  }

  test("q189-q196: motif wave scale shapes hold") {
    // q189: proximity is a keyed equi-join on (user, cell) — a
    // cartesian or stream-wide nested loop is the failure mode
    val p189 = plan("q189_purchase_proximity")
    assert(!p189.contains("CartesianProduct"), p189.take(800))
    assert(!p189.contains("BroadcastNestedLoopJoin"), p189.take(800))
    // q190: mode via two aggs + a keyed join, no window at all
    val p190 = plan("q190_mode_value")
    assert(!p190.contains("Window"), p190.take(800))
    // q191/q192/q194: sequence windows are KEYED (per user/customer)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(p: SparkPlan): Seq[WindowExec] = p match {
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      case w: WindowExec => w +: w.children.flatMap(windows)
      case other => other.children.flatMap(windows)
    }
    for (k <- Seq("q191_active_streaks", "q192_order_regularity",
                  "q194_trend_persistence")) {
      val exec = SparkEntry.queries(k)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan
      val all = windows(exec)
      assert(all.nonEmpty, s"$k lost its windows — rewrite?")
      assert(all.forall(_.partitionSpec.nonEmpty),
        s"$k has partition-less windows")
    }
    // q196: one agg pair over the scan, no join
    val p196 = plan("q196_round_value_bias")
    assert(!p196.contains("Join"), p196.take(800))
  }

  test("q148/q147/q120: every WindowExec in the executed plan is keyed") {
    // the CDF prefix sums run as the two-level bucketed scan
    // (Windows.prefixSum) — a partition-less running window would
    // funnel the ndv-sized relation through ONE task at 100 TB, so
    // its reappearance (in any subplan, AQE included) is a regression
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(p: SparkPlan): Seq[WindowExec] = p match {
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      case w: WindowExec => w +: w.children.flatMap(windows)
      case other => other.children.flatMap(windows)
    }
    for (k <- Seq("q148_ks_drift", "q147_equi_depth_hist",
                  "q120_cumulative_users", "q150_weighted_sample",
                  "q151_token_budget_curve", "q154_hist_selectivity",
                  "q158_topk_token_share")) {
      val exec = SparkEntry.queries(k)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan
      val all = windows(exec)
      assert(all.nonEmpty, s"$k lost its windows entirely — rewrite?")
      val unkeyed = all.filter(_.partitionSpec.isEmpty)
      assert(unkeyed.isEmpty,
        s"$k has partition-less windows:\n${unkeyed.mkString("\n")}")
    }
  }

  test("q197-q204: reconciliation wave scale shapes hold") {
    // q197: the money audit is a keyed left join — losing the LEFT
    // drops lineless headers; a nested loop would be table-wide
    val p197 = plan("q197_order_reconciliation")
    assert(p197.contains("LeftOuter"), p197.take(800))
    assert(!p197.contains("CartesianProduct"), p197.take(800))
    // q198: the pair join keys on the ORDER — a cartesian or
    // stream-wide nested loop over the fact table is the failure mode
    // (the 1-row n_orders universe legitimately rides a broadcast
    // nested loop, so only CartesianProduct is banned)
    val p198 = plan("q198_basket_affinity")
    assert(!p198.contains("CartesianProduct"), p198.take(800))
    // q203: the confusion pair join is an equi-join on pos over the
    // 10×64 centroid relation, never a cartesian over embeddings
    val p203 = plan("q203_centroid_confusion")
    assert(!p203.contains("CartesianProduct"), p203.take(800))
    // q204: both ladder windows are KEYED per (user, type)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(p: SparkPlan): Seq[WindowExec] = p match {
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      case w: WindowExec => w +: w.children.flatMap(windows)
      case other => other.children.flatMap(windows)
    }
    val exec204 = SparkEntry.queries("q204_value_ladder")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan
    val w204 = windows(exec204)
    assert(w204.nonEmpty, "q204 lost its windows — rewrite?")
    assert(w204.forall(_.partitionSpec.nonEmpty),
      s"q204 has partition-less windows:\n${w204.mkString("\n")}")
    // q199/q200/q201: stacked hash aggs, no window, no cartesian on
    // facts (the broadcast 1-row total is a BroadcastNestedLoopJoin)
    for (k <- Seq("q199_dual_sourcing", "q200_returns_mix",
                  "q201_line_position_decay")) {
      val p = plan(k)
      assert(!p.contains("CartesianProduct"), s"$k: ${p.take(800)}")
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$k: ${p.take(400)}")
    }
  }

  test("q205-q212: robust-statistics wave scale shapes hold") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(p: SparkPlan): Seq[WindowExec] = p match {
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      case w: WindowExec => w +: w.children.flatMap(windows)
      case other => other.children.flatMap(windows)
    }
    def executedWindows(k: String): Seq[WindowExec] =
      windows(SparkEntry.queries(k)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan)
    // q207: BOTH CDFs ride prefixSum — every window keyed, none over
    // a data-ndv domain without the bucket key
    val w207 = executedWindows("q207_value_mad")
    assert(w207.nonEmpty, "q207 lost its prefixSum windows — rewrite?")
    assert(w207.forall(_.partitionSpec.nonEmpty),
      s"q207 has partition-less windows:\n${w207.mkString("\n")}")
    // q206/q209: keyed windows only (bounded qty domain / part dim)
    for (k <- Seq("q206_weighted_median_qty", "q209_rank_agreement")) {
      val w = executedWindows(k)
      assert(w.nonEmpty && w.forall(_.partitionSpec.nonEmpty),
        s"$k windows must be keyed:\n${w.mkString("\n")}")
    }
    // q208: the pair join keys on (user, session) — never a cartesian;
    // q205/q211/q212: no cartesian on any fact relation (broadcast
    // 1-row totals legitimately ride BroadcastNestedLoopJoin)
    for (k <- Seq("q205_sole_late_supplier", "q208_session_cooccur",
                  "q211_copy_direction", "q212_tv_drift")) {
      val p = plan(k)
      assert(!p.contains("CartesianProduct"), s"$k: ${p.take(800)}")
    }
    // q205: supplier→nation stays a broadcast dim join
    assert(plan("q205_sole_late_supplier").contains("BroadcastHashJoin"))
    // q209: revenue joins in LEFT so zero-revenue parts keep ranking
    assert(plan("q209_rank_agreement").contains("LeftOuter"))
  }

  test("q213-q220: concordance wave scale shapes hold") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(p: SparkPlan): Seq[WindowExec] = p match {
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      case w: WindowExec => w +: w.children.flatMap(windows)
      case other => other.children.flatMap(windows)
    }
    // q214/q217: the CDFs ride prefixSum — every window keyed
    for (k <- Seq("q214_length_gini", "q217_dim_quantiles")) {
      val w = windows(SparkEntry.queries(k)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan)
      assert(w.nonEmpty && w.forall(_.partitionSpec.nonEmpty),
        s"$k windows must be keyed (prefixSum):\n${w.mkString("\n")}")
    }
    // q213: the Kendall pair join keys on the brand, never a
    // cartesian over cells of different brands
    assert(!plan("q213_kendall_discount_qty").contains("CartesianProduct"))
    // q219/q220: audits are stacked aggs over broadcast dims
    for (k <- Seq("q219_discount_spread", "q220_unit_price_audit")) {
      val p = plan(k)
      assert(p.contains("BroadcastHashJoin"), s"$k: ${p.take(400)}")
      assert(!p.contains("CartesianProduct"), s"$k: ${p.take(400)}")
    }
  }

  test("q221-q228: division & margin wave scale shapes hold") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(p: SparkPlan): Seq[WindowExec] = p match {
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      case w: WindowExec => w +: w.children.flatMap(windows)
      case other => other.children.flatMap(windows)
    }
    // q221: the quartile CDF rides prefixSum — keyed windows only
    val w221 = windows(SparkEntry.queries("q221_outlier_fences")(
      spark, TestSpark.sf0001).queryExecution.executedPlan)
    assert(w221.nonEmpty && w221.forall(_.partitionSpec.nonEmpty),
      s"q221 windows must be keyed:\n${w221.mkString("\n")}")
    // q222: escalation lag is keyed per customer
    val w222 = windows(SparkEntry.queries("q222_priority_escalation")(
      spark, TestSpark.sf0001).queryExecution.executedPlan)
    assert(w222.nonEmpty && w222.forall(_.partitionSpec.nonEmpty),
      s"q222 lag must be keyed per customer:\n${w222.mkString("\n")}")
    // q223/q224/q226: no cartesian on any fact/embedding relation;
    // dims broadcast (1-row totals legitimately ride BNLJ)
    for (k <- Seq("q223_trade_locality", "q224_centroid_margin",
                  "q226_relational_division")) {
      val p = plan(k)
      assert(!p.contains("CartesianProduct"), s"$k: ${p.take(800)}")
    }
    // q222: the segment dim broadcasts (q223's broadcast dims sit
    // behind its localCheckpoint, invisible to the final plan)
    assert(plan("q222_priority_escalation").contains("BroadcastHashJoin"))
  }

  test("q229-q236: forensics wave scale shapes hold") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(p: SparkPlan): Seq[WindowExec] = p match {
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      case w: WindowExec => w +: w.children.flatMap(windows)
      case other => other.children.flatMap(windows)
    }
    // q229/q230/q231: every window keyed (user / discount / brand)
    for (k <- Seq("q229_seq_predictability", "q230_conditional_quantiles",
                  "q231_revenue_halfdate")) {
      val w = windows(SparkEntry.queries(k)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan)
      assert(w.nonEmpty && w.forall(_.partitionSpec.nonEmpty),
        s"$k windows must be keyed:\n${w.mkString("\n")}")
    }
    // q232/q234: profile/pair joins stay keyed — no cartesian
    for (k <- Seq("q232_diurnal_distance", "q234_survivorship_policies")) {
      val p = plan(k)
      assert(!p.contains("CartesianProduct"), s"$k: ${p.take(800)}")
    }
    // q236: the part dim broadcasts
    assert(plan("q236_lifecycle_span").contains("BroadcastHashJoin"))
  }

  test("q237-q244: dynamics wave scale shapes hold") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(p: SparkPlan): Seq[WindowExec] = p match {
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      case w: WindowExec => w +: w.children.flatMap(windows)
      case other => other.children.flatMap(windows)
    }
    // q237/q243: island/lag windows keyed per user/customer
    for (k <- Seq("q237_monotone_runs", "q243_order_overlap")) {
      val w = windows(SparkEntry.queries(k)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan)
      assert(w.nonEmpty && w.forall(_.partitionSpec.nonEmpty),
        s"$k windows must be keyed:\n${w.mkString("\n")}")
    }
    // q240/q241: the audit joins stay keyed — no cartesian on facts
    for (k <- Seq("q240_split_fairness", "q241_dedup_vocab_cost")) {
      val p = plan(k)
      assert(!p.contains("CartesianProduct"), s"$k: ${p.take(800)}")
    }
    // q244: the part dim broadcasts
    assert(plan("q244_basket_breadth").contains("BroadcastHashJoin"))
  }

  test("q245-q252: tenure wave scale shapes hold") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(p: SparkPlan): Seq[WindowExec] = p match {
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      case w: WindowExec => w +: w.children.flatMap(windows)
      case other => other.children.flatMap(windows)
    }
    // q246: the dormancy lag is keyed per customer
    val w246 = windows(SparkEntry.queries("q246_dormancy_revival")(
      spark, TestSpark.sf0001).queryExecution.executedPlan)
    assert(w246.nonEmpty && w246.forall(_.partitionSpec.nonEmpty),
      s"q246 lag must be keyed:\n${w246.mkString("\n")}")
    // q247/q248/q252: threshold CDFs ride prefixSum — no rank window
    // over a data-sized customer/order partition anywhere
    for (k <- Seq("q247_priority_premium", "q248_elite_retention",
                  "q252_first_value_ltv_grid")) {
      val w = windows(SparkEntry.queries(k)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan)
      assert(w.forall(_.partitionSpec.nonEmpty),
        s"$k has a partition-less window:\n${w.mkString("\n")}")
    }
    // q245/q249/q250: no cartesian on facts (1-row totals ride BNLJ)
    for (k <- Seq("q245_reciprocal_trade", "q249_style_fingerprint",
                  "q250_churn_census")) {
      val p = plan(k)
      assert(!p.contains("CartesianProduct"), s"$k: ${p.take(800)}")
    }
  }

  test("q253-q260: integrity wave scale shapes hold") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(p: SparkPlan): Seq[WindowExec] = p match {
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      case w: WindowExec => w +: w.children.flatMap(windows)
      case other => other.children.flatMap(windows)
    }
    // q256/q260: gap lag keyed per (user, type); top-3 threshold via
    // prefixSum — every window keyed, no rank over customers
    for (k <- Seq("q256_gap_quantiles", "q260_top3_concentration")) {
      val w = windows(SparkEntry.queries(k)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan)
      assert(w.forall(_.partitionSpec.nonEmpty),
        s"$k has a partition-less window:\n${w.mkString("\n")}")
    }
    // q254/q255: lift grid and split-mode joins keyed — no cartesian
    for (k <- Seq("q254_specialist_suppliers", "q255_mode_stability")) {
      val p = plan(k)
      assert(!p.contains("CartesianProduct"), s"$k: ${p.take(800)}")
    }
    // q257: the audit is one keyed hash-agg pass, no join at all
    val p257 = plan("q257_linenumber_audit")
    assert("HashAggregate".r.findAllIn(p257).size >= 2, p257.take(400))
  }

  test("q261-q268: gains wave scale shapes hold") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(p: SparkPlan): Seq[WindowExec] = p match {
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      case w: WindowExec => w +: w.children.flatMap(windows)
      case other => other.children.flatMap(windows)
    }
    // q266: the per-year quartile CDF rides keyed prefixSum; q265's
    // first-pick window is keyed per customer
    for (k <- Seq("q265_first_brand_loyalty", "q266_supplier_quartile_shift")) {
      val w = windows(SparkEntry.queries(k)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan)
      assert(w.forall(_.partitionSpec.nonEmpty),
        s"$k has a partition-less window over data:\n${w.mkString("\n")}")
    }
    // q261/q262: no cartesian on facts (1-row totals ride BNLJ)
    for (k <- Seq("q261_value_gains_curve", "q262_hapax_mass")) {
      val p = plan(k)
      assert(!p.contains("CartesianProduct"), s"$k: ${p.take(800)}")
    }
    // q268: dimension-only — no fact scan in the plan
    assert(!plan("q268_size_profile").contains("lineitem"))
  }
}
