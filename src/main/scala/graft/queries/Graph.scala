package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.GraphOps
import graft.sources.Tables

/** Graph & planner-statistics wave (q142–q143, round 5): link
  * analysis over a relationship graph mined from the fact table, and
  * the join-cardinality estimation a cost-based planner runs before
  * choosing a plan — measured against the exact answer.
  *
  * Same t2 gate as every wave: DuckDB oracles in [[oracle]],
  * prototyped at sf0.01 before the natives; determinism per SURVEY.md
  * §5 — BOTH queries are pure integer arithmetic (ppb ranks, ppm
  * errors, integer DIV), so no float ever enters a compare.
  */
object Graph {

  private def cnt = count(lit(1))

  def queries: Map[String, Queries.QueryFn] = Map(

    // PageRank over the part<->supplier bipartite graph mined from
    // lineitem (distinct trading pairs, both directions): which nodes
    // sit at the center of the supply network. 3 damped iterations in
    // exact integer ppb (GraphOps.pagerankPpb) — the fixed iteration
    // budget of a rank REPORT, not an open-ended solver. Scale shape:
    // edge mining is one distinct over the fact scan; each iteration
    // is keyed joins/aggs on node ids (see GraphOps); top-20 is a
    // TakeOrdered. Supplier nodes accumulate rank from their many
    // parts — degrees differ by 5x across the graph, so the report
    // genuinely ranks.
    "q142_graph_pagerank" -> ((s, dir) => {
      // Node ids stay INTEGERS through every PageRank shuffle (part =
      // +pk, supplier = -sk-1, both injective — the q144 discipline):
      // long hashing/compares beat string keys in the per-iteration
      // joins/aggs; the 'p…'/'s…' labels the oracle sees are minted
      // only on the final top-20. INVARIANT of this encoding: part ids
      // (pk >= 1) and supplier ids (-sk-1 <= -2) are DISJOINT domains.
      // The single distinct over both sides below (and the label
      // split on id >= 0) rely on it; reuse the pattern only on
      // domains that cannot overlap.
      val pe = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        // lazy: prepare()'s cache build is the first consumer and
        // materializes it — no separate materialization-only job
        .distinct().localCheckpoint(false)
      // ONE distinct over the exploded id stream instead of a distinct
      // per side + union: by the encoding's disjointness invariant
      // above, distinct(union) == union(distincts) — same rows, one
      // exchange instead of two (guide §2.4)
      val nodes = pe.select(explode(array(col("pk"), -col("sk") - 1)).as("id"))
        .distinct()
      val edges = pe.select(col("pk").as("src"), (-col("sk") - 1).as("dst"))
        .unionByName(pe.select((-col("sk") - 1).as("src"), col("pk").as("dst")))
      val deg = edges.groupBy("src").agg(cnt.as("od"))
      GraphOps.pagerankPpb(nodes, edges, iters = 3)
        .join(deg.withColumnRenamed("src", "id"), Seq("id"), "left")
        .select(when(col("id") >= 0, concat(lit("p"), col("id").cast("string")))
            .otherwise(concat(lit("s"), (-col("id") - 1).cast("string"))).as("node"),
          col("r").as("rank_ppb"),
          coalesce(col("od"), lit(0L)).as("degree"))
        .orderBy(desc("rank_ppb"), col("node")).limit(20)
    }),

    // Join-cardinality estimation vs truth: the textbook uniform
    // estimate |L|·|R| / max(ndv_L, ndv_R) next to the EXACT join size
    // (Σ per-key count products — computed from grouped counts, never
    // by materializing the join), for three planner-relevant shapes:
    // a clean FK join (estimate exact), a skewed self-join (the
    // estimate undershoots by the skew — err_ppm is the measured
    // penalty), and a filtered probe estimated from BASE-table ndv
    // (what a real optimizer has). Every figure is an exact integer;
    // err in ppm by integer DIV. Scale shape: per-key count relations
    // are hash aggs on the join key; the products join on the key;
    // every scalar reduces to a 1-row frame before the final
    // assembly.
    "q143_join_card_est" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
      val cu = Tables.load(s, dir, "customer")
      def counts(df: DataFrame, k: String) =
        df.groupBy(col(k).as("k")).agg(cnt.as("c"))
      // round-11: every scalar derives from the per-key count
      // relations — n = SUM(c) over all groups, ndv = COUNT(k) (counts
      // non-null group keys, exactly what COUNT(DISTINCT k) counted;
      // a null-key group's rows still land in n) — so each table is
      // scanned once per grouping key instead of once per scalar leg
      // (guide §1.2 step 1: 12 base scans -> 6 grouped ones over the
      // same tables; identical exact integers).
      def stats(d: DataFrame, nName: String, ndvName: String) =
        d.agg(coalesce(sum(col("c")), lit(0L)).as(nName),
          count(col("k")).as(ndvName))
      def actualOf(a: DataFrame, b: DataFrame) =
        a.join(b.withColumnRenamed("c", "cb"), "k")
          .agg(coalesce(sum(col("c") * col("cb")), lit(0L)).as("actual"))
      def row(name: String, l: DataFrame, r: DataFrame, actual: DataFrame) =
        l.crossJoin(r).crossJoin(actual)
          .selectExpr(s"'$name' AS join_name",
            "n_left", "n_right", "ndv_left", "ndv_right", "actual",
            "n_left * n_right DIV GREATEST(ndv_left, ndv_right) AS est_uniform",
            "ABS(n_left * n_right DIV GREATEST(ndv_left, ndv_right) - actual)" +
              " * 1000000 DIV actual AS err_ppm")
      // NOT checkpointed: all consumers live in the ONE final plan, so
      // the repeated grouped subtrees dedupe via ReusedExchange — a
      // checkpoint per relation measured +8 jobs (materialization
      // barriers) for scans the reuse already avoided
      val cok = counts(li, "l_orderkey")   // stats + actual
      val csk = counts(li, "l_suppkey")    // one-agg self arm
      val ook = counts(o, "o_orderkey")    // stats + actual
      val foc = counts(o.filter(col("o_orderstatus") === "F"), "o_custkey") // n_left + actual
      val ccu = counts(cu, "c_custkey")    // stats + actual
      val j1 = row("j1_lineitem_orders",
        stats(cok, "n_left", "ndv_left"), stats(ook, "n_right", "ndv_right"),
        actualOf(cok, ook))
      // self-join arm: all five scalars from ONE aggregate over csk
      val j2 = csk.agg(coalesce(sum(col("c")), lit(0L)).as("n_left"),
          coalesce(sum(col("c")), lit(0L)).as("n_right"),
          count(col("k")).as("ndv_left"), count(col("k")).as("ndv_right"),
          coalesce(sum(col("c") * col("c")), lit(0L)).as("actual"))
        .selectExpr("'j2_lineitem_self_suppkey' AS join_name",
          "n_left", "n_right", "ndv_left", "ndv_right", "actual",
          "n_left * n_right DIV GREATEST(ndv_left, ndv_right) AS est_uniform",
          "ABS(n_left * n_right DIV GREATEST(ndv_left, ndv_right) - actual)" +
            " * 1000000 DIV actual AS err_ppm")
      val j3 = row("j3_orders_F_customer",
        foc.agg(coalesce(sum(col("c")), lit(0L)).as("n_left")).crossJoin(
          o.agg(countDistinct(col("o_custkey")).as("ndv_left"))), // BASE-table ndv
        stats(ccu, "n_right", "ndv_right"),
        actualOf(foc, ccu))
      j1.unionByName(j2).unionByName(j3).orderBy("join_name")
    })
  )

  /** DuckDB oracles (validated at sf0.01 before the natives). */
  val oracle: Map[String, String] = Map(
    "q142_graph_pagerank" -> """
WITH pe AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
nodes AS (SELECT 'p' || CAST(p AS VARCHAR) AS id FROM (SELECT DISTINCT p FROM pe)
          UNION ALL
          SELECT 's' || CAST(s AS VARCHAR) FROM (SELECT DISTINCT s FROM pe)),
edges AS (SELECT 'p' || CAST(p AS VARCHAR) AS src, 's' || CAST(s AS VARCHAR) AS dst FROM pe
          UNION ALL
          SELECT 's' || CAST(s AS VARCHAR), 'p' || CAST(p AS VARCHAR) FROM pe),
n AS (SELECT COUNT(*) AS n FROM nodes),
deg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
r0 AS (SELECT id, CAST(1000000000 AS BIGINT) // n AS r FROM nodes CROSS JOIN n),
i1 AS (SELECT r0.id, (15 * 10000000 // n) + 85 * COALESCE(inc.m, 0) // 100 AS r
       FROM r0 CROSS JOIN n LEFT JOIN (
         SELECT e.dst AS id, CAST(SUM(r0.r // deg.od) AS BIGINT) AS m
         FROM edges e JOIN r0 ON r0.id = e.src JOIN deg ON deg.src = e.src
         GROUP BY e.dst) inc ON inc.id = r0.id),
i2 AS (SELECT i1.id, (15 * 10000000 // n) + 85 * COALESCE(inc.m, 0) // 100 AS r
       FROM i1 CROSS JOIN n LEFT JOIN (
         SELECT e.dst AS id, CAST(SUM(i1.r // deg.od) AS BIGINT) AS m
         FROM edges e JOIN i1 ON i1.id = e.src JOIN deg ON deg.src = e.src
         GROUP BY e.dst) inc ON inc.id = i1.id),
i3 AS (SELECT i2.id, (15 * 10000000 // n) + 85 * COALESCE(inc.m, 0) // 100 AS r
       FROM i2 CROSS JOIN n LEFT JOIN (
         SELECT e.dst AS id, CAST(SUM(i2.r // deg.od) AS BIGINT) AS m
         FROM edges e JOIN i2 ON i2.id = e.src JOIN deg ON deg.src = e.src
         GROUP BY e.dst) inc ON inc.id = i2.id)
SELECT i3.id AS node, CAST(i3.r AS BIGINT) AS rank_ppb,
       CAST(COALESCE(deg.od, 0) AS BIGINT) AS degree
FROM i3 LEFT JOIN deg ON deg.src = i3.id
ORDER BY rank_ppb DESC, node LIMIT 20""",

    "q143_join_card_est" -> """
WITH s AS (
  SELECT 'j1_lineitem_orders' AS join_name,
    (SELECT COUNT(*) FROM lineitem) n_left, (SELECT COUNT(*) FROM orders) n_right,
    (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) ndv_left,
    (SELECT COUNT(DISTINCT o_orderkey) FROM orders) ndv_right,
    (SELECT CAST(SUM(a.c * b.c) AS BIGINT) FROM
       (SELECT l_orderkey k, COUNT(*) c FROM lineitem GROUP BY 1) a
       JOIN (SELECT o_orderkey k, COUNT(*) c FROM orders GROUP BY 1) b ON a.k = b.k) actual
  UNION ALL
  SELECT 'j2_lineitem_self_suppkey',
    (SELECT COUNT(*) FROM lineitem), (SELECT COUNT(*) FROM lineitem),
    (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem),
    (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem),
    (SELECT CAST(SUM(a.c * a.c) AS BIGINT) FROM
       (SELECT l_suppkey k, COUNT(*) c FROM lineitem GROUP BY 1) a)
  UNION ALL
  SELECT 'j3_orders_F_customer',
    (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'F'),
    (SELECT COUNT(*) FROM customer),
    (SELECT COUNT(DISTINCT o_custkey) FROM orders),
    (SELECT COUNT(DISTINCT c_custkey) FROM customer),
    (SELECT CAST(SUM(a.c * b.c) AS BIGINT) FROM
       (SELECT o_custkey k, COUNT(*) c FROM orders WHERE o_orderstatus = 'F' GROUP BY 1) a
       JOIN (SELECT c_custkey k, COUNT(*) c FROM customer GROUP BY 1) b ON a.k = b.k))
SELECT join_name, n_left, n_right, ndv_left, ndv_right, actual,
  n_left * n_right // GREATEST(ndv_left, ndv_right) AS est_uniform,
  ABS(n_left * n_right // GREATEST(ndv_left, ndv_right) - actual) * 1000000 // actual AS err_ppm
FROM s ORDER BY join_name"""
  ).map { case (k, v) => k -> v.trim }
}
