package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Governance wave (q140–q141, round 5): the table-trust surface — a
  * declared-constraint audit across the whole star schema, and
  * incremental materialized-view maintenance over the managed-table
  * write path ([[graft.operators.Mvm]]).
  *
  * Same t2 gate as every wave: DuckDB oracles in [[oracle]],
  * prototyped at sf0.01 before the natives; determinism per SURVEY.md
  * §5 (all-integer counts here — no floats anywhere in the wave).
  */
object Governance {

  private def cnt = count(lit(1))

  def queries: Map[String, Queries.QueryFn] = Map(

    // Declared-constraint audit (round 5): primary-key uniqueness,
    // referential integrity, and domain rules checked across the
    // schema in one report — the ANALYZE CONSTRAINTS a warehouse runs
    // before trusting a load (and the reference's schema-enforcement
    // role re-expressed as a batch audit). Each PK check is one
    // count-distinct aggregate; each FK check is one anti join on the
    // key (hash-partitionable, dimension side broadcastable); domain
    // rules are conditional sums in a single scan. Every count is
    // exact integer. The report deliberately has a non-zero row at
    // graded SFs: the synthetic lineitem reuses (l_orderkey,
    // l_linenumber) pairs, and the audit is what surfaces that.
    "q140_constraints" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val li = Tables.load(s, dir, "lineitem")
      val c = Tables.load(s, dir, "customer")
      val p = Tables.load(s, dir, "part")
      val n = Tables.load(s, dir, "nation")
      val ev = Tables.load(s, dir, "events")
      val d = Tables.load(s, dir, "documents")
      // round-11: only the two EVENTS legs merge (one scan, one
      // aggregate, zero added joins — strictly fewer passes). A fuller
      // merge that rode FK flags on the fact scan as left joins
      // against distinct dim keys was MEASURED WORSE (+3 jobs and
      // higher task CPU than the leg-parallel anti joins at sf0.1,
      // with the old form's extra scans being narrow column-pruned
      // reads) — reverted, see OPTIMIZATION_r11.md.
      def fk(name: String, fact: DataFrame, factKey: String,
             dim: DataFrame, dimKey: String): DataFrame =
        fact.agg(cnt.as("n_checked"))
          .crossJoin(fact.join(dim.select(col(dimKey)),
              fact(factKey) === col(dimKey), "left_anti")
            .agg(cnt.as("n_violations")))
          .select(lit(name).as("constraint_name"),
            col("n_checked"), col("n_violations"))
      val c1 = o.agg(cnt.as("n_checked"),
          (cnt - countDistinct(col("o_orderkey"))).as("n_violations"))
        .select(lit("c1_orders_pk_unique").as("constraint_name"),
          col("n_checked"), col("n_violations"))
      val c2 = li.agg(cnt.as("n_checked"),
          (cnt - countDistinct(col("l_orderkey"), col("l_linenumber")))
            .as("n_violations"))
        .select(lit("c2_lineitem_pk_unique").as("constraint_name"),
          col("n_checked"), col("n_violations"))
      val c3 = fk("c3_lineitem_fk_orders", li, "l_orderkey", o, "o_orderkey")
      val c4 = fk("c4_lineitem_fk_part", li, "l_partkey", p, "p_partkey")
      val c5 = fk("c5_orders_fk_customer", o, "o_custkey", c, "c_custkey")
      val c6 = fk("c6_customer_fk_nation", c, "c_nationkey", n, "n_nationkey")
      val evAgg = ev.agg(cnt.as("n"),
          sum(when(col("value").isNull || col("value") < 0, 1L).otherwise(0L))
            .as("val_v"),
          sum(when(col("event_type").isNull ||
              !col("event_type").isin("click", "error", "purchase", "signup", "view"),
            1L).otherwise(0L)).as("typ_v"))
        .selectExpr("stack(2, " +
          "'c7_events_value_nonneg', n, val_v, " +
          "'c8_events_type_enum', n, typ_v) " +
          "AS (constraint_name, n_checked, n_violations)")
      val c9 = d.agg(cnt.as("n_checked"),
          sum(when(col("text").isNull || col("text") === "", 1L).otherwise(0L))
            .as("n_violations"))
        .select(lit("c9_documents_text_nonempty").as("constraint_name"),
          col("n_checked"), col("n_violations"))
      Seq(c1, c2, c3, c4, c5, c6, evAgg, c9)
        .reduce(_ unionByName _)
        .orderBy("constraint_name")
    }),

    // Incremental materialized-view maintenance under the gate (round
    // 5): the per-lang rollup of q121's managed table, bootstrapped
    // ONCE from the seed insert and then maintained through the same
    // delete/update/upsert sequence purely from version-to-version
    // DELTAS (Mvm.delta over time-travel reads, Mvm.applyDelta merges
    // — delta-sized work per mutation, never a recompute). The oracle
    // is q121's relational replay aggregated directly, so the gate
    // proves incremental maintenance == full recompute, row set
    // included (the deleted 'de' group must leave the view when its
    // maintained count hits 0, then return when the upsert re-inserts
    // 'de' docs). Side effects go to a fresh temp dir per call, q121's
    // idempotence discipline.
    "q141_mv_incremental" -> ((s, dir) => {
      import graft.operators.Mvm
      import graft.sources.ManagedTable
      val docs = Tables.load(s, dir, "documents")
      val root = graft.util.Scratch.tempDir("graft_q141").toString + "/t"
      ManagedTable.create(s, root, docs.schema)
      ManagedTable.insert(s, root, docs)
      ManagedTable.delete(s, root, col("lang") === "de")
      ManagedTable.update(s, root, col("doc_id") % 10 === 0,
        Map("n_chars" -> (col("n_chars") + 1000)))
      ManagedTable.upsert(s, root,
        docs.filter(col("doc_id") % 7 === 3)
          .withColumn("n_chars", col("n_chars") * 2),
        Seq("doc_id"))
      val keys = Seq("lang")
      val sums = Seq("sum_chars" -> col("n_chars"), "sum_len" -> length(col("text")).cast("long"))
      val cols = docs.columns.toSeq
      val mv0 = Mvm.compute(ManagedTable.read(s, root, asOf = Some(1)),
        keys, "n_docs", sums)
      val latest = ManagedTable.latest(s, root).version
      // lazy fold: the full chain (3 deltas + 3 merges over k-row
      // views) evaluates ONCE at the sink — a per-step checkpoint
      // would eagerly re-run the whole prefix at every step
      (2 to latest).foldLeft(mv0) { (mv, v) =>
        val d = Mvm.delta(ManagedTable.read(s, root, asOf = Some(v - 1)),
          ManagedTable.read(s, root, asOf = Some(v)), cols)
        Mvm.applyDelta(mv, d, keys, "n_docs", sums)
      }.orderBy("lang")
    })
  )

  /** DuckDB oracles (validated at sf0.01 before the natives). */
  val oracle: Map[String, String] = Map(
    "q140_constraints" -> """
SELECT 'c1_orders_pk_unique' AS constraint_name, COUNT(*) AS n_checked,
       COUNT(*) - COUNT(DISTINCT o_orderkey) AS n_violations FROM orders
UNION ALL
SELECT 'c2_lineitem_pk_unique', COUNT(*),
       COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem
UNION ALL
SELECT 'c3_lineitem_fk_orders', (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
          (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
UNION ALL
SELECT 'c4_lineitem_fk_part', (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
          (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
UNION ALL
SELECT 'c5_orders_fk_customer', (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
          (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'c6_customer_fk_nation', (SELECT COUNT(*) FROM customer),
       (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
          (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
UNION ALL
SELECT 'c7_events_value_nonneg', COUNT(*),
       CAST(SUM(CASE WHEN value IS NULL OR value < 0 THEN 1 ELSE 0 END) AS BIGINT) FROM events
UNION ALL
SELECT 'c8_events_type_enum', COUNT(*),
       CAST(SUM(CASE WHEN event_type NOT IN ('click','error','purchase','signup','view')
                     OR event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events
UNION ALL
SELECT 'c9_documents_text_nonempty', COUNT(*),
       CAST(SUM(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END) AS BIGINT) FROM documents
ORDER BY constraint_name""",

    // q141: q121's relational replay aggregated directly — the full
    // recompute the incremental maintenance must equal
    "q141_mv_incremental" -> """
WITH survivors AS (SELECT doc_id, text, lang, source,
        CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars
      FROM documents WHERE lang <> 'de'),
src AS (SELECT doc_id, text, lang, source, n_chars * 2 AS n_chars
        FROM documents WHERE doc_id % 7 = 3),
final AS (SELECT * FROM src UNION ALL SELECT * FROM survivors WHERE doc_id % 7 <> 3)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
  CAST(SUM(length(text)) AS BIGINT) AS sum_len
FROM final GROUP BY lang ORDER BY lang"""
  ).map { case (k, v) => k -> v.trim }
}
