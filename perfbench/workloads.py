"""Seeded inputs of the three workloads. The engine receives only what
these functions return: SQL texts, upsert batch bodies and key choices.

serve     two closed-loop clients, each a dashboard of six saved texts from
          the q01-q40 battery (DASHBOARD: scans, joins, rollup and cube,
          subqueries, windows, text and vector SQL), which it re-sends in
          a fixed cycle, the same on every run and seed. Each round is the
          next text of the cycle and one template with fresh seeded
          literals. Each client's first round warms the server before the
          window; then each sends a fixed number of rounds, one for every
          second of the run, so every run measures the same texts and a
          12-second window sends each of the twelve texts twice.
ingest    one writer of 200-row upsert batches (150 updates of existing
          keys, 50 new keys) into a managed copy of `orders` with one
          COUNT/SUM materialized view, beside one reader alternating a
          point lookup with the view-shaped aggregate for as long as the
          writer writes. The first batch goes in before the window; then
          the writer sends one batch for every four seconds of the run (a
          batch takes about 5.5 s here), a fixed count, so every run
          measures whole batches.
pipeline  one client calling nine operator-library queries by name.
"""
import datetime
import json
import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
N_ORDERS = 150000

# One dashboard per client: the battery texts it re-sends, in order.
DASHBOARD = [
    ["q03_join_inner", "q11_agg_hash", "q13_rollup", "q17_win_rank",
     "q29_scalar_subquery", "q38_knn_cosine"],
    ["q02_predicates", "q04_join_multiway", "q14_cube", "q20_topk_per_group",
     "q32_window_tumbling", "q37_text_stats"],
]

# ingest: rows per batch, of which updates of existing keys; reads queued
BATCH_ROWS = 200
UPDATES = 150
N_READS = 2000

PIPELINE = ["q41_dedup_simhash", "q42_dedup_ngram_jaccard", "q43_dedup_embedding",
            "q44_ann_lsh", "q50_dedup_lsh_bands", "q56_ann_ivf",
            "q57_dedup_components", "q85_kmeans_train", "q101_ivfpq"]

# Each template is one text that Spark SQL and DuckDB both run with the
# same meaning: explicit DECIMAL sums, TIMESTAMP literals, unique orders.
TEMPLATES = {
    "filter_agg": """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{d0}' AND l_shipdate < TIMESTAMP '{d1}'
  AND l_discount <= {disc}
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "join_agg": """SELECT n.n_name, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = '{region}' AND c.c_mktsegment = '{seg}'
  AND o.o_orderdate >= TIMESTAMP '{d0}' AND o.o_orderdate < TIMESTAMP '{d1}'
GROUP BY n.n_name ORDER BY n.n_name""",
    "window_topk": """SELECT user_id, event_id, value, rn FROM (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
  FROM events WHERE event_type = '{etype}' AND user_id BETWEEN {u0} AND {u1}) t
WHERE rn <= {k} ORDER BY user_id, rn""",
    "point_lookup": """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey = {key}""",
}
KINDS = list(TEMPLATES)

INGEST_COLUMNS = ["o_orderkey", "o_custkey", "o_orderstatus", "price_cents", "o_orderpriority"]
BASE_SELECT = ("SELECT o_orderkey, o_custkey, o_orderstatus, "
               "CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents, "
               "o_orderpriority FROM orders")
AGG_SQL = ("SELECT o_orderstatus, COUNT(*) AS n, SUM(price_cents) AS total "
           "FROM ords GROUP BY o_orderstatus")
POINT_SQL = ("SELECT o_orderkey, o_custkey, o_orderstatus, price_cents, o_orderpriority "
             "FROM ords WHERE o_orderkey = {key}")


def _day(rng, lo, hi):
    d0 = datetime.date(*lo) + datetime.timedelta(days=rng.randrange(
        (datetime.date(*hi) - datetime.date(*lo)).days))
    return d0


def template_sql(kind, rng):
    if kind == "filter_agg":
        d0 = _day(rng, (1995, 1, 1), (2001, 6, 1))
        d1 = d0 + datetime.timedelta(days=rng.randrange(30, 181))
        return TEMPLATES[kind].format(d0=d0, d1=d1, disc=f"{rng.randrange(0, 11) / 100:.2f}")
    if kind == "join_agg":
        d0 = _day(rng, (1995, 1, 1), (2001, 1, 1))
        d1 = d0 + datetime.timedelta(days=rng.randrange(90, 366))
        return TEMPLATES[kind].format(region=rng.choice(REGIONS), seg=rng.choice(SEGMENTS),
                                      d0=d0, d1=d1)
    if kind == "window_topk":
        u0 = rng.randrange(0, 1480)
        return TEMPLATES[kind].format(etype=rng.choice(EVENT_TYPES), u0=u0,
                                      u1=u0 + rng.randrange(5, 21), k=rng.randrange(1, 6))
    return TEMPLATES[kind].format(key=rng.randrange(N_ORDERS))


def serve(seed, seconds):
    rng = random.Random(seed)
    rounds_per_client = 1 + max(1, round(seconds))
    with open(os.path.join(HERE, "sql", "battery.json")) as f:
        battery = json.load(f)
    out = []
    for c, dash in enumerate(DASHBOARD):
        reqs, n = [], 0
        for r in range(rounds_per_client):
            name = dash[r % len(dash)]
            kind = KINDS[(r + c) % len(KINDS)]
            reqs.append({"id": c * 100000 + n, "round": r, "kind": "battery",
                         "name": name, "sql": battery[name]["spark"]})
            reqs.append({"id": c * 100000 + n + 1, "round": r, "kind": kind,
                         "name": kind, "sql": template_sql(kind, rng)})
            n += 2
        out.append(reqs)
    return {"clients": out}


def ingest(seed, seconds):
    rng = random.Random(seed)
    n_batches = 1 + max(1, round(seconds / 4))
    live = list(range(N_ORDERS))
    batches = []
    next_key = 10_000_000
    for b in range(n_batches):
        keys = rng.sample(live, UPDATES) + list(range(next_key, next_key + BATCH_ROWS - UPDATES))
        live.extend(range(next_key, next_key + BATCH_ROWS - UPDATES))
        next_key += BATCH_ROWS - UPDATES
        rows = [[k, rng.randrange(15000), rng.choice(STATUS), rng.randrange(100000, 50000000),
                 rng.choice(PRIORITIES)] for k in keys]
        batches.append({"id": b, "rows": rows})
    # point reads favour the keys the first batches touch, so reads see change
    hot = [r[0] for b in batches[:8] for r in b["rows"]]
    reads = []
    for i in range(N_READS // 2):
        key = rng.choice(hot) if rng.random() < 0.5 else rng.randrange(N_ORDERS)
        reads.append({"id": 2 * i, "round": i, "kind": "point", "name": "point",
                      "sql": POINT_SQL.format(key=key), "key": key})
        reads.append({"id": 2 * i + 1, "round": i, "kind": "agg", "name": "agg", "sql": AGG_SQL})
    return {
        "ctas": f"CREATE MANAGED TABLE ords LOCATION '{{root}}' AS {BASE_SELECT}",
        "twin_ctas": f"CREATE MANAGED TABLE ords_twin LOCATION '{{root}}' AS {BASE_SELECT}",
        "view": ("CREATE MATERIALIZED VIEW ords_by_status OVER ords KEY (o_orderstatus) "
                 "COUNT n SUM (price_cents AS total) LOCATION '{root}'"),
        "columns": INGEST_COLUMNS, "keys": ["o_orderkey"],
        "batches": batches, "reads": reads,
    }


def make(workload, seed, seconds):
    if workload == "pipeline":
        return {"steps": PIPELINE}
    return {"serve": serve, "ingest": ingest}[workload](seed, seconds)
