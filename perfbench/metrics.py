"""End-to-end and per-layer metrics from what the harness recorded.

End-to-end metrics come from untraced runs and apply to every workload:

  setup_s        process launch until the engine answered its first query
  query_mean_s   mean latency of one read: a SQL request over HTTP
                 (serve), a read beside the writer (ingest), one operator
                 query of the sequence (pipeline)
  queries_per_s  reads completed per second of the measured window
  round_s        mean wall time of one round: a battery text and a
                 template back to back (serve), one 200-row upsert batch
                 (ingest), one pass of the nine steps (pipeline)

Warm-up requests, sent before the measured window, count in no metric.

Per-layer metrics come from traced runs; a layer a workload does not
reach reads 0 there.
"""
import statistics

TAG_BASE = 1000000
STEPS = ["q41_dedup_simhash", "q42_dedup_ngram_jaccard", "q43_dedup_embedding",
         "q44_ann_lsh", "q50_dedup_lsh_bands", "q56_ann_ivf",
         "q57_dedup_components", "q85_kmeans_train", "q101_ivfpq"]
SELF_SPANS = ["route", "plan", "http", "exec", "batch", "twin_ingest", "build"]


def med(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ok(ops):
    return [o for o in ops if o.get("status", 200) == 200 and o.get("ok", True)
            and not o.get("warmup")]


UNITS = {"setup_s": "s", "query_mean_s": "s", "queries_per_s": "1/s", "round_s": "s"}


def end_to_end(res, workload):
    t0 = res["window"]["t0"]
    if workload == "pipeline":
        reads = _ok(res["steps"])
        passes = {}
        for s in reads:
            passes.setdefault(s["pass"], []).append(s["t1"] - s["t0"])
        rounds = [sum(v) for v in passes.values()]
    else:
        reads = _ok(res["ops"])
        if workload == "serve":
            groups = {}
            for o in reads:
                groups.setdefault((o["client"], o["round"]), []).append(o)
            rounds = [max(o["t1"] for o in g) - min(o["t0"] for o in g)
                      for g in groups.values()]
        else:
            rounds = [b["t1"] - b["t0"] for b in _ok(res["batches"])]
    span = max(o["t1"] for o in reads) - t0
    vals = {"setup_s": res["setup_s"],
            "query_mean_s": mean(o["t1"] - o["t0"] for o in reads),
            "queries_per_s": len(reads) / span,
            "round_s": mean(rounds)}
    return {k: {"value": v, "unit": UNITS[k]} for k, v in vals.items()}


def _union(intervals, lo, hi):
    covered, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        covered += b - max(a, end)
        end = b
    return covered


def _self_times(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        own = (s["end"] - s["start"]) - _union(
            [(c["start"], c["end"]) for c in kids.get(s["id"], [])], s["start"], s["end"])
        out.setdefault(s["name"], []).append(own)
    return out


def per_layer(res, workload):
    m = {}
    setup = res["setup"]
    for k in ("session_s", "register_s", "preload_s", "first_request_s"):
        m[f"setup.{k}"] = (float(setup[k]), "s")

    # spans of the measured window only (warm-up requests precede it)
    spans = [s for s in res["spans"] if s["start"] >= res["window"]["t0"]]
    by_req = {}
    for s in spans:
        by_req.setdefault((s["req"], s["name"]), s)
    execs = {e["tag"] - TAG_BASE: e for e in res["execs"] if e["tag"] >= TAG_BASE}
    jobs = res["jobs"]

    def job_sums(sel):
        js = [j for j in jobs if sel(j)]
        return (len(js), sum(j["stages"] for j in js), sum(j["tasks"] for j in js),
                sum(j["shuffle_bytes"] for j in js), sum(j["scan_bytes"] for j in js))

    traced_ops = [o for o in _ok(res["ops"]) if o["traced"]]
    per_op, route, plan, http, exec_s, excess = [], [], [], [], [], 0
    tagged_execs = {e["id"] for e in res["execs"] if e["tag"] >= TAG_BASE}
    for o in traced_ops:
        r, p, h = (by_req.get((o["id"], n)) for n in ("route", "plan", "http"))
        e = execs.get(o["id"])
        if not (r and p and h and e):
            excess += 1  # no server-side execution tied to the request
            continue
        d = lambda s: s["end"] - s["start"]
        route.append(d(r)), plan.append(d(p)), exec_s.append(e["exec_s"])
        # what the server does around the execution: routing the text,
        # rendering JSON and the loopback transport
        http.append(d(h) - e["exec_s"])
        # the server-side execution is a child of the client's http span
        spans.append({"id": -e["id"], "parent": h["id"], "req": o["id"], "name": "exec",
                      "start": e["end"] - e["exec_s"], "end": e["end"]})
        # the server runs the execution inside the client's HTTP exchange,
        # so it cannot take longer than the client saw
        if e["exec_s"] > d(h):
            excess += 1
        per_op.append(job_sums(lambda j, x=e["id"]: j["exec"] == x))

    batches = _ok(res["batches"])
    traced_b = [b for b in batches if b["traced"]]
    for b in traced_b:
        per_op.append(job_sums(lambda j, b=b: b["t0"] <= j["submit"] <= b["t1"]
                               and j["exec"] not in tagged_execs))
    steps = _ok(res["steps"])
    step_jobs = {}
    for s in steps:
        sums = job_sums(lambda j, s=s: s["t0"] <= j["submit"] <= s["t1"])
        step_jobs.setdefault(s["name"], []).append(sums)
        per_op.append(sums)
    if workload == "pipeline":
        route = []
        plan = [s["end"] - s["start"] for s in spans if s["name"] == "plan"]
        exec_s = [s["end"] - s["start"] for s in spans if s["name"] == "exec"]

    m["server.http_s"] = (med(http), "s")
    m["server.route_s"] = (med(route), "s")
    m["server.response_bytes"] = (mean(o["bytes"] for o in _ok(res["ops"])), "bytes")
    aggs = [o for o in traced_ops if o["kind"] == "agg" and o["id"] in execs]
    m["server.mv_rewrite_eligible"] = (len(aggs), "count")
    m["server.mv_rewrite_hits"] = (sum(execs[o["id"]]["mv_hit"] for o in aggs), "count")
    twin = [by_req.get((b["id"], "twin_ingest")) for b in traced_b]
    m["server.ingest_s"] = (med(b["t1"] - b["t0"] for b in traced_b), "s")
    m["server.view_maintenance_s"] = (med(
        (b["t1"] - b["t0"]) - (t["end"] - t["start"]) for b, t in zip(traced_b, twin) if t), "s")
    writer_s = sum(b["t1"] - b["t0"] for b in batches)
    m["server.ingest_rows_per_s"] = (
        sum(b["rows"] for b in batches) / writer_s if writer_s else 0.0, "1/s")
    applied = sum(b["body"]["n_applied"] for b in batches)
    grown = res["bytes"]["after"] - res["bytes"]["before"]
    m["sources.write_bytes_per_row"] = (grown / applied if applied else 0.0, "bytes")

    m["plans.plan_s"] = (med(plan), "s")
    n_ops = len(_ok(res["ops"])) + len(batches) + len(steps)
    m["plans.codegen_compiles"] = (res["codegen"]["compiles"] / max(n_ops, 1), "count")
    m["plans.codegen_compile_s"] = (res["codegen"]["seconds"] / max(n_ops, 1), "s")

    m["spark.exec_s"] = (med(exec_s), "s")
    for i, k in enumerate(["jobs", "stages", "tasks", "shuffle_bytes", "scan_bytes"]):
        m[f"spark.{k}"] = (mean(p[i] for p in per_op), "bytes" if "bytes" in k else "count")

    span_d = lambda name: [s["end"] - s["start"] for s in spans if s["name"] == name]
    m["sources.upsert_s"] = (med(span_d("upsert")), "s")
    m["sources.history_s"] = (med(span_d("history")), "s")
    m["sources.files_written"] = (mean(b["files_written"] for b in traced_b), "count")
    m["sources.bytes_written"] = (mean(b["bytes_written"] for b in traced_b), "bytes")
    points = [o for o in traced_ops if o["kind"] == "point" and o["id"] in execs]
    m["sources.files_read"] = (mean(execs[o["id"]]["files_read"] for o in points), "count")
    m["sources.files_live"] = (mean(o["files_live"] for o in points), "count")
    m["streaming.latest_per_key_s"] = (med(span_d("latest_per_key")), "s")

    for name in STEPS:
        mine = [s for s in steps if s["name"] == name]
        short = name.split("_", 1)[0]
        m[f"operators.{short}_s"] = (med(s["t1"] - s["t0"] for s in mine), "s")
        m[f"operators.{short}_jobs"] = (mean(j[0] for j in step_jobs.get(name, [])), "count")
        m[f"operators.{short}_shuffle_bytes"] = (
            mean(j[3] for j in step_jobs.get(name, [])), "bytes")

    selfs = _self_times(spans)
    for name in SELF_SPANS:
        m[f"trace.self_{name}_s"] = (med(selfs.get(name, [])), "s")
    m["trace.spans"] = (len(spans), "count")
    m["trace.span_excess_requests"] = (excess, "count")
    m["trace.listener_s"] = (res["listener_s"], "s")
    # work done only because the run is traced: the in-process route/plan
    # replays, the twin-table ingest and the listener callbacks
    extra = sum(span_d("route")) + sum(span_d("twin_ingest")) + res["listener_s"]
    if workload != "pipeline":
        extra += sum(span_d("plan"))
    window = res["window"]["t1"] - res["window"]["t0"]
    m["trace.overhead_pct"] = (100.0 * extra / window, "%")
    # the end-to-end figures as measured under tracing, to set beside an
    # untraced run's
    for k, v in end_to_end(res, workload).items():
        if k != "setup_s":
            m[f"trace.{k}"] = (v["value"], v["unit"])
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
