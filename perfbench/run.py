#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

  python3 perfbench/run.py --workload serve|ingest|pipeline --seed N \
      --seconds S --trace 0|1

Builds the program (cached by source hash), generates the tables and the
seeded inputs, starts one JVM at local[nproc] with the harness and the
engine in it, checks every output against DuckDB or the benchmark's own
model, and prints one JSON line: correct, attempted, failed and the
metrics (end-to-end ones untraced, per-layer ones with --trace 1).
`correct` speaks of the operations that did not fail; read it together
with `failed`. The last run's spans (traced runs) and JVM log stay in
perfbench/.work/last.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import datagen  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402
from metrics import end_to_end, per_layer  # noqa: E402

JVM_LIMIT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def launch(root, classpath, workload, data_dir, work, seconds, trace, cores):
    inputs = os.path.join(work, "inputs.json")
    out = os.path.join(work, "out.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # the parallel collector: with G1 the ingest figures spread about 1.7x
    # as wide between runs on a 4-core machine
    cmd = ["java", "-Xmx4g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
           *build.java_flags(root), "-cp", classpath, "graftbench.Harness",
           workload, data_dir, work, inputs, out, str(seconds), str(trace), str(cores)]
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        t_launch = time.time()
        proc = subprocess.Popen(cmd, cwd=work, stdout=jlog, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness failed ({rc})")
    with open(out) as f:
        res = json.load(f)
    res["setup_s"] = float(res["setup"]["ready_epoch"]) - t_launch
    spans = os.path.join(work, "spans.jsonl")
    res["spans"] = []
    if os.path.exists(spans):
        with open(spans) as f:
            res["spans"] = [json.loads(line) for line in f if line.strip()]
    return res


# ---------------------------------------------------------------- checks

def check_serve(res, fixed, data_dir):
    con = oracle.connect(data_dir)
    bad = 0
    for op in res["ops"]:
        if op["status"] != 200:
            continue
        if op["kind"] == "battery":
            expected = fixed[op["name"]]
        else:
            expected = oracle.query(con, res["inputs_by_id"][op["id"]]["sql"])
        if not oracle.same_rows(op["body"]["rows"], expected):
            bad += 1
            log(f"serve mismatch: request {op['id']} ({op['name']})")
    con.close()
    return bad == 0


class Model:
    """Last-writer-wins model of the ingest table: the preload, then every
    acknowledged batch in the writer's order. State s is the table after
    s batches."""

    def __init__(self, data_dir):
        import duckdb
        con = duckdb.connect()
        rows = con.execute(workloads.BASE_SELECT.replace(
            "FROM orders", f"FROM '{data_dir}/orders.parquet'")).fetchall()
        con.close()
        self.base = {r[0]: tuple(r) for r in rows}
        self.rows = dict(self.base)
        self.history = {}  # key -> [(state, row or None)] for keys batches wrote
        self.aggs = [self._agg()]

    def _agg(self):
        out = {}
        for r in self.rows.values():
            n, s = out.get(r[2], (0, 0))
            out[r[2]] = (n + 1, s + r[3])
        return out

    def apply(self, rows):
        state = len(self.aggs)
        agg = dict(self.aggs[-1])
        for r in map(tuple, rows):
            old = self.rows.get(r[0])
            if old is not None:
                n, s = agg[old[2]]
                agg[old[2]] = (n - 1, s - old[3])
            n, s = agg.get(r[2], (0, 0))
            agg[r[2]] = (n + 1, s + r[3])
            self.history.setdefault(r[0], [(0, self.base.get(r[0]))]).append((state, r))
            self.rows[r[0]] = r
        self.aggs.append(agg)

    def row_at(self, key, state):
        row = self.base.get(key)
        for s, r in self.history.get(key, []):
            if s <= state:
                row = r
        return row


def check_ingest(res, data_dir, inputs):
    import pyarrow.parquet as pq
    model = Model(data_dir)
    ok = True
    batches = {b["id"]: b for b in inputs["batches"]}
    acked = [b for b in sorted(res["batches"], key=lambda b: b["id"]) if b["status"] == 200]
    if [b["id"] for b in acked] != list(range(len(acked))):
        log("ingest: acknowledged batches are not a prefix of the batch sequence")
        return False
    for b in acked:
        model.apply(batches[b["id"]]["rows"])
    reads_bad = 0
    for op in res["ops"]:
        if op["status"] != 200:
            continue
        lo, hi = op["acked_before"], min(op["sent_after"], len(model.aggs) - 1)
        rows = [[oracle.norm(c) for c in r] for r in op["body"]["rows"]]
        if op["kind"] == "agg":
            got = {r[0]: (r[1], r[2]) for r in rows}
            fine = any(got == {k: v for k, v in model.aggs[s].items() if v[0] > 0}
                       for s in range(lo, hi + 1))
        else:
            key = res["inputs_by_id"][op["id"]]["key"]
            fine = any(rows == ([list(r)] if r else [])
                       for r in (model.row_at(key, s) for s in range(lo, hi + 1)))
        if not fine:
            reads_bad += 1
            log(f"ingest: read {op['id']} ({op['kind']}) matches no committed state "
                f"in [{lo}, {hi}]")
    ok &= reads_bad == 0
    table = pq.read_table(os.path.join(res["work"], "final_ords")).to_pylist()
    final = {r["o_orderkey"]: tuple(r[c] for c in workloads.INGEST_COLUMNS) for r in table}
    if len(table) != len(final) or final != model.rows:
        log(f"ingest: final table ({len(table)} rows) differs from the model "
            f"({len(model.rows)} rows)")
        ok = False
    fin = res["final"]
    cols = fin["view_columns"]
    view = {r[cols.index("o_orderstatus")]: (r[cols.index("n")], r[cols.index("total")])
            for r in fin["view"]}
    want = {k: v for k, v in model.aggs[-1].items() if v[0] > 0}
    if sum(n for n, _ in view.values()) != len(table) or view != want:
        log(f"ingest: view {view} disagrees with the table scan / model {want}")
        ok = False
    summary = [len(model.rows), sum(r[3] for r in model.rows.values())]
    if fin["summary"] != [summary] or fin["reattached_summary"] != [summary]:
        log(f"ingest: summary {fin['summary']} / reattached {fin['reattached_summary']} "
            f"!= model {summary}")
        ok = False
    if sorted(map(tuple, fin["reattached_view"])) != sorted(map(tuple, fin["view"])):
        log("ingest: the reattached router reads another view state")
        ok = False
    return ok


def check_pipeline(res, fixed):
    bad = 0
    for st in res["steps"]:
        if st["ok"] and not oracle.same_rows(st["rows"], fixed[st["name"]]):
            bad += 1
            log(f"pipeline mismatch: pass {st['pass']} {st['name']}")
    return bad == 0


def keep_last(work):
    """Move the run's spans (traced runs) and JVM log to .work/last, where
    they stay until the next run, and remove the rest of its directory."""
    last = os.path.join(HERE, ".work", "last")
    shutil.rmtree(last, ignore_errors=True)
    os.makedirs(last)
    for name in ("spans.jsonl", "jvm.log"):
        if os.path.exists(os.path.join(work, name)):
            os.replace(os.path.join(work, name), os.path.join(last, name))
    shutil.rmtree(work, ignore_errors=True)


def main():
    # a terminated run still stops and reaps its JVM (see launch)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "ingest", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    classpath = build.build(root)
    data_dir, data_key = datagen.ensure()
    fixed = oracle.fixed_expectations(data_dir, data_key)
    cores = len(os.sched_getaffinity(0))  # what nproc reports
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = workloads.make(args.workload, args.seed, args.seconds)
        with open(os.path.join(work, "inputs.json"), "w") as f:
            json.dump(inputs, f)
        res = launch(root, classpath, args.workload, data_dir, work, args.seconds,
                     args.trace, cores)
        res["work"] = work
        reqs = [r for c in inputs.get("clients", []) for r in c] + inputs.get("reads", [])
        res["inputs_by_id"] = {r["id"]: r for r in reqs}
        if args.workload == "serve":
            correct = check_serve(res, fixed, data_dir)
        elif args.workload == "ingest":
            correct = check_ingest(res, data_dir, inputs)
        else:
            correct = check_pipeline(res, fixed)
        ops = res["ops"] + res["batches"]
        attempted = len(ops) + len(res["steps"])
        failed = sum(o["status"] != 200 for o in ops) + sum(not s["ok"] for s in res["steps"])
        metrics = per_layer(res, args.workload) if args.trace else end_to_end(res, args.workload)
    finally:
        keep_last(work)
    print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
