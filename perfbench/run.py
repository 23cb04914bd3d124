#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one JVM.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the engine and the benchmark (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py, generated twice to show
they are byte-identical), runs perfbench.Main on a local[cores] Spark
session, checks every output, prints every metric by name and unit, and
ends with one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics; with --trace 1 they
are the per-layer metrics.  Exits 1 if any output is wrong, 2 if it cannot
build or run.  Everything it writes stays under .bench_build/ in the root;
a run's directory is removed unless the run failed.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import Counter
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import gen  # noqa: E402

# kind: input generator; spec: its parameters; queries: registered query
# names; oracle: the queries checked against their DuckDB oracle; pass_s:
# nominal seconds of one pass, which turns --seconds into a fixed pass count,
# so every run of a workload has the same sample count.
WORKLOADS = {
    "etl_normalize": {
        "kind": "etl", "pass_s": 4.5,
        "spec": {"files": 8, "lines_per_file": 300, "max_records": 5,
                 "malformed_share": 0.02, "hours": 12}},
    "query_mix": {
        "kind": "query_mix", "pass_s": 7.0,
        "queries": ["q01_pricing_summary", "q05_region_revenue", "q08_window_rank",
                    "q13_events_tumbling", "j01_asof_join", "d01_exact_dedup",
                    "d02_minhash_lsh", "d13_fuzzy_pairs", "s16_ann_graph"],
        "oracle": ["q01_pricing_summary", "q05_region_revenue", "q08_window_rank",
                   "q13_events_tumbling", "j01_asof_join", "s16_ann_graph"],
        "spec": {"customers": 3000, "typo_share": 0.05,
                 "docs": 6000, "vocab": 5000, "zipf_s": 1.05,
                 "exact_share": 0.05, "near_share": 0.05, "vectors": 200}},
}

NEAR_RECALL_FLOOR = 0.95
JVM_TIMEOUT_S = 150

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class Checks:
    """Output checks; each failed check counts as a failed operation."""

    def __init__(self):
        self.attempted = 0
        self.failures = []

    def check(self, name, ok, detail=""):
        self.attempted += 1
        if not ok:
            self.failures.append(f"{name}: {detail}")
        return ok


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else os.cpu_count()


def tail(samples):
    """(value, percentile, rank): the highest percentile that leaves at
    least 10 samples beyond it; the maximum when that percentile would not
    be above the median (20 samples or fewer)."""
    xs = sorted(samples)
    n = len(xs)
    k = n - 10 if n > 20 else n
    return xs[k - 1], math.floor(100 * k / n), k


def run_jvm(cp, args, log_path):
    """Run perfbench.Main and wait for it."""
    # a fixed heap size, so peak_rss_mb does not depend on when the
    # collector decides to grow the heap
    cmd = [build.java(), "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={args['work']}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + [f"{k}={v}" for k, v in args.items()]
    os.makedirs(f"{args['work']}/tmp", exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return -9
        finally:  # also on SIGTERM / Ctrl-C: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()


# ---- output checks -----------------------------------------------------

def read_results(work, q):
    files = sorted(glob.glob(f"{work}/results/{q}/*.parquet"))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()


def check_oracle(chk, work, data, res, queries):
    """Each query's oracle SQL in DuckDB over views named after the input
    tables, compared as scripts/oracle_check.py compares."""
    sys.path.insert(0, str(HERE.parent / "scripts"))
    import duckdb
    from oracle_check import compare, norm
    con = duckdb.connect()
    for path in sorted(glob.glob(f"{data}/*.parquet")):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    for q in queries:
        try:
            duck = norm(con.execute(res["oracle_sql"][q]).fetchdf())
        except Exception as e:  # an oracle that cannot run is a failed check
            chk.check(f"oracle {q}", False, f"oracle SQL error: {e}")
            continue
        ok, why = compare(norm(read_results(work, q)), duck)
        chk.check(f"oracle {q}", ok, why)


def check_corpus(chk, work, truth):
    d01 = read_results(work, "d01_exact_dedup")
    chk.check("d01 exact duplicates",
              len(d01) == truth["docs"] - truth["exact_redundant"] and
              int((d01["n_copies"] - 1).sum()) == truth["exact_redundant"],
              f"{len(d01)} fingerprints, {int((d01['n_copies'] - 1).sum())} "
              f"redundant; planted {truth['exact_redundant']}")
    d02 = read_results(work, "d02_minhash_lsh")
    found = {(int(a), int(b)): j for a, b, j in
             zip(d02["doc_a"], d02["doc_b"], d02["jaccard"])}
    hits = [(a, b, j) for a, b, j in truth["near_pairs"] if (a, b) in found]
    recall = len(hits) / len(truth["near_pairs"])
    chk.check("d02 near-duplicate recall", recall >= NEAR_RECALL_FLOOR,
              f"{recall:.3f} < {NEAR_RECALL_FLOOR}")
    bad = [(a, b) for a, b, j in hits if abs(found[(a, b)] - j) > 1e-4]
    chk.check("d02 jaccard values", not bad, f"{len(bad)} planted pairs off")
    d13 = read_results(work, "d13_fuzzy_pairs")
    pairs = set(zip(d13["a_id"].astype(int), d13["b_id"].astype(int)))
    recall = sum((a, b) in pairs for a, b in truth["name_pairs"]) / len(truth["name_pairs"])
    chk.check("d13 fuzzy-name recall", recall >= NEAR_RECALL_FLOOR,
              f"{recall:.3f} < {NEAR_RECALL_FLOOR}")


def jsonl_rows(root, files):
    """Counter of (dt, hr, line) over partitioned JSONL files."""
    rows = Counter()
    for f in files:
        rel = os.path.relpath(f, root).split(os.sep)
        dt, hr = rel[0].split("=", 1)[1], rel[1].split("=", 1)[1]
        with open(f) as fh:
            for line in fh:
                rows[(dt, hr, line.rstrip("\n"))] += 1
    return rows


def check_etl(chk, work, truth, last_pass):
    base = f"{work}/etl/p{last_pass}"
    batch = jsonl_rows(f"{base}/batch", glob.glob(f"{base}/batch/dt=*/hr=*/*.json"))
    # the file sink's commit log: the latest compaction plus later batches
    meta = f"{base}/stream/_spark_metadata"
    logs = {int(os.path.basename(p).split(".")[0]): p
            for p in glob.glob(f"{meta}/[0-9]*") if not p.endswith(".crc")}
    first = max([b for b, p in logs.items() if p.endswith(".compact")], default=0)
    logged = set()
    for b in sorted(x for x in logs if x >= first):
        with open(logs[b]) as fh:
            for line in fh.read().splitlines()[1:]:
                e = json.loads(line)
                path = e["path"].replace("file://", "", 1)
                if e.get("action", "add") == "add":
                    logged.add(path)
                else:
                    logged.discard(path)
    stream = jsonl_rows(f"{base}/stream", logged)
    null_part = "__HIVE_DEFAULT_PARTITION__"
    malformed = sum(n for (dt, hr, line), n in batch.items()
                    if dt == null_part and line == "{}")
    per_hour, ids = Counter(), []
    for (dt, hr, line), n in batch.items():
        if dt != null_part:
            per_hour[f"{dt}/{hr}"] += n
            ids += [json.loads(line)["_id"]] * n
    chk.check("etl record tally", sum(per_hour.values()) == truth["records"],
              f"{sum(per_hour.values())} != {truth['records']}")
    chk.check("etl malformed tally", malformed == truth["malformed"],
              f"{malformed} != {truth['malformed']}")
    chk.check("etl hour partitions", dict(per_hour) == truth["per_hour"], "differ")
    chk.check("etl record ids", hashlib.sha256("\n".join(sorted(ids)).encode())
              .hexdigest() == truth["ids_sha256"], "differ")
    chk.check("etl stream equals batch", stream == batch,
              f"{sum(stream.values())} stream rows vs {sum(batch.values())} batch")


# ---- metrics -----------------------------------------------------------

def input_rows(kind, data, truth):
    if kind == "etl":
        return truth["records"]
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(f"{data}/*.parquet"))


def end_to_end(res, rows):
    passes = res["passes"]
    wall = statistics.median(p["wallS"] for p in passes)
    by_op = {}
    for p in passes:
        for name, s in p["latencies"]:
            by_op.setdefault(name, []).append(s)
    lat = [statistics.median(v) for v in by_op.values()]
    t, pct, rank = tail(lat)
    m = {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (wall, "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "query_tail_s": (t, "s"),
        "rows_per_s": (rows / wall, "1/s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MiB"),
    }
    note = (f"query latencies: median over {len(passes)} passes per operation; "
            f"query_tail_s is p{pct} (rank {rank} of {len(lat)} operations)")
    return m, note


def stream_metrics(passes):
    batches = [b for p in passes for b in p["stream"]]
    if not batches:
        return {}
    lat = [b["triggerExecution"] / 1e3 for b in batches]
    t, pct, rank = tail(lat)
    rows = sum(b["rows"] for b in batches)
    return {
        "stream_rows_per_s": (rows / sum(p["streamWallS"] for p in passes), "1/s"),
        "stream_batch_p50_s": (statistics.median(lat), "s"),
        f"stream_batch_tail_s (p{pct}, rank {rank} of {len(lat)})": (t, "s"),
    }


def per_layer(res, ncores):
    tp = res["passes"]
    n = len(tp)
    L = res["layers"]
    g = lambda k: L.get(k, 0.0)  # noqa: E731
    span_s = lambda kind: sum((s["endNs"] - s["startNs"]) / 1e9  # noqa: E731
                              for s in res["spans"] if s["kind"] == kind) / n
    wall = sum(p["wallS"] for p in tp)
    batches = [b for p in tp for b in p["stream"]]
    per_batch = lambda k: (sum(b.get(k, 0.0) for b in batches) / len(batches)  # noqa: E731
                           if batches else 0.0)
    probes = res.get("probes", {})
    m = {
        "tables.input_bytes": (g("input_bytes") / n, "B"),
        "tables.input_records": (g("input_records") / n, "count"),
        "tables.scan_task_s": (g("scan_task_ms") / 1e3 / n, "s"),
        "tables.fanout_exchanges": (g("fanout_exchanges") / n, "count"),
        "exchange.count": (g("shuffle_stages") / n, "count"),
        "exchange.write_bytes": (g("shuffle_write_bytes") / n, "B"),
        "exchange.read_bytes": (g("shuffle_read_bytes") / n, "B"),
        "exchange.fetch_wait_s": (g("fetch_wait_ms") / 1e3 / n, "s"),
        "exchange.spill_bytes": (g("spill_bytes") / n, "B"),
        "scheduler.jobs": (g("jobs") / n, "count"),
        "scheduler.stages": (g("stages") / n, "count"),
        "scheduler.tasks": (g("tasks") / n, "count"),
        "scheduler.empty_task_ratio": (g("empty_tasks") / max(1.0, g("tasks")), "ratio"),
        "scheduler.core_busy_ratio": (g("run_ms") / 1e3 / (wall * ncores), "ratio"),
        "scheduler.task_deser_s": (g("deser_ms") / 1e3 / n, "s"),
        "scheduler.gc_s": (g("gc_ms") / 1e3 / n, "s"),
        "operators.build_s": (span_s("build"), "s"),
        "operators.eager_jobs": (g("jobs.build") / n, "count"),
        "operators.drive_s": (span_s("drive"), "s"),
        "operators.drive_jobs": (g("jobs.drive") / n, "count"),
        "planner.analysis_ms": (g("planner.analysis") / n, "ms"),
        "planner.optimization_ms": (g("planner.optimization") / n, "ms"),
        "planner.planning_ms": (g("planner.planning") / n, "ms"),
        "functions.shingle_ns_per_doc": (probes.get("shingle_ns_per_doc", 0.0), "ns"),
        "functions.minhash_ns_per_doc": (probes.get("minhash_ns_per_doc", 0.0), "ns"),
        "functions.simhash_ns_per_doc": (probes.get("simhash_ns_per_doc", 0.0), "ns"),
        "functions.token_hash_ns_per_token":
            (probes.get("token_hash_ns_per_token", 0.0), "ns"),
        "functions.dot_ns_per_pair": (probes.get("dot_ns_per_pair", 0.0), "ns"),
        "normalize.ns_per_record": (probes.get("normalize_ns_per_record", 0.0), "ns"),
        "sinks.write_s": (span_s("sinks"), "s"),
        "sinks.files_written": (sum(p["sinkFiles"] for p in tp) / n, "count"),
        "sinks.output_bytes": (sum(p["sinkBytes"] for p in tp) / n, "B"),
        "streaming.batches": (len(batches) / n, "count"),
        "streaming.trigger_ms": (per_batch("triggerExecution"), "ms"),
        "streaming.add_batch_ms": (per_batch("addBatch"), "ms"),
        "streaming.planning_ms": (per_batch("queryPlanning"), "ms"),
        "streaming.wal_commit_ms": (per_batch("walCommit"), "ms"),
        "streaming.files_written": (sum(p["streamFiles"] for p in tp) / n, "count"),
        "trace.wall_s": (statistics.median(p["wallS"] for p in tp), "s"),
    }
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    wl = WORKLOADS[a.workload]
    kind = wl["kind"]
    try:
        cp = build.build()
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    run_dir = build.OUT / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = run_dir / "in", run_dir / "work"
    chk = Checks()
    t0 = time.time()
    digest, truth = gen.write_inputs(kind, a.seed, wl["spec"], str(data))
    gen_s = time.time() - t0

    passes = max(1, round(a.seconds / wl["pass_s"]))
    ncores = cores()
    args = {"workload": kind, "data": data, "work": work, "cores": ncores,
            "passes": passes, "seed": a.seed, "trace": a.trace,
            "queries": ",".join(wl.get("queries", [])),
            "out": run_dir / "result.json"}
    t1 = time.time()
    rc = run_jvm(cp, args, run_dir / "jvm.log")
    jvm_s = time.time() - t1
    if rc != 0 or not (run_dir / "result.json").exists():
        with open(run_dir / "jvm.log") as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"perfbench: JVM exited with {rc}; its log is in {run_dir}", file=sys.stderr)
        return 2
    res = json.loads((run_dir / "result.json").read_text())

    per_pass = 2 if kind == "etl" else len(wl["queries"])  # batch + stream for ETL
    ops = (len(res["passes"]) + 1) * per_pass  # measured passes + warm-up pass
    failed_ops = len(res["errors"])
    again, _ = gen.build(kind, a.seed, wl["spec"])
    chk.check("inputs byte-identical for the seed", gen.digest(again) == digest,
              "regenerated inputs differ")
    try:
        if kind == "query_mix":
            check_corpus(chk, work, truth)
        if wl.get("oracle"):
            check_oracle(chk, work, data, res, wl["oracle"])
        if kind == "etl":
            check_etl(chk, work, truth, max(p["pass"] for p in res["passes"]))
    except Exception as e:  # unreadable or missing output is a failed check
        chk.check("outputs readable", False, repr(e))

    check_s = time.time() - t1 - jvm_s
    attempted = ops + chk.attempted
    failed = failed_ops + len(chk.failures)
    rows = input_rows(kind, data, truth)
    e2e, latency_note = end_to_end(res, rows)
    extra = stream_metrics(res["passes"])
    extra["failed_share"] = (failed / attempted, "ratio")
    out = sys.stdout
    print(f"# workload {a.workload} seed {a.seed}: {passes} measured passes, "
          f"{ncores} cores, {rows} input rows, inputs generated in {gen_s:.2f} s "
          f"(digest {digest[:16]}); JVM {jvm_s:.1f} s (session start "
          f"{res['session_start_s']:.2f} s, warm-up pass {res['warmup_s']:.2f} s), "
          f"checks {check_s:.1f} s", file=out)
    for err in res["errors"] + chk.failures:
        print(f"# FAILED {err}", file=out)
    for k, (v, u) in list(e2e.items()) + list(extra.items()):
        print(f"{k} = {v:.6g} {u}", file=out)
    print(f"# {latency_note}", file=out)
    metrics = e2e
    if a.trace:
        metrics = per_layer(res, ncores)
        for k, (v, u) in metrics.items():
            print(f"{k} = {v:.6g} {u}", file=out)
    if failed:
        print(f"# outputs kept in {run_dir}", file=out)
    else:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
