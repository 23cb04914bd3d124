#!/usr/bin/env python3
"""Run the benchmark on several seeds and report, per end-to-end metric,
the median and the spread (distance between the first and third quartile
as `statistics.quantiles(values, n=4)` gives them, as a share of the
median).

With --trace paired every seed is run untraced and traced back to back, the
order alternating from seed to seed, and the tracing overhead is the median
over the seeds of traced `trace.wall_s` / untraced `wall_s`.

Usage (from the repository root):
  python3 perfbench/steadiness.py --workload <name> --seeds 1-10 \
      [--seconds 30] [--trace 0|paired] [--out evidence.json]
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(text):
    if "-" in text:
        a, b = map(int, text.split("-"))
        return list(range(a, b + 1))
    return [int(s) for s in text.split(",")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seeds)
    ap.add_argument("--seconds", default="30")
    ap.add_argument("--trace", default="0", choices=("0", "paired"))
    ap.add_argument("--out")
    a = ap.parse_args()
    runs = []
    for i, s in enumerate(a.seeds):
        traces = ["0"] if a.trace == "0" else ["0", "1"] if i % 2 == 0 else ["1", "0"]
        for t in traces:
            runs.append(run(a.workload, s, a.seconds, t))
    summary = {}
    for t in ("0", "1"):
        sel = [r for r in runs if r["trace"] == t and r["metrics"]]
        for k in (sel[0]["metrics"] if sel else []):
            summary[k] = spread([r["metrics"][k] for r in sel if k in r["metrics"]])
            print(f"{k:36s} median {summary[k]['median']:12.6g}  "
                  f"spread {summary[k]['spread'] or 0:.3f}")
    out = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
           "runs": runs, "summary": summary}
    if a.trace == "paired":
        wall = {(r["seed"], r["trace"]): r["metrics"].get("trace.wall_s" if r["trace"] == "1"
                                                          else "wall_s") for r in runs}
        ratios = [wall[(s, "1")] / wall[(s, "0")] for s in a.seeds
                  if wall.get((s, "1")) and wall.get((s, "0"))]
        out["overhead"] = {"ratios": ratios, **spread(ratios)}
        print(f"tracing overhead (traced / untraced wall_s): median "
              f"{out['overhead']['median']:.3f} over {len(ratios)} seeds, "
              f"range {min(ratios):.3f}-{max(ratios):.3f}")
    print(f"elapsed median {statistics.median(r['elapsed_s'] for r in runs)} s, "
          f"max {max(r['elapsed_s'] for r in runs)} s")
    if a.out:
        Path(a.out).write_text(json.dumps(out, indent=1) + "\n")
    return 0 if all(r["correct"] for r in runs) else 1


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", seconds, "--trace", trace],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if p.returncode in (0, 1) and lines else {}
    r = {"seed": seed, "trace": trace, "rc": p.returncode,
         "elapsed_s": round(time.time() - t0, 1),
         "correct": res.get("correct"), "attempted": res.get("attempted"),
         "failed": res.get("failed"),
         "metrics": {k: v["value"] for k, v in res.get("metrics", {}).items()}}
    print(json.dumps(r), flush=True)
    if p.returncode != 0:
        print(p.stdout[-2000:] + p.stderr[-2000:], file=sys.stderr)
    return r


def spread(vals):
    med = statistics.median(vals)
    q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
    return {"median": med, "q1": q[0], "q3": q[2],
            "spread": (q[2] - q[0]) / med if med else None}


if __name__ == "__main__":
    sys.exit(main())
