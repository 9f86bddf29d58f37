"""Run one workload on several seeds and report each end-to-end metric's
median and quartile spread (Q3 - Q1 over the median), against its bound.

    python3 perfbench/spread.py --workload batch_ingest --seeds 1-10

Runs go one after another from the repository root.  With ``--trace`` each
seed also gets a traced run, and the tracing overhead is reported as the
traced per-call medians against the untraced ones.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["command"]
    out = subprocess.run(
        cmd + ["--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"seed {seed}: exit {out.returncode}")
    lines = out.stdout.strip().splitlines()
    res, env = json.loads(lines[-1]), json.loads(lines[-2])["env"]
    if not res["correct"] or res["failed"]:
        raise SystemExit(f"seed {seed}: incorrect result {res}")
    metrics = {k: v["value"] for k, v in res["metrics"].items()}
    metrics["env.cpu_ref_ms"] = env["cpu_ref_ms"]
    metrics["env.cpu_ref_end_ms"] = env["cpu_ref_end_ms"]
    metrics["env.jvm_rss_mb"] = env["peak_rss_mb"]["jvm"]
    metrics["env.steal_pct"] = env["steal_pct"]
    return metrics


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    rows: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    for s in seeds(args.seeds):
        for k, v in run(args.workload, s, bench["run_seconds"], 0).items():
            rows.setdefault(k, []).append(v)
        if args.trace:
            for k, v in run(args.workload, s, bench["run_seconds"], 1).items():
                traced.setdefault(k, []).append(v)
        print(f"seed {s} done", file=sys.stderr, flush=True)
    print(f"{'metric':24s} {'median':>10s} {'spread':>7s} {'bound':>6s}  values")
    print("env.cpu_ref_ms (box speed, lower is faster): "
          + " ".join(f"{v:.0f}" for v in rows.pop("env.cpu_ref_ms")))
    print("env.cpu_ref_end_ms (same, after the workload): "
          + " ".join(f"{v:.0f}" for v in rows.pop("env.cpu_ref_end_ms")))
    print("env.jvm_rss_mb (JVM share of peak_rss_mb): "
          + " ".join(f"{v:.0f}" for v in rows.pop("env.jvm_rss_mb")))
    print("env.steal_pct (CPU time taken by other guests): "
          + " ".join(f"{v:.1f}" for v in rows.pop("env.steal_pct")))
    for k, vs in rows.items():
        q1, _, q3 = statistics.quantiles(vs, n=4)
        mid = statistics.median(vs)
        spread = (q3 - q1) / mid if mid else float("inf")
        flag = "" if k == "setup_s" or spread < bounds[k] / 3 else "  <-- over a third of bound"
        print(f"{k:24s} {mid:10.4g} {spread:7.3f} {bounds[k]:6.2f}  "
              + " ".join(f"{v:.4g}" for v in vs) + flag)
    for tier in ("sql", "ivfflat", "hnsw") if args.trace else ():
        plain = statistics.median(rows[f"{tier}_p50_ms"])
        with_trace = statistics.median(traced[f"{tier}.read_ms"])
        print(f"tracing overhead {tier}: {with_trace - plain:+.2f} ms "
              f"({(with_trace - plain) / plain:+.1%}) on {plain:.2f} ms")


if __name__ == "__main__":
    main()
