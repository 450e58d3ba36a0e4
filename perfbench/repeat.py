"""Repeat the benchmark over seeds, interleaving workloads, and summarize.

    python3 perfbench/repeat.py --seeds 1-10 --out a.jsonl
    python3 perfbench/repeat.py --compare a.jsonl b.jsonl

A repeat runs seed 1 of every workload, then seed 2 of every workload, and
so on, so a burst of load from elsewhere on the host hits one run of many
workloads instead of many runs of one.  Each record carries the host's core
count and the 1-minute load read just before the run.  The workloads and
the run length are always those of BENCHMARK.json.

The summary gives, per workload and end-to-end metric, the median, the
quartiles and the spread (quartile distance ÷ median) against the metric's
``bound`` in BENCHMARK.json.  ``--compare`` sets two record files side by
side, and refuses when they were taken at different core counts.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bounds() -> tuple[dict[str, dict], list[str], dict]:
    """(end-to-end metric specs by name, workload names, whole spec) of
    BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec["end_to_end"]}, [w["name"] for w in spec["workloads"]], spec


def parse_seeds(text: str) -> list[int]:
    if "-" in text.lstrip("-"):
        lo, hi = text.split("-", 1)
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_one(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    load1 = round(os.getloadavg()[0], 2)
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    if result is None:
        sys.stderr.write(proc.stderr[-4000:])
    return {"workload": workload, "seed": seed, "seconds": seconds,
            "nproc": len(os.sched_getaffinity(0)), "load1": load1,
            "returncode": proc.returncode, "result": result}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, first quartile, third quartile, quartile distance ÷ median)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def summarize(records: list[dict]) -> dict:
    metrics, _, _ = bounds()
    out: dict = {}
    for rec in records:
        res = rec["result"]
        if not res:
            continue
        for name, m in res["metrics"].items():
            out.setdefault(rec["workload"], {}).setdefault(name, []).append(m["value"])
    for workload, by_metric in out.items():
        for name, values in by_metric.items():
            med, q1, q3, sp = spread(values)
            bound = metrics.get(name, {}).get("bound")
            flag = "" if bound is None or sp <= bound / 3 else (
                "  <-- above bound/3" if sp <= bound else "  <-- ABOVE BOUND")
            print(f"{workload:20s} {name:12s} n={len(values):2d} median={med:11.4f} "
                  f"q1={q1:11.4f} q3={q3:11.4f} spread={sp:.4f} bound={bound}{flag}")
    return out


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def compare(a_path: str, b_path: str) -> int:
    a, b = load(a_path), load(b_path)
    cores = {r["nproc"] for r in a + b}
    if len(cores) != 1:
        print(f"refusing to compare records taken at different core counts: {sorted(cores)}")
        return 2
    metrics, _, _ = bounds()
    worse = 0
    for workload in sorted({r["workload"] for r in a}):
        for name, spec in metrics.items():
            va = [r["result"]["metrics"][name]["value"] for r in a if r["workload"] == workload and r["result"]]
            vb = [r["result"]["metrics"][name]["value"] for r in b if r["workload"] == workload and r["result"]]
            if not va or not vb:
                continue
            ma, mb = statistics.median(va), statistics.median(vb)
            change = (mb - ma) / ma if ma else 0.0
            loss = -change if spec["better"] == "higher" else change
            verdict = "worse than bound" if loss > spec["bound"] else "within bound"
            worse += loss > spec["bound"]
            print(f"{workload:20s} {name:12s} {ma:11.4f} -> {mb:11.4f} ({change:+.2%}) {verdict}")
    return 1 if worse else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default=None)
    ap.add_argument("--compare", nargs=2, default=None)
    args = ap.parse_args()
    if args.compare:
        return compare(*args.compare)
    _, workloads, spec = bounds()
    records = []
    for seed in parse_seeds(args.seeds):
        for workload in workloads:
            rec = run_one(workload, seed, spec["run_seconds"])
            records.append(rec)
            res = rec["result"] or {}
            print(f"# {workload} seed={seed} load1={rec['load1']} rc={rec['returncode']} "
                  f"correct={res.get('correct')} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items()),
                  file=sys.stderr, flush=True)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps(rec) + "\n")
    summarize(records)
    return 0 if all(r["result"] and r["result"]["correct"] for r in records) else 1


if __name__ == "__main__":
    sys.exit(main())
