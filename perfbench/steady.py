"""Steadiness check: run workloads repeatedly and report each metric's
median, quartiles and quartile spread as a share of the median.

    python3 perfbench/steady.py --workloads olap_suite,upsert_merge --seeds 1-10

Runs one process at a time from the repository root, each with its own
seed, and reads ``BENCHMARK.json`` for the window length and bounds. A
metric whose spread exceeds a third of its bound is flagged. From each
run record it also prints the within-run first-half and second-half
medians, so a warm-up trend shows, and each run's wall time. Pass ``--trace 1`` to summarise the
per-layer metrics instead. ``--out`` keeps every run's record as JSON
lines.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def _run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, float]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} failed ({proc.returncode}):\n"
                           f"{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}")
    wall = time.perf_counter() - t0
    return json.loads(lines[-2])["record"], json.loads(lines[-1]), wall


def _spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / med if med else float("nan")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    out = open(args.out, "a") if args.out else None
    try:
        for w in args.workloads.split(","):
            values: dict[str, list[float]] = {}
            trends: dict[str, list[str]] = {}
            walls: list[float] = []
            for seed in _seeds(args.seeds):
                record, result, wall = _run(w, seed, bench["run_seconds"], args.trace)
                if out:
                    out.write(json.dumps({"record": record, "result": result}) + "\n")
                    out.flush()
                for k, v in result["metrics"].items():
                    values.setdefault(k, []).append(v["value"])
                for k, v in record.items():
                    if k.endswith("_halves") and v:
                        trends.setdefault(k, []).append(
                            f"{v['first']:.3f}->{v['second']:.3f}")
                walls.append(wall)
                print(f"{w} seed={seed} correct={result['correct']} wall={wall:.1f}s "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
                      flush=True)
            for k, vals in values.items():
                if len(vals) < 2:
                    continue
                med, q1, q3, share = _spread(vals)
                bound = bounds.get(k)
                flag = ""
                if bound and share > bound / 3:
                    flag = f"  SPREAD > bound/3 ({bound / 3:.3f})"
                print(f"{w} {k}: median={med:.4g} q1={q1:.4g} q3={q3:.4g} "
                      f"spread={share:.3f} n={len(vals)}{flag}")
            print(f"{w} wall per run: median={statistics.median(walls):.1f}s max={max(walls):.1f}s")
            for k, t in trends.items():
                print(f"{w} {k} (first->second half medians): {' '.join(t)}")
    finally:
        if out:
            out.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
