"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload olap_suite --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the seed
into a private directory under ``.bench_run/``, starts one engine session,
warms up, measures for ``--seconds``, checks the outputs, stops the JVM and
deletes its directory. The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it is the full run record (sample counts, within-run halves,
host diagnostics and, when traced, span self times). A traced run also
writes its spans to ``.bench_run/traces/<workload>-s<seed>.json``.

Every workload reports the same three end-to-end metrics:

- ``setup_s``: process start to the first timed operation (input
  generation, session start and warm-up), less the calibration spin.
- ``op_p50_s``: median time of the workload's unit operation. One pass
  over its seven headline queries (olap_suite); one generated file, from its
  due time to the end of the ``foreach_batch`` call that emitted it
  (stream_window); one keyed commit (upsert_merge).
- ``work_per_s``: queries completed per second of the window (olap_suite);
  backlog events drained per second, median of three drains
  (stream_window); change rows committed per second of the window,
  compaction included (upsert_merge).

Workload-specific figures (tail percentiles with their sample counts,
late share, read and compaction times, error share) are in the record.
``tracing.LAYER_METRICS`` says which end-to-end figure each per-layer
metric should move.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

WORKLOADS = ("olap_suite", "stream_window", "upsert_merge")
E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "work_per_s": "1/s"}


class Ctx:
    """What a workload gets: seed, window length, its directories, the
    session, the tracer, and a hook marking the first timed operation."""

    def __init__(self, args, run_dir: str, spark, tracer, jobs):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.run_dir = run_dir
        self.inputs = os.path.join(run_dir, "inputs")
        self.checkpoints = os.path.join(run_dir, "checkpoints")
        os.makedirs(self.inputs, exist_ok=True)
        self.spark, self.tracer, self.jobs = spark, tracer, jobs
        self.t_first_op: float | None = None

    def setup_done(self) -> None:
        self.t_first_op = time.perf_counter()


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pandas_streaming_spark")):
        print(f"error: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    from common import HostProbe, pin_env, remove_dir, session_conf, stop_spark
    from tracing import LAYER_METRICS, JobStats, Tracer

    host = HostProbe()
    host.start()
    run_dir = os.path.join(
        ROOT, ".bench_run", f"{args.workload}-s{args.seed}-{os.getpid()}"
    )
    pin_env(run_dir)
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        from pandas_streaming_spark.session import get_spark

        workload = importlib.import_module(args.workload)
        a = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          extra_conf=session_conf(run_dir))
        get_spark_s = time.perf_counter() - a
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Ctx(args, run_dir, spark, tracer, JobStats(spark))
        res = workload.run(ctx)
    finally:
        if spark is not None:
            stop_spark(spark)
        remove_dir(run_dir)
    diag = host.stop()
    setup_s = ctx.t_first_op - T_START - host.spin_before_s
    correct = res["failed"] == 0
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "setup_s": setup_s, **res["e2e"], **res["record"],
        "error_share": res["failed"] / res["attempted"],
        "host": diag,
    }
    if args.trace:
        layers = dict.fromkeys(LAYER_METRICS, 0.0)
        layers.update(res["layers"])
        layers["session.get_spark_s"] = get_spark_s
        layers["trace.spans"] = len(tracer.spans)
        metrics = {k: {"value": v, "unit": LAYER_METRICS[k][0]} for k, v in layers.items()}
        record["self_s"] = tracer.self_times()
        record["feeds"] = {k: LAYER_METRICS[k][1] for k in layers}
        trace_dir = os.path.join(ROOT, ".bench_run", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json"))
    else:
        e2e = {"setup_s": setup_s, **res["e2e"]}
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"],
        "failed": res["failed"], "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
