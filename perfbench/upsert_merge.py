"""upsert_merge: closed loop of keyed MERGE commits beside snapshot reads.

Set-up seeds a ``streaming.upsert.KeyedUpsertSink`` table (with a
tombstone column) from a generated ``orders`` table read through
``catalog.load_table``. Each operation commits one generated change batch
through ``sink(batch_df, batch_id)`` (skewed-key updates, inserts and
tombstones) and then reads a latest-snapshot aggregate through
``sink.read()``; ``compact()`` runs every few operations. The window
lasts the run's seconds and at least ``MIN_OPS`` operations. The files under
the table change at every commit, so a listing or metadata cache must pay
its invalidation cost here.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from common import halves, summary
from tracing import median_exec, median_or_zero

ORDERS = 15_000
BATCH_ROWS = 1_000
#: Shares of a change batch: updates, inserts, then tombstones.
UPDATE_SHARE, INSERT_SHARE = 0.7, 0.2
#: Key skew: update and delete keys are drawn as ``N * u**SKEW``.
SKEW = 3.0
COMPACT_EVERY = 4
#: Commit time falls for about ten commits as the JIT warms up.
WARM_OPS = 10
#: The window runs at least this many operations, so the commit and read
#: medians each have ten samples beyond them.
MIN_OPS = 21
COLS = ["key", "cust", "price", "status", "seq", "sub", "deleted"]


def _batch(seed: int, i: int, n_keys: int) -> pd.DataFrame:
    """Change batch ``i``: rows in commit order, ``(seq, sub)`` ascending."""
    rng = np.random.default_rng([seed, i])
    n_up = int(BATCH_ROWS * UPDATE_SHARE)
    n_ins = int(BATCH_ROWS * INSERT_SHARE)
    n_del = BATCH_ROWS - n_up - n_ins
    skewed = (n_keys * rng.random(n_up + n_del) ** SKEW).astype("int64")
    keys = np.concatenate([skewed[:n_up], n_keys + np.arange(n_ins), skewed[n_up:]])
    order = rng.permutation(BATCH_ROWS)
    keys = keys[order]
    deleted = np.concatenate([np.zeros(n_up + n_ins, bool), np.ones(n_del, bool)])[order]
    return pd.DataFrame({
        "key": keys,
        "cust": rng.integers(0, 1500, BATCH_ROWS).astype("int64"),
        "price": np.round(rng.uniform(1000, 500000, BATCH_ROWS), 2),
        "status": rng.choice(["F", "O", "P"], BATCH_ROWS),
        "seq": np.full(BATCH_ROWS, i, "int64"),
        "sub": np.arange(BATCH_ROWS, dtype="int32"),
        "deleted": deleted,
    })


def _apply(expected: dict, pdf: pd.DataFrame) -> None:
    for k, c, p, s, d in zip(pdf["key"], pdf["cust"], pdf["price"], pdf["status"], pdf["deleted"]):
        expected[int(k)] = None if d else (int(c), float(p), s)


def _live(expected: dict) -> tuple[int, float]:
    vals = [v for v in expected.values() if v is not None]
    return len(vals), sum(v[1] for v in vals)


def _oracle_check(con, files: list[str], snap: pd.DataFrame) -> bool:
    """Snapshot equals last-writer-wins over ``files``, minus deletes."""
    from pandas_streaming_spark.compare import compare_frames

    want = con.execute(f"""
        SELECT key, cust, price, status FROM (
            SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC, sub DESC) rn
            FROM read_parquet({files!r})) WHERE rn = 1 AND NOT deleted""").df()
    return compare_frames("upsert", snap[["key", "cust", "price", "status"]], want).ok


def run(ctx) -> dict:
    import duckdb
    from pyspark.sql import functions as F

    from pandas_streaming_spark.catalog import load_table
    from pandas_streaming_spark.streaming.upsert import KeyedUpsertSink

    spark, tr, sc = ctx.spark, ctx.tracer, ctx.spark.sparkContext
    rng = np.random.default_rng(ctx.seed)
    changes = os.path.join(ctx.inputs, "changes")
    os.makedirs(changes)
    pq.write_table(gen.orders_table(rng, ORDERS, 1500), os.path.join(ctx.inputs, "orders.parquet"))
    seed_df = load_table(spark, ctx.inputs, "orders").select(
        F.col("o_orderkey").alias("key"), F.col("o_custkey").alias("cust"),
        F.col("o_totalprice").alias("price"), F.col("o_orderstatus").alias("status"),
        F.lit(0).cast("long").alias("seq"), F.lit(0).alias("sub"),
        F.lit(False).alias("deleted"),
    )
    seed_pdf = seed_df.toPandas()
    seed_path = os.path.join(changes, "b000000.parquet")
    pq.write_table(pa.Table.from_pandas(seed_pdf[COLS], preserve_index=False), seed_path)
    files = [seed_path]
    expected: dict = {}
    _apply(expected, seed_pdf)

    sink = KeyedUpsertSink(
        os.path.join(ctx.run_dir, "table"), ["key"], ["seq", "sub"],
        num_buckets=8, tombstone_col="deleted",
    )
    sink(seed_df, 0)
    n_keys = ORDERS + 1
    ops: list[dict] = []
    failed = 0
    versions: list[tuple[int, int]] = []  # (table version, batches applied)

    def op(i: int, timed: bool) -> None:
        nonlocal n_keys, failed
        traced = ctx.trace and timed and i % 2 == 0
        span = tr.span if traced else (lambda *a, **k: contextlib.nullcontext())
        pdf = _batch(ctx.seed, i, n_keys)
        n_keys += int(BATCH_ROWS * INSERT_SHARE)
        path = os.path.join(changes, f"b{i:06d}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        files.append(path)
        batch_df = spark.createDataFrame(pdf)
        rec = {"i": i, "traced": traced, "rows": len(pdf)}
        sc.setJobGroup(f"c{i}", "commit")
        a = time.perf_counter()
        with span("upsert.commit", op=i):
            sink(batch_df, i)
        rec["commit_s"] = time.perf_counter() - a
        _apply(expected, pdf)
        versions.append((max(sink.versions()), i))
        sc.setJobGroup(f"r{i}", "read")
        a = time.perf_counter()
        with span("upsert.read", op=i):
            agg = sink.read(spark).agg(F.count("*").alias("n"), F.sum("price").alias("s"))
            if traced:
                with span("catalyst.plan", op=i):
                    agg._jdf.queryExecution().executedPlan()
            with span("arrow.materialise", op=i):
                got = agg.toPandas()
        rec["read_s"] = time.perf_counter() - a
        n, s = _live(expected)
        if int(got["n"][0]) != n or abs(float(got["s"][0]) - s) > 1e-6 * max(1.0, abs(s)):
            failed += 1
        if i % COMPACT_EVERY == 0:
            sc.setJobGroup(f"k{i}", "compact")
            a = time.perf_counter()
            with span("upsert.compact", op=i):
                sink.compact(spark)
            rec["compact_s"] = time.perf_counter() - a
        ops.append(rec)

    for i in range(1, WARM_OPS + 1):
        op(i, False)
    ops.clear()
    ctx.setup_done()
    t0 = time.perf_counter()
    i = WARM_OPS
    while time.perf_counter() - t0 < ctx.seconds or len(ops) < MIN_OPS:
        i += 1
        op(i, True)
    window = time.perf_counter() - t0
    sc.setJobGroup("check", "correctness")

    con = duckdb.connect()
    try:
        ok_latest = _oracle_check(con, files, sink.read(spark).toPandas())
        v, k = versions[len(versions) // 2]
        ok_travel = _oracle_check(con, files[: k + 1], sink.read(spark, version=v).toPandas())
    finally:
        con.close()
    failed += (not ok_latest) + (not ok_travel)
    plain = [r for r in ops if not r["traced"]]
    commits = [r["commit_s"] for r in plain]
    reads = [r["read_s"] for r in plain]
    rows_per_s = sum(r["rows"] for r in ops) / window
    out = {
        "e2e": {"op_p50_s": statistics.median(commits), "work_per_s": rows_per_s},
        # a commit and a checked read per operation, warm-up included,
        # and the two oracle checks
        "attempted": 2 * (WARM_OPS + len(ops)) + 2,
        "failed": failed,
        "record": {
            "commit_s": summary(commits),
            "commit_samples": commits,
            "commit_halves": halves(commits),
            "read_s": summary(reads),
            "compact_s": summary([r["compact_s"] for r in plain if "compact_s" in r]),
            "rows_per_s": rows_per_s,
            "window_s": window,
            "ops": len(ops),
            "latest_ok": ok_latest,
            "time_travel_ok": ok_travel,
        },
    }
    if ctx.trace:
        out["layers"] = _layers(ctx, ops, sink, commits)
    return out


def _layers(ctx, ops, sink, plain_commits) -> dict:
    from pandas_streaming_spark.catalog import load_table

    tr, js = ctx.tracer, ctx.jobs
    probes = []
    for i in range(3):
        with tr.span("catalog.load_table", op=i) as s:
            load_table(ctx.spark, ctx.inputs, "orders")
        probes.append(s["end"] - s["start"])
    traced = [r for r in ops if r["traced"]]
    execs, jobs, transfer = [], [], []
    for r in traced:
        ids = js.group_jobs(f"c{r['i']}")
        jobs.append(len(ids))
        execs.append(js.execution(ids))
        mat = tr.durations("arrow.materialise", op=r["i"])
        transfer.append(sum(mat) - js.jobs_wall_s(js.group_jobs(f"r{r['i']}")))
    head = sink.read(ctx.spark).inputFiles()
    return {
        "catalog.load_table_s": median_or_zero(probes),
        "catalyst.plan_s": median_or_zero(
            [sum(tr.durations("catalyst.plan", op=r["i"])) for r in traced]),
        **{f"execution.{k}": v for k, v in median_exec(execs).items()},
        "arrow.transfer_s": median_or_zero(transfer),
        "arrow.rows": 1,
        "upsert.jobs_per_commit": median_or_zero(jobs),
        "upsert.table_files": len(head),
        "upsert.compact_s": median_or_zero(
            [r["compact_s"] for r in traced if "compact_s" in r]),
        "upsert.read_s": median_or_zero([r["read_s"] for r in traced]),
        "trace.overhead_s": (
            median_or_zero([r["commit_s"] for r in traced])
            - median_or_zero(plain_commits)
        ),
    }
