"""stream_window: an event-time window aggregate over a file stream.

The query is ``api.wrap(sources.file_stream(...))`` with a watermark and
``time_window(...).agg(...)`` in update mode; ``foreach_batch``
materialises each batch with ``toPandas()``. Before the open-loop phase
the same query drains a pre-written backlog with ``availableNow``; then a
generator thread writes one events file per tick at a fixed offered rate,
each written aside and renamed into the watched directory. Latency is
measured per file, from the time it was due to the end of the
``foreach_batch`` call that emitted its rows.

Drain rate keeps rising over the first several drains while the JIT
compiles, and the open loop's first seconds run slower than the rest. So
set-up drains a second, shared backlog ``WARM_DRAINS`` times, each time
by a fresh query with a checkpoint of its own. The window then drains
``DRAINS`` times: the open loop's own backlog before the open loop, and
the shared one, by fresh queries, after it; it reports their median
rate. Files due in the open loop's first ``SETTLE_S`` seconds are
checked but not timed.

The schema is explicit, so this workload never goes through ``catalog``
on its timed path; the catalog probe in the traced run reads the watched
directory as the ``events`` table, outside the window.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from common import halves, summary
from tracing import median_or_zero

#: Events per file, and the event time each file covers.
FILE_EVENTS = 128
FILE_SPAN_S = 10
WINDOW = "1 minute"
WATERMARK = "1 minute"
#: Files in each backlog drained with availableNow.
BACKLOG_FILES = 168
#: Drains before the window, and timed ones (median reported).
WARM_DRAINS = 3
DRAINS = 3
MAX_FILES_PER_TRIGGER = 28
#: Offered load of the open loop: about half the drain capacity, and
#: enough files in a window for a p95 with ten samples beyond it.
RATE_FILES_PER_S = 20.0
#: Open-loop files due in this first part are checked but not timed.
SETTLE_S = 2.0
#: A file emitted later than this after it was due counts as late.
LATE_LIMIT_S = 5.0
#: How long after the window the run waits for the last files.
GRACE_S = 15.0
#: Distinct users, as in the sf0.01 ``events`` table.
USERS = 150


def _schema():
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType, TimestampType,
    )

    return StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
        StructField("file_seq", LongType()),
    ])


def _file(rng, seq: int) -> pa.Table:
    t = gen.events_table(
        rng, seq * FILE_EVENTS, FILE_EVENTS,
        gen.EVENTS_T0_US + seq * FILE_SPAN_S * 1_000_000, FILE_SPAN_S * 1_000_000,
        USERS,
    )
    t = t.set_column(1, "ts", t.column("ts").cast(pa.timestamp("us", tz="UTC")))
    return t.append_column("file_seq", pa.array([seq] * FILE_EVENTS, pa.int64()))


def _publish(table: pa.Table, staging: str, dest: str, seq: int) -> None:
    """Write aside, then rename into the watched directory (atomic)."""
    tmp = os.path.join(staging, f"f{seq:06d}.parquet")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(dest, f"f{seq:06d}.parquet"))


class _Sink:
    """foreach_batch target: keeps the latest row per window and when each
    batch ended. Odd batches are traced in a traced run."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.state: dict[int, tuple] = {}
        self.emits: list[tuple[float, int, int]] = []  # (end time, max file seq, batch)
        #: per toPandas call: epoch start, epoch end, wall seconds, rows
        self.materialise: list[tuple[float, float, float, int]] = []

    def __call__(self, batch_df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        tr = self.ctx.tracer
        traced = self.ctx.trace and batch_id % 2 == 1
        with tr.span("foreach_batch", op=batch_id) if traced else contextlib.nullcontext():
            df = batch_df.select(
                F.unix_seconds(F.col("window.start")).alias("w"),
                "events", "value_sum", "max_seq",
            )
            e0, a = time.time(), time.perf_counter()
            with tr.span("arrow.materialise", op=batch_id) if traced else contextlib.nullcontext():
                pdf = df.toPandas()
            self.materialise.append((e0, time.time(), time.perf_counter() - a, len(pdf)))
            for w, n, s, m in pdf.itertuples(index=False, name=None):
                self.state[int(w)] = (int(n), round(float(s), 6), int(m))
            top = int(pdf["max_seq"].max()) if len(pdf) else -1
        self.emits.append((time.perf_counter(), top, batch_id))


def _query(ctx, src: str, sink, ckpt: str, available_now: bool):
    from pandas_streaming_spark import api, sources

    frame = api.wrap(
        sources.file_stream(ctx.spark, src, _schema(),
                            max_files_per_trigger=MAX_FILES_PER_TRIGGER)
        .withWatermark("ts", WATERMARK)
    )
    agg = frame.time_window("ts", WINDOW).agg(
        events=("event_id", "count"), value_sum=("value", "sum"),
        max_seq=("file_seq", "max"),
    )
    if available_now:
        return (agg.df.writeStream.outputMode("update").foreachBatch(sink)
                .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
    return agg.foreach_batch(sink, output_mode="update", checkpointLocation=ckpt)


def _generator(tables, staging, dest, t0, first_seq, due, lag, stop):
    for i, table in enumerate(tables):
        due_i = t0 + i / RATE_FILES_PER_S
        wait = due_i - time.perf_counter()
        if wait > 0 and stop.wait(wait):
            return
        _publish(table, staging, dest, first_seq + i)
        due.append(due_i)
        lag.append(time.perf_counter() - due_i)


def _oracle(src: str) -> dict[int, tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.execute(f"""
            SELECT CAST(epoch_us(ts) // 60000000 AS BIGINT) * 60 AS w,
                   count(*), sum(value), max(file_seq)
            FROM read_parquet('{src}/*.parquet') GROUP BY 1""").fetchall()
    finally:
        con.close()
    return {int(w): (int(n), round(float(s), 6), int(m)) for w, n, s, m in rows}


def _progress(q) -> list[dict]:
    return [p if isinstance(p, dict) else p.jsonValue() for p in q.recentProgress]


def _mismatched(state: dict, expected: dict) -> int:
    """Windows whose final state differs from the batch computation."""
    bad = sum(1 for w, v in expected.items() if state.get(w) != v)
    return bad + sum(1 for w in state if w not in expected)


def run(ctx) -> dict:
    rng = np.random.default_rng(ctx.seed)
    src = os.path.join(ctx.inputs, "events.parquet")
    staging = os.path.join(ctx.inputs, "staging")
    # drained by a query of its own each time, before and after the open loop
    shared = os.path.join(ctx.inputs, "backlog")
    for d in (src, staging, shared):
        os.makedirs(d)
    n_settle = int(SETTLE_S * RATE_FILES_PER_S)
    n_open = int(ctx.seconds * RATE_FILES_PER_S)
    for d in (src, shared):
        for seq in range(BACKLOG_FILES):
            _publish(_file(rng, seq), staging, d, seq)
    open_tables = [_file(rng, BACKLOG_FILES + i) for i in range(n_settle + n_open)]

    drain_progress: list[dict] = []
    drain_rates: list[float] = []
    shared_states: list[dict] = []
    sink = _Sink(ctx)
    ckpt = os.path.join(ctx.checkpoints, "main")

    def drain(k: int, timed: bool, main: bool = False) -> None:
        own = sink if main else _Sink(ctx)
        a = time.perf_counter()
        dq = _query(ctx, src if main else shared, own,
                    ckpt if main else os.path.join(ctx.checkpoints, f"b{k}"), True)
        dq.awaitTermination()
        if timed:
            drain_rates.append(BACKLOG_FILES * FILE_EVENTS / (time.perf_counter() - a))
        drain_progress.extend(_progress(dq))
        if not main:
            shared_states.append(own.state)

    for k in range(WARM_DRAINS):
        drain(k, False)
    ctx.setup_done()
    drain(WARM_DRAINS, True, main=True)

    due: list[float] = []
    lag: list[float] = []
    stop = threading.Event()
    q = _query(ctx, src, sink, ckpt, False)
    e0 = time.time()
    t0 = time.perf_counter() + 0.5
    gen_thread = threading.Thread(
        target=_generator,
        args=(open_tables, staging, src, t0, BACKLOG_FILES, due, lag, stop),
        daemon=True,
    )
    gen_thread.start()
    last_seq = BACKLOG_FILES + len(open_tables) - 1
    try:
        gen_thread.join(timeout=SETTLE_S + ctx.seconds + 30)
        deadline = time.perf_counter() + GRACE_S
        while time.perf_counter() < deadline and (
            not sink.emits or max(e[1] for e in sink.emits) < last_seq
        ):
            time.sleep(0.05)
    finally:
        stop.set()
        gen_thread.join(timeout=30)
        e1 = time.time()
        progress = _progress(q)
        q.stop()
    for k in range(WARM_DRAINS + 1, WARM_DRAINS + DRAINS):
        drain(k, True)

    latencies, by_batch, never = [], [], 0
    for i, due_i in enumerate(due):
        seq = BACKLOG_FILES + i
        done = next((e for e in sink.emits if e[1] >= seq and e[0] >= due_i), None)
        if done is None:
            never += 1
        elif i >= n_settle:
            latencies.append(done[0] - due_i)
            by_batch.append(done[2])
    late = sum(1 for x in latencies if x > LATE_LIMIT_S)
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in drain_progress + progress for op in p.get("stateOperators", [])
    )
    bad_windows = _mismatched(sink.state, _oracle(src))
    expected = _oracle(shared)
    failed = sum(_mismatched(st, expected) for st in shared_states)
    failed += never + (len(open_tables) - len(due)) + bad_windows + (1 if dropped else 0)
    drain_rate = statistics.median(drain_rates)
    lat = summary(latencies)
    out = {
        "e2e": {"op_p50_s": lat.get("p50", float("nan")), "work_per_s": drain_rate},
        "attempted": len(open_tables) + (WARM_DRAINS + DRAINS) * BACKLOG_FILES,
        "failed": failed,
        "record": {
            "latency_s": lat,
            "latency_halves": halves(latencies),
            "drain_events_per_s": drain_rate,
            "drain_rates": drain_rates,
            "late_share": (late + never) / max(1, len(open_tables)),
            "late_limit_s": LATE_LIMIT_S,
            "offered_files_per_s": RATE_FILES_PER_S,
            "offered_events_per_s": RATE_FILES_PER_S * FILE_EVENTS,
            "files_due": len(open_tables),
            "files_settling": n_settle,
            "files_never_emitted": never,
            "generator_lag_s": summary(lag),
            "windows_mismatched": bad_windows,
            "rows_dropped_by_watermark": dropped,
        },
    }
    if ctx.trace:
        out["layers"] = _layers(ctx, sink, progress, lag, latencies, by_batch, dropped, e0, e1)
    return out


def _layers(ctx, sink, progress, lag, latencies, by_batch, dropped, e0, e1) -> dict:
    from pandas_streaming_spark.catalog import load_table

    probes = []
    for i in range(3):
        with ctx.tracer.span("catalog.load_table", op=i) as s:
            load_table(ctx.spark, ctx.inputs, "events")
        probes.append(s["end"] - s["start"])
    data = [p for p in progress if p.get("numInputRows", 0) > 0]

    def dur(key: str) -> float:
        return median_or_zero([p.get("durationMs", {}).get(key, 0) for p in data])

    def state(key: str, how=median_or_zero) -> float:
        return how([op.get(key, 0) for p in data for op in p.get("stateOperators", [])])

    js = ctx.jobs
    ids = js.jobs_between(e0, e1)
    per_trigger = {k: v / max(1, len(data)) for k, v in js.execution(ids).items()}
    windows = [w for w in map(js.job_window, ids) if w]
    mats = [m for m in sink.materialise if e0 <= m[0] <= e1]
    transfer = [
        wall - sum(b - a for a, b in windows if m0 <= a <= m1)
        for m0, m1, wall, _ in mats
    ]
    traced = [x for x, b in zip(latencies, by_batch) if b % 2 == 1]
    plain = [x for x, b in zip(latencies, by_batch) if b % 2 == 0]
    return {
        "catalog.load_table_s": median_or_zero(probes),
        **{f"execution.{k}": v for k, v in per_trigger.items()},
        "arrow.transfer_s": median_or_zero(transfer),
        "arrow.rows": median_or_zero([m[3] for m in mats]),
        "sources.latest_offset_ms": dur("latestOffset"),
        "sources.get_batch_ms": dur("getBatch"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.triggers": len(data),
        "streaming.rows_per_trigger": median_or_zero([p["numInputRows"] for p in data]),
        "state.rows_total": state("numRowsTotal", lambda v: v[-1] if v else 0),
        "state.memory_bytes": state("memoryUsedBytes", lambda v: v[-1] if v else 0),
        "state.commit_ms": state("commitTimeMs"),
        "state.rows_dropped_by_watermark": dropped,
        "generator.lag_s": median_or_zero(lag),
        "trace.overhead_s": median_or_zero(traced) - median_or_zero(plain),
    }
