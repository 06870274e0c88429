"""Deterministic streaming replay harness (FIXTURES.md protocol).

Replays the ``events`` table as k micro-batches through Structured
Streaming and reads back the **final state** — the graded form of the
streaming queries (Q43–Q48) and the reference's own batch-split-invariance
test (SURVEY.md §5.1): the final state must be identical for any k and
equal to the one-shot batch computation.

Split rule: batch i of k = rows with ``floor(rank * k / n) == i`` where
``rank`` is the global 0-based EVENT-TIME rank under ``ORDER BY (ts,
event_id)`` (operators/indexing.global_index — two-phase distributed
rank, no single-partition sort). For the driver fixtures (dense ids
0..n-1, ts monotone in id) rank == event_id, so this is byte-identical
to the original ``floor(event_id * k / n)`` rule; for datagen-scaled
replicas (keys offset +1e9 per replica, SAME time axis) it interleaves
the replicas back into one in-order stream. The id-arithmetic rule at
10x silently dropped every replica but the first (batch index overflowed
k), and an id-contiguous split would restart event time at every replica
boundary, turning the whole tail into watermark-late data — both caught
by the round-7 10x correctness axis. Time-rank splits keep each parquet
file one in-order micro-batch via ``maxFilesPerTrigger=1``; the file
source takes the oldest file first, so every split is handed out with
its batch mtimes stamped in name order, whatever happened to the files.

Everything here is Spark-side: the split is written by executor tasks
(the driver only renames files), and the sink spills micro-batch output
to parquet instead of accumulating rows on the driver — so the harness
itself scales with the cluster, not with driver memory.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pandas_streaming_spark.catalog import SCRATCH, derived_dir, load_table

#: sentinel rows use this key; downstream queries filter it out
SENTINEL_USER = -1

#: mtime of batch_0000.parquet in every replay split; batch i is stamped
#: i seconds later (see _stamp_order)
_BATCH0_MTIME_NS = 1_000_000_000 * 1_000_000_000


def _fresh_dir(tag: str) -> str:
    d = os.path.join(SCRATCH, f"{tag}-{uuid.uuid4().hex[:8]}")
    os.makedirs(d, exist_ok=True)
    return d


def _write_single_file(df: DataFrame, dest: str) -> None:
    """Write ``df`` as exactly one parquet file at ``dest``.

    The data is written by an executor task; the driver's only work is the
    rename. One file per micro-batch is what ``maxFilesPerTrigger=1``
    keys on."""
    tmp = dest + ".job"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))
    assert len(part) == 1, part
    os.replace(part[0], dest)
    shutil.rmtree(tmp, ignore_errors=True)


def write_replay_batches(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    dup_every: int | None = None,
    sentinel: bool = False,
) -> str:
    """Split ``{sf_dir}/events.parquet`` into k single-file micro-batches
    by event-time rank (module docstring), as a derived copy of the
    events table (``catalog.derived_dir``): graded streaming entries at
    one sf and k share one split instead of re-running the split job.

    ``dup_every``: additionally append every dup_every-th row of batch i
    into batch i+1 (late duplicate injection for the dedup query Q46).

    ``sentinel``: append one extra far-future batch (two rows on the
    unmatched ``SENTINEL_USER`` key, one year past max ts) that advances
    every watermark beyond the real data — required for outer stream-stream
    joins, whose NULL rows only emit once the watermark passes the left
    row's horizon. A finite replay would otherwise withhold the tail.
    """

    def build(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events")  # catalog casts ts to µs
        _write_split(ev, ["ts", "event_id"], k, tmp, dup_every)
        if sentinel:
            flush = (
                ev.orderBy(F.col("ts").desc())
                .limit(1)
                .select(
                    F.explode(F.array(F.lit(-1), F.lit(-2))).alias("event_id"),
                    (F.col("ts") + F.expr("INTERVAL 365 DAYS")).alias("ts"),
                )
                .select(
                    F.col("event_id").cast("long"),
                    "ts",
                    F.lit(SENTINEL_USER).cast("long").alias("user_id"),
                    F.when(F.col("event_id") == -1, "purchase")
                    .otherwise("click")
                    .alias("event_type"),
                    F.lit(0.0).alias("value"),
                    F.lit(None).cast("string").alias("props"),
                )
                .select(*ev.columns)
            )
            _write_single_file(flush, os.path.join(tmp, "batch_9999.parquet"))

    return _stamp_order(
        derived_dir(sf_dir, "events", "replay", [k, dup_every, sentinel], build)
    )


def write_doc_replay_batches(
    spark: SparkSession, sf_dir: str, k: int = 5, where: str | None = None
) -> str:
    """Split ``{sf_dir}/documents.parquet`` into k single-file
    micro-batches in doc_id order — the document-stream twin of
    write_replay_batches (q303 streams the curation pipeline over it).
    ``where`` (optional SQL predicate) replays only the matching subset
    — the new-crawl-shard arrival shape q309 ingests incrementally."""

    def build(tmp: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        _write_split(docs.filter(where) if where else docs, ["doc_id"], k, tmp)

    return _stamp_order(
        derived_dir(sf_dir, "documents", "docreplay", [k, where], build)
    )


def _write_split(
    df: DataFrame,
    order_cols: list[str],
    k: int,
    out_dir: str,
    dup_every: int | None = None,
) -> None:
    """Write ``df`` as ``batch_0000.parquet`` .. ``batch_{k-1}``: batch i
    holds the rows whose global rank under ``order_cols`` satisfies
    ``floor(rank * k / n) == i``."""
    from pandas_streaming_spark.operators.indexing import global_index

    n = df.count()
    gi = global_index(df, order_cols, "__rank")
    split = gi.df.withColumn(
        "__b", F.expr(f"CAST((__rank * {k}) DIV {n} AS INT)")
    ).drop("__rank")
    if dup_every:
        w = Window.partitionBy("__b").orderBy(order_cols[-1])
        split = split.withColumn("__rn", F.row_number().over(w))
    split = split.persist()
    try:
        for i in range(k):
            part = split.filter(F.col("__b") == i)
            if dup_every and i > 0:
                carried = split.filter(
                    (F.col("__b") == i - 1)
                    & ((F.col("__rn") - 1) % dup_every == 0)
                )
                part = carried.unionByName(part)
            part = part.drop("__b", "__rn") if dup_every else part.drop("__b")
            _write_single_file(part, os.path.join(out_dir, f"batch_{i:04d}.parquet"))
    finally:
        split.unpersist()
        gi.release()  # global_index's boundary pin


def _stamp_order(replay_dir: str) -> str:
    """Give the batch files of a split mtimes that rise with their names.
    The file source reads the oldest file first, so a split whose mtimes
    were reset (copied, restored, touched) would otherwise replay out of
    order; stamping on every return makes name order the replay order."""
    names = sorted(f for f in os.listdir(replay_dir) if f.startswith("batch_"))
    for i, name in enumerate(names):
        t = _BATCH0_MTIME_NS + i * 1_000_000_000
        os.utime(os.path.join(replay_dir, name), ns=(t, t))
    return replay_dir


def replay_events(
    spark: SparkSession,
    sf_dir: str,
    replay_dir: str,
    max_files_per_trigger: int | None = 1,
    table: str = "events",
) -> DataFrame:
    """Streaming DataFrame over a replay split of ``table`` (events, or
    documents for write_doc_replay_batches), one file per micro-batch.

    The replay files carry the catalog-normalized frame (µs timestamps),
    so the schema is the catalog schema.

    ``max_files_per_trigger=None`` removes the per-file trigger cap:
    ``availableNow`` then batches the whole backlog into as few triggers
    as its own admission limits allow — the catch-up shape a production
    stream runs after downtime. Batch-split invariance (tested for
    k ∈ {1, 5, 20}) guarantees the final state is identical; only the
    trigger count changes. The graded protocol keeps the cap at 1."""
    schema = load_table(spark, sf_dir, table).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(replay_dir)


def _chkpt_base() -> str:
    """Checkpoint parent dir: tmpfs when available. The offset/commit WAL
    write sits on EVERY trigger's critical path; for a finite replay
    harness, durability across machine crashes buys nothing, so /dev/shm
    shaves real per-trigger milliseconds (measured ~15% end-to-end at
    sf0.1 k=5). A production deployment points checkpointLocation at
    durable shared storage instead — this is harness policy, not engine
    semantics."""
    return "/dev/shm" if os.access("/dev/shm", os.W_OK) else SCRATCH


def run_stream_to_df(
    spark: SparkSession,
    stream_df: DataFrame,
    output_mode: str = "complete",
    key_cols: list[str] | None = None,
    trigger: str = "available_now",
    state_partitions: int | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) and return
    the final state as a *batch* DataFrame.

    The sink spills each micro-batch's output to parquet from executor
    tasks — no rows accumulate on the driver, so an append-mode stream's
    final state is as large as the cluster can hold, not the driver:

    - ``complete``: each trigger overwrites the spill with the full state;
      final = the last overwrite.
    - ``append``: each trigger appends its new rows; final = everything.
    - ``update``: requires ``key_cols``; each trigger appends updated rows
      stamped with the batch id; final = last update per key (resolved
      with one window pass — the idempotent-KV-sink read view).

    ``state_partitions``: temporarily sets the shuffle-partition count
    while the stream runs, which fixes the query's STATE STORE partition
    count. Size it to the state, not the data: every trigger commits
    every state partition, so a small-keyspace aggregation over 32
    partitions pays 32 near-empty store commits per micro-batch —
    measured at sf0.1 k=5: 6.2 s at 32 partitions vs 2.7 s at 4 (2.3×)
    for identical results (state here is ~100 window×type groups). At
    real scale pick ~(state size / ~100 MB) partitions; the conf is
    restored after the run either way.

    Sink selection: ``complete`` and ``append`` run through JVM-native
    sinks (the in-memory snapshot sink and the file-stream parquet sink
    respectively) instead of ``foreachBatch`` — a Python
    ``foreachBatch`` callback costs a Py4J round-trip plus a Python-side
    plan build on EVERY trigger, which at replay batch sizes was a
    measurable slice of the ~250-400 ms/trigger floor. With native sinks
    the whole trigger loop (planning, state commit, sink write) stays in
    the JVM. ``update`` keeps ``foreachBatch`` — it must stamp each
    batch's rows with the batch id for last-writer-wins resolution,
    which no built-in sink records. The complete-mode memory sink holds
    the final snapshot in driver memory: that is exactly the frame every
    caller materializes anyway (complete-mode state is aggregated,
    orders of magnitude smaller than the stream), and the append path
    still spills executor-side.

    The result is local-checkpointed so the spill dir can be deleted.
    """
    chkpt = os.path.join(_chkpt_base(), f"chkpt-{uuid.uuid4().hex[:8]}")
    os.makedirs(chkpt, exist_ok=True)
    spill = _fresh_dir("spill")
    if output_mode == "update" and not key_cols:
        raise ValueError("update mode requires key_cols")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    # AQE re-plans every micro-batch's sink-side job for data sizes it
    # already knows are tiny — measured ~10% per-trigger latency at this
    # scale for zero benefit (streaming stateful plans pin their own
    # partitioning); restored after the run.
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))

    mem_name = None
    if output_mode == "complete":
        # JVM-native snapshot sink: every trigger truncate+inserts the
        # current full state into a driver-side in-memory table; no
        # Python callback and no parquet rewrites
        mem_name = f"replay_mem_{uuid.uuid4().hex[:8]}"
        w = (
            stream_df.writeStream.outputMode("complete")
            .format("memory")
            .queryName(mem_name)
            .option("checkpointLocation", chkpt)
        )
    elif output_mode == "append":
        # JVM-native file sink: executor tasks append each trigger's new
        # rows straight to the spill dir (with a _spark_metadata commit
        # log), no per-trigger Python.
        w = (
            stream_df.writeStream.outputMode("append")
            .format("parquet")
            .option("path", spill)
            .option("checkpointLocation", chkpt)
        )
    else:  # update: foreachBatch, the only sink that can stamp batch ids
        def sink(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.withColumn("__batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(spill)

        w = (
            stream_df.writeStream.outputMode(output_mode)
            .foreachBatch(sink)
            .option("checkpointLocation", chkpt)
        )
    ok = False
    q = None
    try:
        if trigger == "available_now":
            q = w.trigger(availableNow=True).start()
            q.awaitTermination()
        elif trigger == "drain":
            # for sources whose availableNow snapshot sees only the first
            # prefetched batch (e.g. Python SimpleDataSourceStreamReader):
            # run continuously until no more data is available, then stop
            q = w.start()
            q.processAllAvailable()
            q.stop()
            q.awaitTermination()
        else:
            raise ValueError(f"unknown trigger {trigger!r}")
        ok = True
    finally:
        if not ok and q is not None:
            # stop a still-live query BEFORE deleting its checkpoint/sink —
            # an interrupt/timeout mid-awaitTermination must not leave it
            # running against a removed checkpoint dir (ADVICE r7)
            try:
                q.stop()
                q.awaitTermination(30)
            except Exception:
                pass
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        # checkpoints live on tmpfs (/dev/shm): reclaim on EVERY exit path —
        # an exception in awaitTermination must not leak shared-memory state
        shutil.rmtree(chkpt, ignore_errors=True)
        if not ok:
            shutil.rmtree(spill, ignore_errors=True)
            if mem_name is not None:
                spark.catalog.dropTempView(mem_name)

    if output_mode == "complete":
        # the complete-mode memory sink already holds the full final state
        # in driver memory; re-expose it as a local relation instead of
        # localCheckpoint (which schedules an executor job + storage copy
        # for data that is already local). Arrow round-trip, NOT
        # collect()+createDataFrame(rows): the Row path pickles every
        # value through the Python serializer (~3x slower at even a few
        # thousand state rows), while toArrow keeps the transfer columnar
        tbl = spark.table(mem_name)
        out = spark.createDataFrame(tbl.toArrow())
        spark.catalog.dropTempView(mem_name)
        shutil.rmtree(spill, ignore_errors=True)
        return out

    if not glob.glob(os.path.join(spill, "*.parquet")):
        shutil.rmtree(spill, ignore_errors=True)
        out_schema = stream_df.schema
        return spark.createDataFrame([], out_schema)
    out = spark.read.parquet(spill)
    if output_mode == "update":
        w = Window.partitionBy(*key_cols).orderBy(F.col("__batch_id").desc())
        out = (
            out.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__batch_id")
        )
    out = out.localCheckpoint(eager=True)  # materialize so spill can go
    shutil.rmtree(spill, ignore_errors=True)
    return out


def run_stream_to_final(
    stream_df: DataFrame,
    output_mode: str = "complete",
    key_cols: list[str] | None = None,
):
    """pandas-returning convenience wrapper over :func:`run_stream_to_df`
    (tests and local inspection; graded queries use the DataFrame form)."""
    spark = stream_df.sparkSession
    return run_stream_to_df(spark, stream_df, output_mode, key_cols).toPandas()
