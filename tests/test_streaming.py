"""Streaming tests: oracle match at sf0.001 + the reference's core
invariant — batch-split invariance (SURVEY.md §5.1): final state must be
identical for any micro-batch split of the input.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandas_streaming_spark.compare import compare_frames, duckdb_connect, normalize
from pandas_streaming_spark.queries import kafka_q, stream_upsert_q, streaming_q
from pandas_streaming_spark.streaming.replay import (
    replay_events,
    run_stream_to_final,
    write_replay_batches,
)

# the round-6 module split moved the kafka-contract and MERGE-sink
# queries into sibling modules; this file still covers the whole family
_STREAM_QUERIES = {
    **streaming_q.QUERIES, **kafka_q.QUERIES, **stream_upsert_q.QUERIES,
}
_STREAM_ORACLES = {
    **streaming_q.ORACLES, **kafka_q.ORACLES, **stream_upsert_q.ORACLES,
}


@pytest.mark.parametrize("name", sorted(_STREAM_QUERIES))
def test_stream_final_state_matches_batch_oracle(spark, sf_dir, name):
    spark_pdf = _STREAM_QUERIES[name](spark, sf_dir).toPandas()
    con = duckdb_connect(sf_dir)
    try:
        oracle_pdf = con.execute(_STREAM_ORACLES[name]).df()
    finally:
        con.close()
    res = compare_frames(name, spark_pdf, oracle_pdf)
    assert res.ok, res.detail


def test_stream_catchup_equals_protocol(spark, sf_dir):
    """Trigger-batching invariance: replaying the SAME k=5 split with no
    maxFilesPerTrigger cap (availableNow catch-up — the bench's
    events_per_sec_catchup shape) must yield the identical final state as
    the one-file-per-trigger protocol. Same invariant family as batch-
    split invariance, along the trigger axis instead of the split axis."""
    from pandas_streaming_spark.queries.streaming_q import q43_stream_tumbling

    protocol = normalize(q43_stream_tumbling(spark, sf_dir).toPandas())
    catchup = normalize(
        q43_stream_tumbling(spark, sf_dir, catchup=True).toPandas()
    )
    assert protocol == catchup


@pytest.mark.parametrize("k", [1, 8])
def test_batch_split_invariance_tumbling(spark, sf_dir, k):
    """Tumbling-window counts must not depend on how the stream is split."""
    replay_dir = write_replay_batches(spark, sf_dir, k)
    stream = replay_events(spark, sf_dir, replay_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("w_start"),
            "event_type",
            "n",
        )
    )
    pdf = run_stream_to_final(agg, "complete")
    got = normalize(pdf)
    # batch oracle computed in Spark itself (duckdb equality is covered by
    # the test above; this one pins split-independence)
    from pandas_streaming_spark.catalog import load_table

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("w_start"),
            "event_type",
            "n",
        )
        .toPandas()
    )
    assert got == normalize(batch)


def test_replay_order_survives_reset_mtimes(spark, sf_dir, tmp_path):
    """The file source reads the oldest file first. A split whose batch
    mtimes were reset (a copied or restored cache) must still replay in
    name order: a watermarked k=5 tumbling replay equals the batch answer
    after the split's mtimes are reversed. The events file is copied so
    the split gets its own cache entry."""
    import os
    import shutil

    from pandas_streaming_spark.catalog import load_table
    from pandas_streaming_spark.streaming.replay import run_stream_to_df

    shutil.copy(os.path.join(sf_dir, "events.parquet"), tmp_path)
    sf = str(tmp_path)
    replay_dir = write_replay_batches(spark, sf, 5)
    try:
        names = sorted(f for f in os.listdir(replay_dir) if f.startswith("batch_"))
        assert len(names) == 5
        for i, name in enumerate(names):  # newest first: reversed name order
            t = (2_000_000_000 - i) * 1_000_000_000
            os.utime(os.path.join(replay_dir, name), ns=(t, t))
        assert write_replay_batches(spark, sf, 5) == replay_dir

        def hourly(df):
            return (
                df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                .agg(F.count("*").alias("n"))
                .select(
                    F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("w_start"),
                    "event_type",
                    "n",
                )
            )

        stream = replay_events(spark, sf, replay_dir).withWatermark("ts", "1 hour")
        got = run_stream_to_df(
            spark, hourly(stream), "update", key_cols=["w_start", "event_type"]
        ).toPandas()
    finally:
        shutil.rmtree(replay_dir, ignore_errors=True)
        os.remove(replay_dir + ".lock")
    batch = hourly(load_table(spark, sf, "events")).toPandas()
    assert normalize(got) == normalize(batch)


@pytest.mark.parametrize("k", [1, 5])
def test_transform_with_state_matches_batch(spark, sf_dir, k):
    """transformWithStateInPandas (successor stateful API): per-user
    running stats must equal the batch GROUP BY for any stream split —
    the same contract the applyInPandasWithState form (q48) grades.
    Exercises the full env repro chain: vendored protobuf runtime in the
    workers (compat.ensure_protobuf) + RocksDB state store. Skips with
    the actionable reason when no protobuf runtime exists."""
    from pandas_streaming_spark.compat import tws_ready
    from pandas_streaming_spark.operators.stateful import running_user_stats_tws

    ok, reason = tws_ready()
    if not ok:
        pytest.skip(reason)

    prior = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    replay_dir = write_replay_batches(spark, sf_dir, k)
    stream = replay_events(spark, sf_dir, replay_dir)
    try:
        pdf = run_stream_to_final(
            running_user_stats_tws(stream), "update", key_cols=["user_id"]
        )
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prior)
    from pandas_streaming_spark.catalog import load_table

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.max("value").alias("max_value"),
        )
        .toPandas()
    )
    assert normalize(pdf) == normalize(batch)


@pytest.mark.parametrize("k", [1, 4])
def test_rolling_window_stream_matches_batch_frame(spark, sf_dir, k):
    """window(n=K) with retraction: streaming deque state == batch ROWS
    frame, for any micro-batch split."""
    from pyspark.sql import Window

    from pandas_streaming_spark.catalog import load_table
    from pandas_streaming_spark.operators.stateful import rolling_window_stream

    replay_dir = write_replay_batches(spark, sf_dir, k)
    stream = replay_events(spark, sf_dir, replay_dir)
    got = (
        run_stream_to_final(rolling_window_stream(stream, 3), "append")
        .sort_values(["user_id", "event_id"])
        .reset_index(drop=True)
    )
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(-2, 0)
    exp = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            F.sum("value").over(w).alias("win_sum"),
            F.count("*").over(w).alias("win_count"),
        )
        .toPandas()
        .sort_values(["user_id", "event_id"])
        .reset_index(drop=True)
    )
    assert (got.win_count == exp.win_count).all()
    assert (got.win_sum - exp.win_sum).abs().max() < 1e-9


def test_interval_join_left_outer_stream(spark, sf_dir):
    """Left-outer stream-stream join: purchases with no click in the
    lookback window survive with NULL click columns, and the match set
    equals the batch left-outer interval join.

    Outer-join NULL rows only emit once the watermark passes the left
    row's horizon, so the tail of a finite replay would be withheld —
    the standard fix (used in production too) is a far-future flush
    sentinel that advances the watermark past every real row
    (write_replay_batches(sentinel=True))."""
    from pandas_streaming_spark.catalog import load_table
    from pandas_streaming_spark.streaming.joins import interval_join

    replay_dir = write_replay_batches(spark, sf_dir, 3, sentinel=True)
    purchases = replay_events(spark, sf_dir, replay_dir).filter(
        F.col("event_type") == "purchase"
    )
    clicks = replay_events(spark, sf_dir, replay_dir).filter(
        F.col("event_type") == "click"
    )
    joined = interval_join(
        purchases, clicks, key="user_id", left_time="ts", right_time="ts",
        lookback="1 HOUR", watermark="2 hours", how="leftOuter",
    ).select(
        F.col("l.event_id").alias("purchase_id"),
        F.col("r.event_id").alias("click_id"),
    )
    got = run_stream_to_final(joined, "append")
    got = got[got.purchase_id >= 0]  # drop the sentinel's own row

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").alias("p")
    c = ev.filter(F.col("event_type") == "click").alias("c")
    exp = (
        p.join(
            c,
            on=(
                (F.col("p.user_id") == F.col("c.user_id"))
                & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR"))
                & (F.col("c.ts") <= F.col("p.ts"))
            ),
            how="left",
        )
        .select(
            F.col("p.event_id").alias("purchase_id"),
            F.col("c.event_id").alias("click_id"),
        )
        .toPandas()
    )
    key = lambda df: sorted(
        (int(a), -1 if pd.isna(b) else int(b))
        for a, b in zip(df.purchase_id, df.click_id)
    )
    assert key(got) == key(exp)


def test_ewm_stream_matches_pandas(spark, sf_dir):
    """ewm operator: streaming fold over any split == pandas ewm(adjust=True)."""
    from pandas_streaming_spark.operators.stateful import ewm_stream

    replay_dir = write_replay_batches(spark, sf_dir, 3)
    stream = replay_events(spark, sf_dir, replay_dir)
    got = (
        run_stream_to_final(ewm_stream(stream, alpha=0.5), "append")
        .sort_values(["user_id", "event_id"])
        .reset_index(drop=True)
    )
    from pandas_streaming_spark.catalog import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])  # event-TIME fold order
    )
    expected = (
        ev.assign(
            ewm_value=ev.groupby("user_id")["value"].transform(
                lambda s: s.ewm(alpha=0.5, adjust=True).mean()
            )
        )
        .drop(columns=["value", "ts"])
        .sort_values(["user_id", "event_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["user_id", "event_id", "ewm_value"]],
        expected[["user_id", "event_id", "ewm_value"]],
        check_dtype=False,
        atol=1e-9,
    )


def test_checkpoint_recovery_exactly_once(spark, sf_dir):
    """Stop/restart against the same checkpoint reprocesses nothing.

    Production restart semantics (SURVEY.md §2.5 watermark/recovery row):
    the file source's offset log in the checkpoint records which input
    files each micro-batch consumed, so a restarted query resumes after
    the last committed batch. We run an append-mode projection over 3
    files, stop, drop 3 more files in, restart with the SAME checkpoint,
    and assert every event_id appears exactly once across both runs —
    phase-1 files are not re-emitted, phase-2 files are not missed.
    """
    import os
    import shutil

    from pandas_streaming_spark.catalog import load_table
    from pandas_streaming_spark.streaming.replay import (
        SCRATCH,
        _fresh_dir,
        write_replay_batches,
    )

    src = write_replay_batches(spark, sf_dir, 6)  # 6 immutable split files
    in_dir = _fresh_dir("ckpt-in")
    chkpt = _fresh_dir("ckpt-log")
    spill = _fresh_dir("ckpt-out")
    files = sorted(os.listdir(src))
    files = [f for f in files if f.endswith(".parquet")]
    assert len(files) == 6

    schema = load_table(spark, sf_dir, "events").schema

    def run_once() -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
            .select("event_id")
        )
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(
                lambda bdf, bid: bdf.write.mode("append").parquet(spill)
            )
            .option("checkpointLocation", chkpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        for f in files[:3]:
            shutil.copy(os.path.join(src, f), os.path.join(in_dir, f))
        run_once()
        phase1 = spark.read.parquet(spill).count()
        for f in files[3:]:
            shutil.copy(os.path.join(src, f), os.path.join(in_dir, f))
        run_once()  # same checkpoint: must resume, not replay

        got = spark.read.parquet(spill).groupBy("event_id").count()
        dupes = got.filter(F.col("count") > 1).count()
        total = got.count()
        expected = load_table(spark, sf_dir, "events").count()
        assert dupes == 0, f"{dupes} event_ids emitted more than once"
        assert total == expected
        assert 0 < phase1 < expected  # phase 1 really was a partial run
    finally:
        for d in (in_dir, chkpt, spill):
            shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("k", [1, 8])
def test_funnel_stream_split_invariance(spark, sf_dir, k):
    """The stateful streaming funnel must equal the batch funnel operator
    for any micro-batch split (q98 covers k=5 vs the SQL oracle; this
    pins k=1 and k=20 against operators.funnel directly)."""
    from pandas_streaming_spark.operators.funnel import funnel_counts
    from pandas_streaming_spark.operators.stateful import funnel_stream
    from pandas_streaming_spark.catalog import load_table

    stages = ["signup", "view", "click", "purchase"]
    replay_dir = write_replay_batches(spark, sf_dir, k)
    stream = replay_events(spark, sf_dir, replay_dir)
    out = run_stream_to_final(
        funnel_stream(stream, stages), "update", key_cols=["user_id"]
    )
    # reached-stage histogram -> per-stage reach counts
    got = {
        s: int((out["n_stages"] >= i + 1).sum()) for i, s in enumerate(stages)
    }
    batch = {
        r["stage"]: r["n_users"]
        for r in funnel_counts(load_table(spark, sf_dir, "events"), stages).collect()
    }
    assert got == batch


@pytest.mark.parametrize("k", [1, 8])
def test_cusum_stream_split_invariance(spark, sf_dir, k):
    """Streaming CUSUM must equal the batch q219 trajectory summary for
    any micro-batch split (q229 covers k=5 vs the recursive-CTE oracle;
    this pins k=1 and k=20 against the graded batch query directly)."""
    from pandas_streaming_spark.operators.stateful import cusum_stream
    from pandas_streaming_spark.queries.timeseries import q219_cusum_drift

    replay_dir = write_replay_batches(spark, sf_dir, k)
    stream = replay_events(spark, sf_dir, replay_dir).filter(
        F.col("event_type") == "purchase"
    )
    out = run_stream_to_final(
        cusum_stream(stream), "update", key_cols=["user_id"]
    )
    got = {
        int(r.user_id): (
            int(r.n_steps), int(r.final_stat), int(r.max_stat),
            int(r.n_alarms), int(r.n_resets),
        )
        for r in out.itertuples()
    }
    batch = {
        r["user_id"]: (
            r["n_steps"], r["final_stat"], r["max_stat"],
            r["n_alarms"], r["n_resets"],
        )
        for r in q219_cusum_drift(spark, sf_dir).collect()
    }
    assert got == batch
