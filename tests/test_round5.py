"""Round-5 operator tests: quantile binning, incremental dedup,
explicit-partition spool production (the units behind q112–q116)."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from pyspark.sql import functions as F

from pandas_streaming_spark.catalog import load_table


def test_percentile_bins_exact_quarters(spark):
    """100 distinct values, quartile probs → four bins of exactly 25
    (boundaries fall ON values; boundary rows go to the lower bin)."""
    from pandas_streaming_spark.operators.quantiles import percentile_bins

    df = spark.range(100).select(F.col("id").alias("v"))
    out = (
        percentile_bins(df, "v", [0.25, 0.5, 0.75])
        .groupBy("bin")
        .count()
        .orderBy("bin")
        .collect()
    )
    assert [(r["bin"], r["count"]) for r in out] == [
        (0, 25),
        (1, 25),
        (2, 25),
        (3, 25),
    ]


def test_percentile_bins_no_global_sort(spark, sf_dir):
    """The binning plan must not contain a global single-partition sort
    or window — boundaries broadcast, assignment stays narrow."""
    from pandas_streaming_spark.operators.quantiles import percentile_bins
    from pandas_streaming_spark.plans import physical_plan

    docs = load_table(spark, sf_dir, "documents")
    plan = physical_plan(percentile_bins(docs, "n_chars", [0.25, 0.5, 0.75]))
    # the binding check: no Window (ntile's shape) and no full-frame Sort
    assert "Window" not in plan
    assert "Sort " not in plan
    assert "BroadcastExchange" in plan  # the boundary row rides a broadcast


def test_group_quantiles_matches_pandas(spark, sf_dir):
    from pandas_streaming_spark.operators.quantiles import group_quantiles

    docs = load_table(spark, sf_dir, "documents")
    got = (
        group_quantiles(docs, "lang", "n_chars", [0.25, 0.5, 0.75])
        .orderBy("lang")
        .toPandas()
    )
    pdf = docs.select("lang", "n_chars").toPandas()
    for _, row in got.iterrows():
        grp = pdf[pdf["lang"] == row["lang"]]["n_chars"]
        for p, col in [(0.25, "p25"), (0.5, "p50"), (0.75, "p75")]:
            assert row[col] == pytest.approx(grp.quantile(p), abs=1e-9)


def test_approx_quantile_audit_partition_invariant(spark, sf_dir):
    """The audit's deterministic outputs (n, exact) and the guarantee
    boolean must hold for wildly different partitionings, even though
    the underlying sketch value may move."""
    from pandas_streaming_spark.operators.quantiles import approx_quantile_audit

    docs = load_table(spark, sf_dir, "documents")
    results = [
        approx_quantile_audit(d, "n_chars", 0.5, 1000).collect()[0]
        for d in (docs.repartition(1), docs.repartition(13))
    ]
    assert results[0]["n"] == results[1]["n"]
    assert results[0]["exact"] == results[1]["exact"]
    assert all(r["rank_err_ok"] for r in results), results


def test_dedup_against_corpus_flags(spark):
    """Exact dup and high-overlap docs are flagged; disjoint text is
    kept. Shingle k=2 keeps the fixture tiny."""
    from pandas_streaming_spark.operators.dedup import dedup_against_corpus

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "entirely different corpus text about spark engines"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),  # exact
            (11, "completely unrelated words nothing shared here"),
            (12, "the quick brown fox jumps over the lazy cat"),  # near
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["is_dup"]
        for r in dedup_against_corpus(new, corpus, k=2, threshold=0.5).collect()
    }
    assert got == {10: True, 11: False, 12: True}


def test_dedup_against_corpus_plan_no_cross_product(spark, sf_dir):
    """The shard×corpus meeting point must be the shingle inverted-index
    join — never a cartesian/broadcast-nested-loop pair scan."""
    from pandas_streaming_spark.operators.dedup import dedup_against_corpus
    from pandas_streaming_spark.plans import physical_plan

    docs = load_table(spark, sf_dir, "documents")
    plan = physical_plan(
        dedup_against_corpus(
            docs.filter(F.col("doc_id") % 5 == 0),
            docs.filter(F.col("doc_id") % 5 != 0),
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_against_corpus_empty_shard(spark):
    from pandas_streaming_spark.operators.dedup import dedup_against_corpus

    corpus = spark.createDataFrame(
        [(1, "some corpus text")], "doc_id long, text string"
    )
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert dedup_against_corpus(empty, corpus).count() == 0


def test_api_facade_round5_methods(spark, sf_dir):
    """The StreamingFrame facade exposes the round-5 ops (reference-API
    parity: resample / interpolate / quantile delegate to operators)."""
    from pandas_streaming_spark.api import StreamingFrame

    ev = StreamingFrame(load_table(spark, sf_dir, "events"))
    q = ev.quantile("value", [0.25, 0.5, 0.75]).collect()[0]
    assert q["p25"] <= q["p50"] <= q["p75"]

    rs = ev.resample("ts", {"n": F.count("*").cast("long")}).collect()
    assert all(r["n"] is not None and r["n"] >= 1 for r in rs)

    docs = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", F.when(F.col("event_id") % 2 == 0, F.col("value")).alias("v")
    )
    interp = StreamingFrame(docs).interpolate("user_id", "ts", "v").df
    assert "interp_e4" in interp.columns


def test_resample_ffill_gap_semantics(spark):
    """Gaps carry the last observed value with filled=True; buckets
    before the first observation stay NULL (caller zero-fills)."""
    from pandas_streaming_spark.operators.resample import resample_ffill

    df = spark.createDataFrame(
        [
            ("2024-01-01 02:15:00", 10.0),
            ("2024-01-01 05:40:00", 20.0),
        ],
        "ts_s string, v double",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "v")
    bounds = spark.createDataFrame(
        [("2024-01-01 00:30:00",), ("2024-01-01 06:30:00",)], "ts_s string"
    ).select(F.col("ts_s").cast("timestamp").alias("ts"))
    out = {
        r["bucket"].hour: (r["n"], r["filled"])
        for r in resample_ffill(
            bounds, df, "ts", {"n": F.count("*").cast("long")}, "1 hour"
        ).collect()
    }
    assert len(out) == 7  # 00..06 spine from bounds, not data
    assert out[0] == (None, True) and out[1] == (None, True)  # leading gap
    assert out[2] == (1, False)
    assert out[3] == (1, True) and out[4] == (1, True)  # carried forward
    assert out[5] == (1, False)
    assert out[6] == (1, True)


def test_interpolate_tied_timestamps_no_div_zero(spark):
    """Neighboring observations at the SAME timestamp must not abort the
    job under ANSI mode (zero gap carries the previous observation) —
    regression for the 10x-replica probe finding."""
    import datetime as dt

    from pandas_streaming_spark.operators.resample import interpolate_linear

    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 1, 1, 1)
    rows = [
        (0, t0, 10.0),
        (0, t0, 20.0),   # tied with the first observation
        (0, t1, None),   # trailing NULL: stays NULL (no next)
        (1, t0, 5.0),
        (1, t0, None),   # tied gap between two observations at t0
        (1, t0, 7.0),
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
    got = interpolate_linear(df, "k", "ts", "v").collect()
    by_k = {}
    for r in got:
        by_k.setdefault(r["k"], []).append(r["interp_e4"])
    assert sorted(x for x in by_k[0] if x is not None) == [100000, 200000]
    assert None in by_k[0]  # the trailing NULL
    # observed rows keep their values; the tied NULL row either carries a
    # neighboring observation or stays NULL if it sorted first among the
    # ties (row-frame order within exact ties is arbitrary) — the pinned
    # property is NO CRASH and no invented values
    assert len(by_k[1]) == 3
    assert all(x in (None, 50000, 70000) for x in by_k[1]), by_k[1]
    assert 50000 in by_k[1] and 70000 in by_k[1]


def test_twap_matches_reference(spark, sf_dir):
    """q125's TWAP == a direct pandas computation of
    sum(cents*dur)/sum(dur) per user on the real fixture."""
    from pandas_streaming_spark.queries import QUERIES

    got = {
        r["user_id"]: r["twap_e4_cents"]
        for r in QUERIES["q125_time_weighted_avg"](spark, sf_dir).collect()
    }
    pdf = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "value")
        .toPandas()
        .sort_values(["user_id", "event_id"])
    )
    import math

    for uid, grp in pdf.groupby("user_id"):
        cents = (grp["value"] * 100).round().astype("int64").tolist()
        ts_us = (grp["ts"].astype("int64") // 1000).tolist()
        num = sum(
            c * (ts_us[i + 1] - ts_us[i]) for i, c in enumerate(cents[:-1])
        )
        den = ts_us[-1] - ts_us[0]
        expected = math.floor(1e4 * num / den + 0.5)
        assert got[uid] == expected, (uid, got[uid], expected)


def test_session_flush_tws_split_invariance(spark, sf_dir):
    """Timer-finalized sessionization must converge to the same
    per-user session table for any micro-batch split AND match the
    batch session_window computation (q45 contract)."""
    from pandas_streaming_spark.compat import tws_ready
    from pandas_streaming_spark.operators.stateful import session_flush_tws
    from pandas_streaming_spark.streaming.replay import (
        SENTINEL_USER,
        replay_events,
        run_stream_to_df,
        write_replay_batches,
    )

    if not tws_ready()[0]:
        pytest.skip("no protobuf runtime")

    def sessions_for(k: int):
        d = write_replay_batches(spark, sf_dir, k, sentinel=True)
        out = run_stream_to_df(
            spark,
            session_flush_tws(
                replay_events(spark, sf_dir, d), gap_minutes=30
            ),
            "append",
            state_partitions=3,
        )
        return sorted(
            (r["user_id"], r["n_events"])
            for r in out.filter(F.col("user_id") != SENTINEL_USER).collect()
        )

    batch = load_table(spark, sf_dir, "events")
    expected = sorted(
        (r["user_id"], r["n"])
        for r in batch.groupBy(
            F.session_window("ts", "30 minutes"), "user_id"
        )
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert sessions_for(1) == expected
    assert sessions_for(5) == expected


def test_bench_compact_line_bounded():
    """The driver captures only a ~2000-char stdout tail; round 4's
    official bench record was lost to an oversized final line. Pin the
    contract: the compact line stays under 1500 chars even with a
    maximally fat result (all sections present, all 14 medians)."""
    import json
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from bench import HEADLINE, compact_line

    fat = {
        "value": 9999.9999,
        "sf": 0.1,
        "protocol": "median-of-5",
        "streaming": {"events_per_sec": 123456789},
        "scaled100": {
            "value": 99999.9999,
            "bucketed": {"q04_bucketed_sec": 12345.6789},
        },
    }
    times = {name: 12345.6789 for name in HEADLINE}
    line = compact_line(fat, times, "BENCH_FULL_r99.json")
    assert len(line) < 1500, len(line)
    parsed = json.loads(line)
    assert parsed["metric"] == "suite_seconds"
    assert len(parsed["queries"]) == len(HEADLINE)


def test_produce_distributed_explicit_routing(spark, tmp_path):
    """Records land in the partition the caller dictates, in order_col
    order, with contiguous offsets — and the driver never materializes
    the payload (only the per-partition summary)."""
    from pandas_streaming_spark.sources.kafka_spool import (
        _complete_lines,
        _decode,
        produce_distributed,
    )

    df = spark.createDataFrame(
        [(f"k{i % 3}", f"v{i:03d}", 1000 + i, i % 3, i) for i in range(30)],
        "key string, value string, ts_ms long, partition int, ord long",
    )
    spool = str(tmp_path / "spool")
    produce_distributed(df, spool, "t", order_col="ord")
    logs = sorted(os.listdir(os.path.join(spool, "t")))
    assert logs == ["p00000.log", "p00001.log", "p00002.log"]
    for pid, log in enumerate(logs):
        lines = _complete_lines(os.path.join(spool, "t", log))
        rows = [_decode(l, "t", pid, off) for off, l in enumerate(lines)]
        # all rows routed here carry partition == pid and ascend in ord
        vals = [r[1].decode() for r in rows]
        assert vals == sorted(vals)
        assert all(int(v[1:]) % 3 == pid for v in vals)
        assert [r[4] for r in rows] == list(range(len(rows)))  # offsets


def test_resample_multi_unit_intervals_conserve_rows(spark):
    """VERDICT r5 'what's wrong' item 1: date_trunc-based bucketing with
    "2 hour" / "30 minutes" put rows in buckets the spine never visits,
    silently dropping them. The epoch-anchored fix must conserve every
    row and keep the spine aligned; unfixable calendar multiples are
    rejected loudly."""
    import pytest as _pytest

    from pandas_streaming_spark.operators.resample import resample_ffill

    rows = [
        ("2024-01-01 01:15:00", 1.0),  # odd hour — dropped pre-fix
        ("2024-01-01 02:10:00", 2.0),
        ("2024-01-01 03:59:00", 3.0),
        ("2024-01-01 06:01:00", 4.0),
    ]
    df = spark.createDataFrame(rows, "ts_s string, v double").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "v"
    )
    for interval, n_buckets in [("2 hours", 4), ("30 minutes", 11)]:
        out = resample_ffill(
            df, df, "ts", {"n": F.count("*").cast("long")}, interval
        ).collect()
        assert len(out) == n_buckets, interval
        observed = sum(r["n"] for r in out if not r["filled"])
        assert observed == len(rows), f"{interval} dropped rows"
    with _pytest.raises(ValueError, match="fixed-width"):
        resample_ffill(df, df, "ts", {"n": F.count("*")}, "2 months")
    with _pytest.raises(ValueError, match="interval"):
        resample_ffill(df, df, "ts", {"n": F.count("*")}, "hourly")
