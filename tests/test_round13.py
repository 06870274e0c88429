"""Round-13 regression tests.

1. ``functions.hb_sql`` — the half-bit quantization is exact over the FULL
   BIGINT range (the former ``length(bin(c*c))`` form wrapped past
   c ≈ 3.03e9; ADVICE r12 item 3).
2. Short-document guards — 1-word / <5-token / 1-char docs used to crash
   q290 (element_at index 0 under the descending ``sequence(1, 0)``) or
   silently diverge from the oracle in q307/q189 (ADVICE r12 items 1-2).
   Both engines are run over a corpus salted with exactly those docs.
"""

from __future__ import annotations

import os
import random

import pandas as pd
import pytest

from pandas_streaming_spark.compare import compare_frames, duckdb_connect


def test_hb_sql_exact_full_range(spark):
    from pandas_streaming_spark.functions import hb_sql

    vals = [
        1, 2, 3, 5, 6, 1023, 1024, 1025,
        3_030_000_000, 3_037_000_499, 3_037_000_500,  # the old wrap point
        4_000_000_000, 10**12, 10**15,
        2**62 - 1, 2**62, 2**63 - 1,
    ]
    rng = random.Random(13)
    vals += [rng.randrange(1, 2**63) for _ in range(300)]
    df = spark.createDataFrame([(v,) for v in vals], "x bigint")
    for r in df.selectExpr("x", f"{hb_sql('x')} AS hb").collect():
        assert r.hb == (r.x * r.x).bit_length() - 1, r.x


@pytest.fixture(scope="module")
def shortdoc_sf_dir(tmp_path_factory):
    """sf0.001 with four pathological docs appended: 1-word en, 1-word
    non-en, 4-token, and 1-char text."""
    from pandas_streaming_spark.catalog import TABLES

    src = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("shortdocs")
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{src}/{t}.parquet", d / f"{t}.parquet")
    docs = pd.read_parquet(f"{src}/documents.parquet")
    mx = int(docs["doc_id"].max())
    extra = pd.DataFrame(
        {
            "doc_id": [mx + 1, mx + 2, mx + 3, mx + 4],
            "text": ["solitary", "einzeln", "only four tokens here", "x"],
            "lang": ["en", "de", "en", "en"],
            "source": ["web", "web", "books", "web"],
        }
    )
    extra["n_chars"] = extra["text"].str.len().astype("int64")
    out = pd.concat([docs, extra], ignore_index=True)
    out.to_parquet(d / "documents.parquet", index=False)
    return str(d)


@pytest.mark.parametrize(
    "name",
    [
        "q189_duplicated_spans",
        "q282_heaps_curve",
        "q290_perplexity_buckets",
        "q307_crawl_saturation",
    ],
)
def test_short_docs_match_oracle(spark, shortdoc_sf_dir, name):
    from pandas_streaming_spark.queries import ORACLES, QUERIES

    con = duckdb_connect(shortdoc_sf_dir)
    got = QUERIES[name](spark, shortdoc_sf_dir).toPandas()
    want = con.execute(ORACLES[name]).df()
    r = compare_frames(name, got, want)
    assert r.ok, r.detail


def test_verified_pairs_materializes_once_and_matches_kernel(spark, sf_dir):
    """The report family's pair frame: first call computes + commits via
    the MERGE sink, later calls serve the committed snapshot, and the
    stored rows equal a fresh kernel run (VERDICT r12 item 2)."""
    import shutil

    from pandas_streaming_spark.catalog import load_table
    from pandas_streaming_spark.queries.dedup_q import (
        _neardup_pairs,
        _pairs_dir,
        verified_pairs,
    )
    from pandas_streaming_spark.streaming.upsert import KeyedUpsertSink

    base = _pairs_dir(sf_dir, 8000)
    shutil.rmtree(base, ignore_errors=True)
    first = {tuple(r) for r in verified_pairs(spark, sf_dir, 8000).collect()}
    sink = KeyedUpsertSink(base, key_cols=["id_a", "id_b"], seq_cols=["jac_e4"])
    assert sink.versions() == [1]  # committed exactly once
    again = {tuple(r) for r in verified_pairs(spark, sf_dir, 8000).collect()}
    assert sink.versions() == [1]  # second call did NOT recompute/commit
    kernel = {
        tuple(r)
        for r in _neardup_pairs(
            load_table(spark, sf_dir, "documents"), 8000
        ).collect()
    }
    assert first == again == kernel and len(first) > 0


def test_verified_pairs_fingerprint_tracks_corpus(sf_dir):
    from pandas_streaming_spark.queries.dedup_q import _pairs_dir

    assert _pairs_dir("/root/testdata/sf0.001", 8000) != _pairs_dir(
        "/root/testdata/sf0.01", 8000
    )


def test_q308_batch_split_invariance(spark, sf_dir):
    """The streaming bucket-claim's min-doc_id semantics make the final
    flag set independent of how the replay is split into micro-batches
    (the repo's core streaming grading contract, k in {1, 5, 8} — r16
    trimmed the 20-way leg: split-count invariance is the property, and
    8 batches crosses the same claim/merge boundaries at 40% of the
    replay cost)."""
    from pandas_streaming_spark.queries.streaming_q import (
        q308_stream_neardup_dedup,
    )

    base = [tuple(r) for r in q308_stream_neardup_dedup(spark, sf_dir, 5).collect()]
    assert base and sum(r[2] for r in base) > 0  # some docs are flagged
    for k in (1, 8):
        got = [
            tuple(r)
            for r in q308_stream_neardup_dedup(spark, sf_dir, k).collect()
        ]
        assert got == base, f"k={k} diverged"


def test_foreachbatch_exactly_once_under_injected_crash(spark, sf_dir):
    """ENGINE-LEVEL exactly-once proof for the foreachBatch MERGE sink
    (VERDICT r12 item 8's named candidate): the callback commits batch 2
    to the sink and then dies — the failure window AFTER the idempotent
    commit but BEFORE Spark records the batch in its own commit log, the
    exact window where a non-idempotent sink double-applies. The
    restarted query (same checkpoint) re-delivers batch 2; the sink's
    _HEAD batch-id fence skips the duplicate; the final table equals the
    one-shot batch latest-per-key answer and the version chain shows one
    commit per DISTINCT batch."""
    import shutil

    import pytest as _pytest
    from pyspark.sql import Window
    from pyspark.sql import functions as FF

    from pandas_streaming_spark.catalog import load_table
    from pandas_streaming_spark.streaming.replay import (
        _fresh_dir,
        replay_events,
        write_replay_batches,
    )
    from pandas_streaming_spark.streaming.upsert import KeyedUpsertSink

    replay_dir = write_replay_batches(spark, sf_dir, 5)
    sink = KeyedUpsertSink(
        _fresh_dir("upsert-chaos"), ["user_id"], ["ts", "event_id"], num_buckets=4
    )
    chkpt = _fresh_dir("chkpt-chaos")
    calls: list[int] = []
    crashed = {"done": False}

    def cb(df, bid):
        calls.append(bid)
        sink(df, bid)
        if bid == 2 and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected post-commit crash")

    def run():
        q = (
            replay_events(spark, sf_dir, replay_dir)
            .writeStream.outputMode("append")
            .foreachBatch(cb)
            .option("checkpointLocation", chkpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        with _pytest.raises(Exception, match="injected|Terminated|foreach"):
            run()
        run()  # restart from the same checkpoint
        assert crashed["done"] and calls.count(2) == 2  # batch 2 re-delivered
        assert sorted(set(calls)) == [0, 1, 2, 3, 4]
        assert len(sink.versions()) == 5  # one commit per DISTINCT batch

        ev = load_table(spark, sf_dir, "events")
        w = Window.partitionBy("user_id").orderBy(
            FF.col("ts").desc(), FF.col("event_id").desc()
        )
        want = {
            (r["user_id"], r["event_type"], round(r["value"], 2))
            for r in ev.withColumn("__rn", FF.row_number().over(w))
            .filter(FF.col("__rn") == 1)
            .collect()
        }
        got = {
            (r["user_id"], r["event_type"], round(r["value"], 2))
            for r in sink.read(spark).collect()
        }
        assert got == want
    finally:
        sink.close()
        shutil.rmtree(chkpt, ignore_errors=True)


def test_registry_plan_audit_clean(spark, sf_dir):
    """Registry-wide plan-shape regression harness (VERDICT r12 item 8):
    every batch entry's physical plan is free of CartesianProduct and
    row-at-a-time Python outside the declared contract rows — the
    bench's global invariant as a per-entry assertion that names the
    offender."""
    from pandas_streaming_spark.plans import audit_registry

    assert audit_registry(spark, sf_dir) == {}
