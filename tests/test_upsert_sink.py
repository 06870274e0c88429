"""KeyedUpsertSink (streaming/upsert.py): MERGE semantics, split
invariance, idempotent re-delivery, and the dirty-bucket-only rewrite
property that makes per-batch cost O(batch), not O(table)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from pandas_streaming_spark.streaming.replay import (
    _fresh_dir,
    replay_events,
    write_replay_batches,
)
from pandas_streaming_spark.streaming.upsert import KeyedUpsertSink


def _run_replay_upsert(spark, sf_dir: str, k: int) -> list[tuple]:
    replay_dir = write_replay_batches(spark, sf_dir, k)
    stream = replay_events(spark, sf_dir, replay_dir)
    sink = KeyedUpsertSink(
        _fresh_dir("upsert-test"), ["user_id"], ["ts", "event_id"], num_buckets=4
    )
    chkpt = _fresh_dir("chkpt-upsert")
    try:
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", chkpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            (r["user_id"], r["event_id"])
            for r in sink.read(spark).select("user_id", "event_id").collect()
        )
    finally:
        sink.close()
        shutil.rmtree(chkpt, ignore_errors=True)


@pytest.mark.parametrize("k", [1, 8])
def test_upsert_split_invariance(spark, sf_dir, k):
    """Final table == batch latest-per-key for any micro-batch split
    (q140 covers k=5 vs the duckdb oracle)."""
    from pandas_streaming_spark.catalog import load_table
    from pyspark.sql import Window

    got = _run_replay_upsert(spark, sf_dir, k)
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = sorted(
        (r["user_id"], r["event_id"])
        for r in ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id")
        .collect()
    )
    assert got == want


def test_upsert_idempotent_redelivery(spark):
    """Re-delivering an already-committed batch id is a no-op (the
    foreachBatch retry contract)."""
    sink = KeyedUpsertSink(_fresh_dir("upsert-idem"), ["k"], ["seq"], num_buckets=2)
    b0 = spark.createDataFrame([(1, 10, "a"), (2, 10, "b")], "k long, seq long, v string")
    b1 = spark.createDataFrame([(1, 20, "c")], "k long, seq long, v string")
    sink(b0, 0)
    sink(b1, 1)
    v_after = sink._read_head()["version"]
    sink(b1, 1)  # re-delivery
    sink(b0, 0)  # very late re-delivery
    head = sink._read_head()
    assert head["version"] == v_after  # no new versions written
    got = {r["k"]: (r["seq"], r["v"]) for r in sink.read(spark).collect()}
    assert got == {1: (20, "c"), 2: (10, "b")}
    sink.close()


def test_upsert_out_of_order_seq_keeps_latest(spark):
    """A later batch carrying an OLDER sequence number must lose to the
    committed newer row (last-writer-wins is by seq, not arrival)."""
    sink = KeyedUpsertSink(_fresh_dir("upsert-ooo"), ["k"], ["seq"], num_buckets=2)
    sink(spark.createDataFrame([(1, 100, "new")], "k long, seq long, v string"), 0)
    sink(spark.createDataFrame([(1, 50, "stale")], "k long, seq long, v string"), 1)
    got = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert got == {1: "new"}
    sink.close()


def test_upsert_rewrites_only_dirty_buckets(spark):
    """A batch touching one key leaves every clean bucket's directory
    untouched in the manifest — the O(batch) per-batch cost claim."""
    sink = KeyedUpsertSink(_fresh_dir("upsert-dirty"), ["k"], ["seq"], num_buckets=8)
    big = spark.range(200).select(
        F.col("id").alias("k"),
        F.lit(1).cast("long").alias("seq"),
        F.lit("x").alias("v"),
    )
    sink(big, 0)
    m0 = sink._load_manifest(sink._read_head()["version"])
    assert len(m0) == 8  # all buckets populated
    one = spark.createDataFrame([(5, 2, "y")], "k long, seq long, v string")
    sink(one, 1)
    m1 = sink._load_manifest(sink._read_head()["version"])
    changed = [b for b in m0 if m0[b] != m1[b]]
    assert len(changed) == 1  # exactly the touched key's bucket
    # untouched directories still exist and are byte-identical paths
    for b in m0:
        if b not in changed:
            assert os.path.isdir(m1[b]) and m1[b] == m0[b]
    # and the merged value won
    got = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert got[5] == "y" and got[6] == "x" and len(got) == 200
    sink.close()


def test_upsert_time_travel_versions(spark):
    """read(version=N) == state after the first N batches; bad versions
    raise."""
    sink = KeyedUpsertSink(_fresh_dir("upsert-tt-unit"), ["k"], ["seq"], num_buckets=2)
    sink(spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], "k long, seq long, v string"), 0)
    sink(spark.createDataFrame([(1, 2, "c")], "k long, seq long, v string"), 1)
    sink(spark.createDataFrame([(3, 1, "d")], "k long, seq long, v string"), 2)
    v1 = {r["k"]: r["v"] for r in sink.read(spark, version=1).collect()}
    v2 = {r["k"]: r["v"] for r in sink.read(spark, version=2).collect()}
    v3 = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert v1 == {1: "a", 2: "b"}
    assert v2 == {1: "c", 2: "b"}
    assert v3 == {1: "c", 2: "b", 3: "d"}
    with pytest.raises(ValueError):
        sink.read(spark, version=99)
    sink.close()


def test_upsert_empty_batch_still_versions(spark):
    """An empty batch commits an unchanged-manifest version, so version N
    always means 'after N batches'."""
    sink = KeyedUpsertSink(_fresh_dir("upsert-empty"), ["k"], ["seq"], num_buckets=2)
    sink(spark.createDataFrame([(1, 1, "a")], "k long, seq long, v string"), 0)
    sink(spark.createDataFrame([], "k long, seq long, v string"), 1)
    sink(spark.createDataFrame([(2, 1, "b")], "k long, seq long, v string"), 2)
    head = sink._read_head()
    assert head["version"] == 3
    assert {r["k"] for r in sink.read(spark, version=2).collect()} == {1}
    sink.close()


def test_upsert_vacuum_reclaims_old_versions(spark):
    """vacuum(keep_last=1) removes unreferenced version dirs, keeps the
    current snapshot readable, and drops time travel beyond the kept
    window."""
    import os as _os

    sink = KeyedUpsertSink(_fresh_dir("upsert-vac"), ["k"], ["seq"], num_buckets=1)
    for i in range(4):  # one bucket -> every batch rewrites it
        sink(
            spark.createDataFrame([(1, i, f"v{i}")], "k long, seq long, v string"), i
        )
    all_dirs = {
        _os.path.dirname(p)
        for v in sink.versions()
        for p in sink._load_manifest(v).values()
    }
    assert len(all_dirs) == 4
    removed = sink.vacuum(keep_last=1)
    assert removed == 3
    assert sink.versions() == [4]
    assert {r["v"] for r in sink.read(spark).collect()} == {"v3"}
    with pytest.raises(ValueError):
        sink.read(spark, version=1)
    sink.close()


def test_upsert_changes_between_versions(spark):
    """changes(from, to) == new + changed keys only (CDC semantics)."""
    sink = KeyedUpsertSink(_fresh_dir("upsert-chg"), ["k"], ["seq"], num_buckets=2)
    sink(spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")], "k long, seq long, v string"), 0)
    sink(spark.createDataFrame(
        [(2, 2, "b2"), (4, 1, "d")], "k long, seq long, v string"), 1)
    got = sorted(
        (r["k"], r["v"])
        for r in sink.changes(spark, from_version=1).collect()
    )
    assert got == [(2, "b2"), (4, "d")]  # changed key 2, new key 4; 1,3 silent
    # identical snapshots -> empty delta
    assert sink.changes(spark, from_version=2, to_version=2).count() == 0
    sink.close()


def test_upsert_vacuum_bucket_granular_and_guard(spark):
    """ADVICE r5 item 3: vacuum(0) errors instead of silently keeping
    everything, and partially-referenced version dirs reclaim their dead
    __bucket subdirs (bucket-granular GC), keeping live buckets intact."""
    import os as _os

    sink = KeyedUpsertSink(_fresh_dir("upsert-vac2"), ["k"], ["seq"], num_buckets=2)
    # batch 0 writes both buckets; batch 1 rewrites ONLY key 1's bucket,
    # so version-0's dir stays partially referenced by the kept manifest
    sink(spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "b")], "k long, seq long, v string"), 0)
    sink(spark.createDataFrame([(1, 2, "a2")], "k long, seq long, v string"), 1)
    with pytest.raises(ValueError, match="keep_last"):
        sink.vacuum(keep_last=0)
    live = set(sink._load_manifest(sink.versions()[-1]).values())
    dead = {
        p for v in sink.versions()
        for p in sink._load_manifest(v).values() if p not in live
    }
    assert dead, "fixture must create at least one dead bucket"
    removed = sink.vacuum(keep_last=1)
    assert removed == len(dead)
    assert all(not _os.path.exists(p) for p in dead)
    assert all(_os.path.exists(p) for p in live)
    assert {r["v"] for r in sink.read(spark).collect()} == {"a2", "b"}
    sink.close()


def test_upsert_compact_preserves_snapshot_and_history(spark):
    """compact() is a pure maintenance commit: identical snapshot, one
    file per bucket afterwards, pre-compaction versions still
    time-travelable, stream batch-id fence unchanged, and vacuum after
    compaction reclaims the old fragmented directories."""
    import os as _os

    sink = KeyedUpsertSink(_fresh_dir("upsert-cpt"), ["k"], ["seq"], num_buckets=2)
    for i in range(4):
        sink(
            spark.createDataFrame(
                [(j, i, f"b{i}r{j}") for j in range(6)], "k long, seq long, v string"
            ),
            i,
        )
    pre = sorted(map(tuple, sink.read(spark).collect()))
    v_pre = sink.versions()[-1]
    before, after = sink.compact(spark)
    assert after <= sink.num_buckets and before >= after
    assert sorted(map(tuple, sink.read(spark).collect())) == pre
    # maintenance commit: new version, same batch fence
    assert sink.versions()[-1] == v_pre + 1
    assert sink._read_head()["batch_id"] == 3
    # re-delivery of the last stream batch is still skipped
    sink(spark.createDataFrame([(0, 99, "dup")], "k long, seq long, v string"), 3)
    assert sorted(map(tuple, sink.read(spark).collect())) == pre
    # time travel to the pre-compaction version still works
    assert sorted(map(tuple, sink.read(spark, version=v_pre).collect())) == pre
    removed = sink.vacuum(keep_last=1)
    assert removed > 0
    assert sorted(map(tuple, sink.read(spark).collect())) == pre
    sink.close()


def test_upsert_crash_between_manifest_and_head_heals_forward(spark):
    """Crash-safety under the r15 optimistic-concurrency protocol: the
    COMMIT POINT is the exclusive creation of the per-version manifest
    (the local-fs conditional put), so a crash after the manifest link
    but before the _HEAD write leaves a COMMITTED version with a stale
    pointer. ``_read_head`` must heal the pointer FORWARD to the newest
    manifest — under the old os.replace protocol the orphan was
     'harmless garbage', but under conditional commits an unhealed
    orphan would block its version number forever (every later commit
    of vN would lose the create race against a ghost)."""
    import json as _json
    import os as _os

    sink = KeyedUpsertSink(_fresh_dir("upsert-crash"), ["k"], ["seq"], num_buckets=1)
    sink(spark.createDataFrame([(1, 1, "a")], "k long, seq long, v string"), 0)
    head_v1 = dict(sink._read_head())

    # commit batch 1 for real, then simulate the crash by rolling _HEAD
    # back to v1 by hand (manifest v2 exists, pointer says v1)
    sink(spark.createDataFrame([(1, 2, "b")], "k long, seq long, v string"), 1)
    with open(sink._head_path, "w") as f:
        _json.dump(head_v1, f)

    # healing: the head rolls forward to the committed manifest, the
    # fence comes from the manifest record, and reads serve v2
    healed = sink._read_head()
    assert healed["version"] == 2
    assert healed["batch_ids"] == {"default": 1}
    assert {r["v"] for r in sink.read(spark).collect()} == {"b"}
    # the healed fence still skips a re-delivery of batch 1
    sink(spark.createDataFrame([(1, 9, "dup")], "k long, seq long, v string"), 1)
    assert sink._read_head()["version"] == 2
    # and the next real batch commits v3 on top, no version blocked
    sink(spark.createDataFrame([(1, 3, "c")], "k long, seq long, v string"), 2)
    assert {r["v"] for r in sink.read(spark).collect()} == {"c"}
    assert sink.read(spark, version=1).collect()[0]["v"] == "a"
    sink.close()


def test_upsert_vacuum_removes_marker_only_husks(spark):
    """ADVICE r6 item 3: Spark leaves _SUCCESS/.crc markers in version
    dirs; vacuum must treat marker-only dirs as empty and rmdir them
    instead of accumulating husks forever."""
    import os as _os

    sink = KeyedUpsertSink(_fresh_dir("upsert-husk"), ["k"], ["seq"], num_buckets=1)
    for i in range(3):  # one bucket: every batch fully rewrites it
        sink(
            spark.createDataFrame([(1, i, f"v{i}")], "k long, seq long, v string"), i
        )
    dead_dirs = {
        _os.path.dirname(p)
        for v in sink.versions()[:-1]
        for p in sink._load_manifest(v).values()
    }
    assert dead_dirs
    # simulate Spark's job-commit markers at the version-dir level
    for d in dead_dirs:
        open(_os.path.join(d, "_SUCCESS"), "w").close()
        open(_os.path.join(d, "._SUCCESS.crc"), "w").close()
    sink.vacuum(keep_last=1)
    assert all(not _os.path.exists(d) for d in dead_dirs), (
        "marker-only version dirs must be fully reclaimed")
    assert {r["v"] for r in sink.read(spark).collect()} == {"v2"}
    sink.close()


def test_upsert_reads_use_recorded_schema(spark, jobs_started):
    """Snapshot and time-travel reads take the schema each version
    record stores, so building them starts no Spark job; a record
    without a schema still reads (and merges) through inference."""
    import json

    schema = "k long not null, seq long, ts timestamp, v string"
    sink = KeyedUpsertSink(_fresh_dir("upsert-schema"), ["k"], ["seq"], num_buckets=2)
    t = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    sink(spark.createDataFrame([(1, 1, None, "a"), (2, 1, None, "b")], schema)
         .withColumn("ts", t), 0)
    sink(spark.createDataFrame([(1, 2, None, "c")], schema).withColumn("ts", t), 1)
    latest, latest_jobs = jobs_started(lambda: sink.read(spark))
    v1, v1_jobs = jobs_started(lambda: sink.read(spark, version=1))
    assert latest_jobs == [] and v1_jobs == []
    assert latest.columns == ["k", "seq", "ts", "v"]
    assert dict(latest.dtypes)["ts"] == "timestamp"
    assert {r["k"]: r["v"] for r in latest.collect()} == {1: "c", 2: "b"}
    assert {r["k"]: r["v"] for r in v1.collect()} == {1: "a", 2: "b"}

    path = sink._manifest_path(2)
    with open(path) as f:
        record = json.load(f)
    del record["schema"]
    with open(path, "w") as f:
        json.dump(record, f)
    assert {r["k"]: r["v"] for r in sink.read(spark).collect()} == {1: "c", 2: "b"}
    sink(spark.createDataFrame([(2, 2, None, "d")], schema).withColumn("ts", t), 2)
    assert {r["k"]: r["v"] for r in sink.read(spark).collect()} == {1: "c", 2: "d"}
    sink.close()


def test_upsert_type_drift_reads_back(spark):
    """A batch may widen or narrow a column's type while it rewrites only
    its dirty buckets; each version's read must still cover the clean
    buckets' older files."""
    widen = KeyedUpsertSink(_fresh_dir("upsert-widen"), ["k"], ["seq"], num_buckets=4)
    widen(spark.createDataFrame([(k, 1, k) for k in range(8)], "k long, seq long, v int"), 0)
    widen(spark.createDataFrame([(2, 2, 2**40)], "k long, seq long, v long"), 1)
    assert dict(widen.read(spark, version=1).dtypes)["v"] == "int"
    snap = widen.read(spark)
    assert dict(snap.dtypes)["v"] == "bigint"
    assert {r["k"]: r["v"] for r in snap.collect()} == {k: k for k in range(8)} | {2: 2**40}
    widen.close()

    narrow = KeyedUpsertSink(_fresh_dir("upsert-narrow"), ["k"], ["seq"], num_buckets=4)
    keys = spark.createDataFrame([(k,) for k in range(8)], "k long")
    bucket = {r["k"]: r["b"] for r in keys.select("k", narrow._bucket().alias("b")).collect()}
    lone = next(k for k in range(1, 8) if bucket[k] != bucket[0])
    narrow(spark.createDataFrame([(0, 1, 2**40)], "k long, seq long, v long"), 0)
    # a bucket no earlier batch wrote: no older file is merged into it
    narrow(spark.createDataFrame([(lone, 1, 9)], "k long, seq long, v int"), 1)
    snap = narrow.read(spark)
    assert dict(snap.dtypes)["v"] == "bigint"
    assert {r["k"]: r["v"] for r in snap.collect()} == {0: 2**40, lone: 9}
    narrow.close()


def test_upsert_batch_missing_column_commits(spark):
    """A batch that leaves out one of the table's columns commits whether
    its keys land in a bucket that already holds rows or in a new one;
    the missing column reads as null."""
    sink = KeyedUpsertSink(_fresh_dir("upsert-missing"), ["k"], ["seq"], num_buckets=4)
    keys = spark.createDataFrame([(k,) for k in range(32)], "k long")
    bucket = {r["k"]: r["b"] for r in keys.select("k", sink._bucket().alias("b")).collect()}
    same = next(k for k in range(1, 32) if bucket[k] == bucket[0])
    fresh = next(k for k in range(1, 32) if bucket[k] != bucket[0])
    try:
        sink(spark.createDataFrame([(0, 1, "a")], "k long, seq long, v string"), 0)
        sink(spark.createDataFrame([(same, 1), (fresh, 1)], "k long, seq long"), 1)
        snap = sink.read(spark)
        assert snap.columns == ["k", "seq", "v"]
        assert {r["k"]: r["v"] for r in snap.collect()} == {0: "a", same: None, fresh: None}
    finally:
        sink.close()
