"""Round-14 regression tests.

Covers the VERDICT/ADVICE r13 closures:
- the directory-shaped corpus fingerprint now includes per-part mtimes,
  so a regenerated same-size corpus forces a verified-pairs recompute
  (VERDICT item 2 / ADVICE item 4);
- the artifact tag carries the kernel-version token so a changed
  near-dup kernel can never serve stale pairs (ADVICE item 1);
- the artifact GC never reaps a directory touched within the last 30
  minutes, protecting concurrent sessions (ADVICE item 2).
"""

from __future__ import annotations

import os
import shutil

import pytest

from pyspark.sql import functions as F

#: Repository root: child writer processes import the package from it.
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _dir_corpus(tmp_path, sf_dir):
    """A dir-of-parquet documents table (the replica shape) built from
    the single-file sf table, same bytes."""
    src = os.path.join(sf_dir, "documents.parquet")
    d = tmp_path / "documents.parquet"
    d.mkdir()
    shutil.copy(src, d / "part-00000.parquet")
    return str(tmp_path)


def test_dir_fingerprint_tracks_mtime(tmp_path, sf_dir):
    """A regenerated corpus with byte-identical part sizes but a new
    mtime must map to a DIFFERENT fingerprint (ADVICE r13: the dir
    branch used to hash names+sizes only)."""
    from pandas_streaming_spark.queries.dedup_q import _pairs_dir

    corpus = _dir_corpus(tmp_path, sf_dir)
    part = os.path.join(corpus, "documents.parquet", "part-00000.parquet")
    fp1 = _pairs_dir(corpus, 8000)
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    fp2 = _pairs_dir(corpus, 8000)
    assert fp1 != fp2  # same sizes, different mtime -> fresh artifact


def test_dir_fingerprint_regeneration_forces_recompute(spark, tmp_path, sf_dir):
    """End-to-end form of the above: verified_pairs on a dir-shaped
    corpus, then 'regenerate' it (same sizes, bumped mtime) — the
    second call must commit a SECOND artifact (recompute), not serve
    the first one."""
    from pandas_streaming_spark.queries.dedup_q import _pairs_dir, verified_pairs
    from pandas_streaming_spark.streaming.upsert import KeyedUpsertSink

    corpus = _dir_corpus(tmp_path, sf_dir)
    part = os.path.join(corpus, "documents.parquet", "part-00000.parquet")

    tag1 = _pairs_dir(corpus, 8000)
    n1 = verified_pairs(spark, corpus, 8000).count()
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    tag2 = _pairs_dir(corpus, 8000)
    n2 = verified_pairs(spark, corpus, 8000).count()

    assert tag1 != tag2 and n1 == n2 > 0
    for tag in (tag1, tag2):  # each build committed its own artifact
        sink = KeyedUpsertSink(
            tag, key_cols=["id_a", "id_b"], seq_cols=["jac_e4"]
        )
        assert sink.versions() == [1]


def test_algo_version_token_derived_from_kernel():
    """The tag token is DERIVED from the kernel parameter dict — the
    two cannot drift apart (ADVICE r13 item 1)."""
    from pandas_streaming_spark.queries.dedup_q import (
        _PAIRS_ALGO_V,
        _PAIRS_KERNEL,
    )

    assert _PAIRS_KERNEL == {"n_hashes": 8, "bands": 4, "k": 3, "max_bucket": 64}
    assert _PAIRS_ALGO_V == "a2-b4k3m64n8"
    # a parameter change would change the token
    bumped = dict(_PAIRS_KERNEL, bands=8)
    tok = "a2-" + "".join(f"{k[0]}{v}" for k, v in sorted(bumped.items()))
    assert tok != _PAIRS_ALGO_V


def test_gc_spares_recent_artifact_dirs(spark, tmp_path, sf_dir):
    """The GC keeps the 8 mtime-newest dirs AND never reaps anything
    touched in the last 30 minutes — so >8 concurrent recent sessions
    cannot delete each other's artifacts, while dead old fingerprints
    are still collected (ADVICE r13 item 2)."""
    import time

    from pandas_streaming_spark.catalog import SCRATCH
    from pandas_streaming_spark.queries.dedup_q import _pairs_dir, verified_pairs

    root = os.path.join(SCRATCH, "verified_pairs")
    os.makedirs(root, exist_ok=True)
    now = time.time()
    recent = [os.path.join(root, f"fake-recent-{i}") for i in range(10)]
    old = [os.path.join(root, f"fake-old-{i}") for i in range(10)]
    for i, d in enumerate(recent):
        os.makedirs(d, exist_ok=True)
        os.utime(d, (now - i, now - i))  # all within the last minute
    for i, d in enumerate(old):
        os.makedirs(d, exist_ok=True)
        t = now - 7200 - i
        os.utime(d, (t, t))  # hours old

    # force a first-build (GC runs only in that branch)
    corpus = _dir_corpus(tmp_path, sf_dir)
    shutil.rmtree(_pairs_dir(corpus, 8000), ignore_errors=True)
    verified_pairs(spark, corpus, 8000).count()

    survivors = set(os.listdir(root))
    for d in recent:  # recent dirs are untouchable regardless of count
        assert os.path.basename(d) in survivors
    # old dead fingerprints beyond the newest-8 were collected
    assert sum(1 for d in old if os.path.basename(d) in survivors) == 0
    for d in recent + old:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("k", [1, 5])
def test_q309_split_invariance(spark, sf_dir, k):
    """The incremental near-dup MERGE's final pair table equals the
    from-scratch full-corpus recompute under ANY shard batch split —
    the repo's core streaming grading contract (VERDICT r13 item 3:
    the shard replay's flagged candidates are delta-verified and
    MERGEd, never recomputed from the corpus)."""
    from pandas_streaming_spark.compare import compare_frames, duckdb_connect
    from pandas_streaming_spark.queries import ORACLES
    from pandas_streaming_spark.queries.streaming_q import (
        q309_incremental_neardup_merge,
    )

    got = q309_incremental_neardup_merge(spark, sf_dir, k=k).toPandas()
    con = duckdb_connect(sf_dir)
    want = con.execute(ORACLES["q309_incremental_neardup_merge"]).df()
    r = compare_frames(f"q309-k{k}", got, want)
    assert r.ok, r.detail


def test_q309_uncapped_kernel_identity(spark, sf_dir):
    """The no-retraction argument: with the UNCAPPED kernel, full-corpus
    candidates = within-corpus candidates ∪ candidates with >=1 shard
    endpoint — verified literally on the test corpus."""
    from pandas_streaming_spark.catalog import load_table
    from pandas_streaming_spark.operators.dedup import lsh_candidate_pairs

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter("doc_id % 5 != 0")

    def pairs(df):
        return {
            (r.id_a, r.id_b)
            for r in lsh_candidate_pairs(
                df, n_hashes=8, bands=4, k=3, max_bucket=None
            ).collect()
        }

    full = pairs(docs)
    base = pairs(corpus)
    shard_ids = {r.doc_id for r in docs.filter("doc_id % 5 = 0").select("doc_id").collect()}
    delta = {p for p in full if p[0] in shard_ids or p[1] in shard_ids}
    assert base <= full and full == base | delta


def test_concurrent_reader_writer_sees_only_committed_versions(
    spark, tmp_path
):
    """Two SEPARATE PROCESSES share one KeyedUpsertSink directory: a
    writer child commits batches while this session reads snapshots
    concurrently (VERDICT r13 item 7: the manifest/MERGE machinery
    claims crash safety; the concurrent reader/writer half was
    untested). Invariants every read must satisfy, no matter when it
    lands relative to a commit: (1) the snapshot is a COMPLETE version
    — all 40 keys present exactly once; (2) it is UNIFORM — every row
    carries the same batch value, because each batch overwrites all
    keys, so a torn read mixing two versions would show two values;
    (3) versions only move forward across reads. Also pins time
    travel: a version read early must re-read byte-identical after
    later commits."""
    import subprocess
    import sys
    import time

    from pandas_streaming_spark.streaming.upsert import KeyedUpsertSink

    base = str(tmp_path / "shared-sink")
    child = tmp_path / "writer.py"
    child.write_text(
        f"REPO = {REPO!r}\n"
        + """
import sys, time
sys.path.insert(0, REPO)
from pyspark.sql import SparkSession
from pandas_streaming_spark.streaming.upsert import KeyedUpsertSink

base = sys.argv[1]
spark = (SparkSession.builder.master("local[2]")
         .appName("pss-writer")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
sink = KeyedUpsertSink(base, ["k"], ["seq"], num_buckets=4)
for i in range(1, 7):
    df = spark.createDataFrame(
        [(k, i, i) for k in range(40)], "k int, val int, seq int"
    )
    sink(df, batch_id=i - 1)
    time.sleep(0.3)
print("WRITER-DONE", flush=True)
"""
    )
    proc = subprocess.Popen(
        [sys.executable, str(child), base],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )
    sink = KeyedUpsertSink(base, ["k"], ["seq"], num_buckets=4)
    try:
        seen_vals: list[int] = []
        pinned = None  # (version, frozenset(rows)) captured mid-stream
        deadline = time.time() + 180
        while proc.poll() is None and time.time() < deadline:
            versions = sink.versions()
            if not versions:
                time.sleep(0.2)
                continue
            # pin the version BEFORE reading: read() at head would race
            # the writer between the head lookup and this assertion
            v_read = max(versions)
            snap = sink.read(spark, version=v_read).select("k", "val").collect()
            vals = {r.val for r in snap}
            keys = sorted(r.k for r in snap)
            assert len(vals) == 1, f"torn read: mixed versions {vals}"
            assert keys == list(range(40)), "incomplete snapshot"
            v = vals.pop()
            assert not seen_vals or v >= seen_vals[-1], "version went backward"
            seen_vals.append(v)
            if pinned is None:
                pinned = (v_read, frozenset((r.k, r.val) for r in snap))
            time.sleep(0.1)
        assert proc.wait(timeout=120) == 0
        # writer finished: final state is batch 6, and the version
        # pinned mid-stream re-reads identically (time travel over
        # immutable bucket dirs)
        final = sink.read(spark).select("k", "val").collect()
        assert {r.val for r in final} == {6}
        assert len(seen_vals) >= 2, "reader never overlapped the writer"
        v0, rows0 = pinned
        again = frozenset(
            (r.k, r.val)
            for r in sink.read(spark, version=v0).select("k", "val").collect()
        )
        assert again == rows0
    finally:
        if proc.poll() is None:
            proc.kill()


def test_broadcastable_smj_detector(spark, sf_dir):
    """The r14 audit extension (VERDICT r13 item 7): flags a
    SortMergeJoin whose buildable side's own Catalyst estimate fits the
    broadcast threshold — i.e. a hint/conf overriding the optimizer —
    while staying silent on healthy defaults and on join types BHJ
    cannot legally build (full outer)."""
    from pandas_streaming_spark.catalog import load_table
    from pandas_streaming_spark.plans import broadcastable_smj_joins

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")

    healthy = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .count()
    )
    assert broadcastable_smj_joins(healthy) == []

    hinted = (
        li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .count()
    )
    hits = broadcastable_smj_joins(hinted)
    assert len(hits) == 1 and "SortMergeJoin (Inner)" in hits[0]

    full_outer = (
        c.join(s, c.c_nationkey == s.s_nationkey, "full_outer")
        .groupBy()
        .count()
    )
    assert broadcastable_smj_joins(full_outer) == []  # BHJ illegal here


def test_tombstone_blocks_late_row_resurrection(spark, tmp_path):
    """MERGE-with-DELETE's load-bearing detail (r14): tombstones stay
    in storage so a LATE row whose seq is OLDER than the delete loses
    last-writer-wins and can never resurrect the key — and compaction
    preserves that guard (it rewrites the raw snapshot, tombstones
    included)."""
    from pandas_streaming_spark.streaming.upsert import KeyedUpsertSink

    sink = KeyedUpsertSink(
        str(tmp_path / "ts"), ["k"], ["seq"], num_buckets=2,
        tombstone_col="__del",
    )
    schema = "k int, v string, seq int, __del boolean"
    sink(spark.createDataFrame([(1, "a", 5, False)], schema), batch_id=0)
    sink(spark.createDataFrame([(1, "DEL", 10, True)], schema), batch_id=1)
    assert sink.read(spark).count() == 0  # deleted
    # late arrival, older than the delete: must NOT resurrect
    sink(spark.createDataFrame([(1, "late", 7, False)], schema), batch_id=2)
    assert sink.read(spark).count() == 0
    # the tombstone is visible to CDC readers and to compaction
    raw = sink.read(spark, include_tombstones=True).collect()
    assert len(raw) == 1 and raw[0]["__del"] is True and raw[0]["seq"] == 10
    sink.compact(spark)
    assert sink.read(spark).count() == 0  # guard survives compaction
    # a genuinely NEWER row re-creates the key
    sink(spark.createDataFrame([(1, "back", 11, False)], schema), batch_id=3)
    live = sink.read(spark).collect()
    assert len(live) == 1 and live[0].v == "back"
    assert "__del" not in sink.read(spark).columns
    sink.close()


@pytest.mark.parametrize("k", [1, 5])
def test_q310_split_invariance(spark, sf_dir, k):
    """Streaming merge-with-delete final state equals the batch
    latest-row-minus-deleted oracle under any batch split."""
    from pandas_streaming_spark.compare import compare_frames, duckdb_connect
    from pandas_streaming_spark.queries import ORACLES
    from pandas_streaming_spark.queries.stream_upsert_q import (
        q310_stream_merge_delete,
    )

    got = q310_stream_merge_delete(spark, sf_dir, k=k).toPandas()
    want = duckdb_connect(sf_dir).execute(
        ORACLES["q310_stream_merge_delete"]
    ).df()
    r = compare_frames(f"q310-k{k}", got, want)
    assert r.ok, r.detail


def test_q308_flags_are_exactly_q309_pair_tails(spark, sf_dir):
    """The formal identity composing the two streaming near-dup stages
    (VERDICT r13 item 3's premise): a doc is q308-FLAGGED (non-min
    member of some band bucket) iff it appears as the LARGER endpoint
    (id_b) of some uncapped candidate pair — the exact rows q309's
    delta verify consumes. LSH proposes in-stream (q308), the MERGE
    ingest disposes (q309); this pins that the two kernels see the
    same candidate population."""
    from pandas_streaming_spark.catalog import load_table
    from pandas_streaming_spark.operators.dedup import (
        banded_table,
        lsh_candidate_pairs,
    )
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    bands = banded_table(docs, n_hashes=8, bands=4, k=3)
    w = Window.partitionBy("band", "band_hash")
    flagged = {
        r.doc_id
        for r in bands.withColumn("w", F.min("doc_id").over(w))
        .filter(F.col("doc_id") > F.col("w"))
        .select("doc_id")
        .distinct()
        .collect()
    }
    tails = {
        r.id_b
        for r in lsh_candidate_pairs(
            docs, n_hashes=8, bands=4, k=3, max_bucket=None
        )
        .select("id_b")
        .distinct()
        .collect()
    }
    assert flagged == tails and len(flagged) > 0


def test_compact_tombstone_retention(spark, tmp_path):
    """compact(drop_tombstones_below=...) — the DELETE-retention knob:
    tombstones the predicate marks as past the lateness bound are
    physically removed; younger ones (and all live rows) survive, so
    the resurrection guard holds exactly as long as late rows can
    still arrive."""
    from pandas_streaming_spark.streaming.upsert import KeyedUpsertSink

    sink = KeyedUpsertSink(
        str(tmp_path / "ret"), ["k"], ["seq"], num_buckets=2,
        tombstone_col="__del",
    )
    schema = "k int, v string, seq int, __del boolean"
    sink(
        spark.createDataFrame(
            [(1, "DEL", 10, True), (2, "DEL", 90, True), (3, "live", 50, False)],
            schema,
        ),
        batch_id=0,
    )
    # retention horizon: tombstones with seq < 80 are past the lateness
    # bound and safe to drop; key 2's delete is younger and must stay
    sink.compact(spark, drop_tombstones_below=F.col("seq") < 80)
    raw = {
        (r["k"], r["__del"])
        for r in sink.read(spark, include_tombstones=True).collect()
    }
    assert raw == {(2, True), (3, False)}  # key 1's tombstone reclaimed
    live = {r["k"] for r in sink.read(spark).collect()}
    assert live == {3}
    # key 2's guard still works: a late row older than its delete loses
    sink(spark.createDataFrame([(2, "late", 70, False)], schema), batch_id=1)
    assert {r["k"] for r in sink.read(spark).collect()} == {3}
    # predicate on a plain sink is an error, not a silent no-op
    plain = KeyedUpsertSink(str(tmp_path / "plain"), ["k"], ["seq"])
    plain(spark.createDataFrame([(1, "a", 1, False)], schema), batch_id=0)
    with pytest.raises(ValueError):
        plain.compact(spark, drop_tombstones_below=F.col("seq") < 0)
    sink.close()
    plain.close()


def test_stateful_no_unused_stringtype():
    """ADVICE r13 item 3: the leftover StringType import is gone and
    the bucket-claim docstring no longer claims a string in state."""
    import inspect

    from pandas_streaming_spark.operators import stateful

    src = inspect.getsource(stateful)
    assert "StringType" not in src
    assert "one long + one string" not in src
