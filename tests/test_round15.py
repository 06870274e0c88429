"""Round-15 capabilities: persisted table properties, schema-anchored
empty tables, optimistic multi-writer concurrency, and the DERIVED
tombstone-retention horizon (VERDICT r14 items 2+3, ADVICE r14 items
1+4) — plus the cap-aware incremental near-dup kernel (VERDICT r14
item 1) further down."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from pandas_streaming_spark.streaming.replay import _fresh_dir
from pandas_streaming_spark.streaming.upsert import (
    ConcurrentWriteError,
    KeyedUpsertSink,
)

SCHEMA = "k long, seq long, v string, __del boolean"
#: Repository root: child writer processes import the package from it.
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


# -- table properties (ADVICE r14 medium) ----------------------------------


def test_tombstone_col_is_a_table_property(spark):
    """ADVICE r14: tombstone_col used to be reader-side constructor
    config — a handle that omitted it served deleted keys as LIVE rows
    with the marker column exposed. It is now persisted in _TABLE at
    create time: a re-open that omits it INHERITS it; a re-open that
    contradicts it (or any structural property) raises."""
    base = _fresh_dir("meta")
    sink = KeyedUpsertSink(
        base, ["k"], ["seq"], num_buckets=4, tombstone_col="__del"
    )
    sink(_df(spark, [(1, 10, "a", False), (2, 20, "b", True)]), 0)
    # the verified_pairs-style re-open: NO tombstone_col in the ctor
    reader = KeyedUpsertSink(base, ["k"], ["seq"], num_buckets=4)
    assert reader.tombstone_col == "__del"
    rows = reader.read(spark).collect()
    assert [r["k"] for r in rows] == [1]
    assert "__del" not in reader.read(spark).columns
    # contradicting property values raise instead of corrupting
    with pytest.raises(ValueError, match="tombstone_col"):
        KeyedUpsertSink(base, ["k"], ["seq"], num_buckets=4, tombstone_col="x")
    with pytest.raises(ValueError, match="num_buckets"):
        KeyedUpsertSink(base, ["k"], ["seq"], num_buckets=8)
    with pytest.raises(ValueError, match="key_cols"):
        KeyedUpsertSink(base, ["v"], ["seq"], num_buckets=4)
    sink.close()


def test_empty_but_alive_table_reads_with_stored_schema(spark):
    """ADVICE r14: a compact() that reclaims EVERY remaining row used to
    brick the table (read() raised 'no committed batches' forever). The
    schema recorded at commit time anchors an empty DataFrame instead,
    and a later batch re-populates the same table."""
    sink = KeyedUpsertSink(
        _fresh_dir("empty-alive"), ["k"], ["seq"], num_buckets=2,
        tombstone_col="__del",
    )
    sink(_df(spark, [(1, 10, "a", True), (2, 11, "b", True)]), 0)
    assert sink.read(spark).count() == 0  # all tombstones: live view empty
    before, after = sink.compact(spark, drop_tombstones_below=F.lit(True))
    assert before > 0 and after == 0
    snap = sink.read(spark)
    assert snap.count() == 0
    assert [f.name for f in snap.schema] == ["k", "seq", "v"]
    raw = sink.read(spark, include_tombstones=True)
    assert raw.count() == 0 and "__del" in raw.columns
    # the table is alive: a new batch commits and reads normally
    sink(_df(spark, [(3, 12, "c", False)]), 1)
    assert [r["k"] for r in sink.read(spark).collect()] == [3]
    sink.close()


# -- derived retention horizon (VERDICT r14 item 2) -------------------------


def test_derived_retention_horizon_no_handwritten_predicate(spark):
    """compact(drop_tombstones_lateness=L) derives the reclamation
    horizon from the RECORDED stream progress (seq_high - L): tombstones
    older than the horizon go (no contract-respecting late row can be
    older than them), younger tombstones stay and keep guarding. The
    full lifecycle: insert → delete → compact(derived) →
    late-older-than-delete arrival → read, with NO caller predicate."""
    sink = KeyedUpsertSink(
        _fresh_dir("derived"), ["k"], ["seq"], num_buckets=2,
        tombstone_col="__del",
    )
    sink(_df(spark, [(1, 10, "a", False), (2, 10, "b", False)]), 0)
    # deletes at seq 20 (old) and 28 (young); bystander pushes seq_high=30
    sink(
        _df(spark, [(1, 20, "a", True), (2, 28, "b", True),
                    (3, 30, "c", False)]),
        1,
    )
    assert sink.seq_high() == 30
    sink.compact(spark, drop_tombstones_lateness=5)  # horizon = 25
    stored = {
        r["k"]: r["seq"]
        for r in sink.read(spark, include_tombstones=True).collect()
        if r["__del"]
    }
    assert stored == {2: 28}, "tombstone below the horizon reclaimed, young kept"
    # late rows, both contract-legal (seq >= horizon 25):
    #  - k=2 at seq 26 < its delete's 28: the RETAINED tombstone wins, no
    #    resurrection;
    #  - k=1 at seq 27 > its (reclaimed) delete's 20: would have beaten
    #    the tombstone in LWW anyway — legitimate re-creation.
    sink(_df(spark, [(2, 26, "late-b", False), (1, 27, "late-a", False)]), 2)
    live = {r["k"]: (r["seq"], r["v"]) for r in sink.read(spark).collect()}
    assert live == {1: (27, "late-a"), 3: (30, "c")}
    # both knobs at once is a contract error
    with pytest.raises(ValueError, match="not both"):
        sink.compact(
            spark,
            drop_tombstones_below=F.lit(True),
            drop_tombstones_lateness=1,
        )
    sink.close()


def test_derived_horizon_timestamp_seq(spark):
    """The derived horizon works on timestamp seq columns with a
    timedelta lateness (the q311 shape), surviving JSON round-trips of
    the high-water mark through the manifest."""
    sink = KeyedUpsertSink(
        _fresh_dir("derived-ts"), ["k"], ["ts"], num_buckets=2,
        tombstone_col="__del",
    )
    t0 = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (1, t0 + datetime.timedelta(days=1), True),
            (2, t0 + datetime.timedelta(days=9), True),
            (3, t0 + datetime.timedelta(days=10), False),
        ],
        "k long, ts timestamp, __del boolean",
    )
    sink(df, 0)
    assert sink.seq_high() == t0 + datetime.timedelta(days=10)
    sink.compact(
        spark, drop_tombstones_lateness=datetime.timedelta(days=2)
    )  # horizon = day 8: day-1 tombstone reclaimed, day-9 kept
    stored = sorted(
        r["k"]
        for r in sink.read(spark, include_tombstones=True).collect()
        if r["__del"]
    )
    assert stored == [2]
    sink.close()


# -- optimistic writer concurrency (VERDICT r14 item 3) ----------------------


def test_optimistic_commit_loser_fails_loudly(spark):
    """Two handles race one version number: the conditional manifest
    create (os.link, the local-fs conditional put) lets exactly one win;
    the loser raises ConcurrentWriteError having applied NOTHING — under
    the old os.replace protocol the slower writer silently overwrote the
    winner's manifest and its version was dropped wholesale."""
    base = _fresh_dir("race")
    a = KeyedUpsertSink(base, ["k"], ["seq"], num_buckets=2, writer_id="a")
    b = KeyedUpsertSink(base, ["k"], ["seq"], num_buckets=2, writer_id="b")
    a(spark.createDataFrame([(1, 1, "a0")], "k long, seq long, v string"), 0)
    stale_head = a._read_head()  # a's view before b commits
    b(spark.createDataFrame([(2, 1, "b0")], "k long, seq long, v string"), 0)
    with pytest.raises(ConcurrentWriteError):
        a._commit_record(
            a._version_record(stale_head["version"] + 1, {"a": 99}, {})
        )
    # winner's state intact, loser applied nothing
    got = {r["k"]: r["v"] for r in a.read(spark).collect()}
    assert got == {1: "a0", 2: "b0"}
    assert a._read_head()["batch_ids"] == {"a": 0, "b": 0}
    a.close()


def test_commit_retries_rebase_onto_winner(spark):
    """A writer configured with commit_retries REBASES after losing the
    race: fresh head, fresh merge against the winner's manifest — both
    writers' rows land, no version lost, per-writer fences both
    advance."""
    base = _fresh_dir("rebase")
    a = KeyedUpsertSink(
        base, ["k"], ["seq"], num_buckets=2, writer_id="a", commit_retries=3
    )
    b = KeyedUpsertSink(base, ["k"], ["seq"], num_buckets=2, writer_id="b")
    orig_read_head = a._read_head
    fired = {"n": 0}

    def hooked_stale():
        h = orig_read_head()
        if fired["n"] == 0:
            fired["n"] = 1
            b(
                spark.createDataFrame(
                    [(2, 1, "b0")], "k long, seq long, v string"
                ),
                0,
            )
            return h  # stale: b's commit invisible to a's first attempt
        return orig_read_head()

    a._read_head = hooked_stale
    a(spark.createDataFrame([(1, 1, "a0")], "k long, seq long, v string"), 0)
    a._read_head = orig_read_head
    got = {r["k"]: r["v"] for r in a.read(spark).collect()}
    assert got == {1: "a0", 2: "b0"}
    assert a.versions() == [1, 2]  # no version dropped or skipped
    assert a._read_head()["batch_ids"] == {"a": 0, "b": 0}
    a.close()


def test_two_process_writers_no_lost_updates(spark, tmp_path):
    """TWO PROCESSES write one sink directory concurrently (VERDICT r14
    item 3 — r14 pinned reader/writer; this is writer/writer): each
    process commits 6 batches over its own key range with its own
    writer_id and rebase retries. Afterwards: every batch from both
    writers is present (no lost updates), versions are CONTIGUOUS
    (conditional commits can't silently drop a version), and both
    per-writer fences sit at their final batch id."""
    import subprocess
    import sys

    base = str(tmp_path / "two-writer-sink")
    child = tmp_path / "writer2.py"
    child.write_text(
        f"REPO = {REPO!r}\n"
        + """
import sys
sys.path.insert(0, REPO)
from pyspark.sql import SparkSession
from pandas_streaming_spark.streaming.upsert import KeyedUpsertSink

base, wid, lo = sys.argv[1], sys.argv[2], int(sys.argv[3])
spark = (SparkSession.builder.master("local[2]")
         .appName("pss-writer-" + wid)
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
sink = KeyedUpsertSink(base, ["k"], ["seq"], num_buckets=4,
                       writer_id=wid, commit_retries=50)
for i in range(6):
    df = spark.createDataFrame(
        [(lo + j, i, wid + str(i)) for j in range(10)],
        "k int, seq int, v string",
    )
    sink(df, batch_id=i)
print("DONE", wid, flush=True)
"""
    )
    procs = [
        subprocess.Popen(
            [sys.executable, str(child), base, wid, str(lo)],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
        )
        for wid, lo in (("w1", 0), ("w2", 1000))
    ]
    for p in procs:
        assert p.wait(timeout=300) == 0
    sink = KeyedUpsertSink(base, ["k"], ["seq"], num_buckets=4)
    head = sink._read_head()
    # 12 successful commits total -> versions exactly 1..12, no gaps
    assert sink.versions() == list(range(1, 13))
    assert head["batch_ids"] == {"w1": 5, "w2": 5}
    rows = {(r["k"], r["v"]) for r in sink.read(spark).collect()}
    want = {(j, "w15") for j in range(10)} | {
        (1000 + j, "w25") for j in range(10)
    }
    assert rows == want, "both writers' final batches fully present"


def test_multi_writer_fences_are_independent(spark):
    """The per-writer fence (Delta txnAppId shape): writer B committing
    batch 5 must not make writer A's batch 1 look re-delivered — the
    old single global fence silently dropped it."""
    base = _fresh_dir("fences")
    a = KeyedUpsertSink(base, ["k"], ["seq"], num_buckets=2, writer_id="a")
    b = KeyedUpsertSink(base, ["k"], ["seq"], num_buckets=2, writer_id="b")
    b(spark.createDataFrame([(10, 1, "b5")], "k long, seq long, v string"), 5)
    a(spark.createDataFrame([(20, 1, "a1")], "k long, seq long, v string"), 1)
    got = {r["k"]: r["v"] for r in a.read(spark).collect()}
    assert got == {10: "b5", 20: "a1"}, "low batch id from writer a applied"
    # but a's OWN re-delivery of batch 1 is still fenced
    a(spark.createDataFrame([(20, 9, "dup")], "k long, seq long, v string"), 1)
    assert {r["v"] for r in a.read(spark).collect()} == {"b5", "a1"}
    a.close()

# -- q311 graded lifecycle ---------------------------------------------------


def test_q311_split_invariant_and_matches_oracle(spark, sf_dir):
    """q311's derived horizon depends only on the GLOBAL seq high-water
    mark (running max across commits), so the full lifecycle — replay,
    derived compaction, adversarial late batch — must be batch-split
    invariant; and the readout must match the DuckDB oracle, which
    independently re-derives both the live table AND the retained
    tombstone set (proving compaction reclaimed exactly the aged-out
    deletes, kept the young guards, and no late row resurrected)."""
    import duckdb

    from pandas_streaming_spark.queries.stream_upsert_q import (
        ORACLES,
        q311_cdc_derived_retention,
    )

    runs = {
        k: [
            tuple(r)
            for r in q311_cdc_derived_retention(spark, sf_dir, k=k).collect()
        ]
        for k in (1, 5)
    }
    assert runs[1] == runs[5], "lifecycle must be batch-split invariant"
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    want = [tuple(r) for r in con.sql(
        ORACLES["q311_cdc_derived_retention"]
    ).fetchall()]
    assert runs[1] == want
    # the fixture must actually exercise BOTH arms: some tombstone
    # reclaimed (total deletes > retained) and some retained
    deleted, retained = con.sql(
        """
        WITH latest AS (
          SELECT user_id, ts, event_type,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events
        ), hor AS (SELECT MAX(ts) - INTERVAL 12 HOUR AS h FROM events)
        SELECT COUNT(*) FILTER (WHERE TRUE),
               COUNT(*) FILTER (WHERE ts >= (SELECT h FROM hor))
        FROM latest WHERE rn = 1 AND event_type = 'error'
        """
    ).fetchone()
    assert 0 < retained < deleted

# -- capped incremental near-dup (VERDICT r14 item 1) ------------------------


def test_capped_claimants_semilattice_identity(spark, sf_dir):
    """The identity that makes the capped kernel incrementally exact
    (the r15 analogue of r14's uncapped-union identity): top-cap-by-min
    is a semilattice, so maintaining ONLY the claimant set absorbs any
    base/delta split — topcap(topcap(base) ∪ delta) == topcap(base ∪
    delta), verified literally on the documents band table."""
    from pandas_streaming_spark.catalog import load_table
    from pandas_streaming_spark.operators.dedup import (
        banded_table,
        capped_claimants,
    )

    docs = load_table(spark, sf_dir, "documents")
    bands = banded_table(docs, n_hashes=8, bands=4, k=3).localCheckpoint()
    base = bands.filter("doc_id % 5 != 0")
    delta = bands.filter("doc_id % 5 = 0")

    def rows(df):
        return {
            (r["band"], r["band_hash"], r["doc_id"]) for r in df.collect()
        }

    whole = rows(capped_claimants(bands, 2))
    stepwise = rows(
        capped_claimants(capped_claimants(base, 2).unionByName(delta), 2)
    )
    assert whole == stepwise and whole


def test_capped_index_incremental_equals_batch_and_dethrones(spark, sf_dir):
    """End-to-end set identity for the CappedLshIndex: after ingesting
    corpus then shard, (a) live claimants == the from-scratch capped
    claimant set, (b) live per-bucket candidates == the from-scratch
    capped kernel's per-bucket pairs (the STRONG form — bucket-level,
    before cross-band dedup), and (c) dethroning was actually
    EXERCISED: both the claims table and the candidate table carry
    tombstones (the r14 MERGE WITH DELETE machinery doing the
    retraction work)."""
    from pandas_streaming_spark.catalog import load_table
    from pandas_streaming_spark.operators.dedup import (
        CappedLshIndex,
        banded_table,
        capped_claimants,
    )

    docs = load_table(spark, sf_dir, "documents")
    idx = CappedLshIndex(_fresh_dir("capidx-unit"), cap=2)
    try:
        idx.ingest(docs.filter("doc_id % 5 != 0"), 0, docs_lookup=docs)
        idx.ingest(docs.filter("doc_id % 5 = 0"), 1, docs_lookup=docs)

        bands = banded_table(docs, n_hashes=8, bands=4, k=3).localCheckpoint()
        cl = capped_claimants(bands, 2)
        want_claims = {
            (r["band"], r["band_hash"], r["doc_id"]) for r in cl.collect()
        }
        got_claims = {
            (r["band"], r["band_hash"], r["doc_id"])
            for r in idx.claims.read(spark).collect()
        }
        assert got_claims == want_claims

        want_bucket_pairs = {
            (r["band"], r["band_hash"], r["id_a"], r["id_b"])
            for r in cl.alias("c")
            .join(bands.alias("m"), ["band", "band_hash"])
            .filter(F.col("c.doc_id") < F.col("m.doc_id"))
            .select(
                "band",
                "band_hash",
                F.col("c.doc_id").alias("id_a"),
                F.col("m.doc_id").alias("id_b"),
            )
            .collect()
        }
        got_bucket_pairs = {
            (r["band"], r["band_hash"], r["id_a"], r["id_b"])
            for r in idx.cands.read(spark).collect()
        }
        assert got_bucket_pairs == want_bucket_pairs

        deth = (
            idx.claims.read(spark, include_tombstones=True)
            .filter("__del")
            .count()
        )
        assert deth > 0, "fixture must exercise dethroning"
    finally:
        idx.close()


def test_capped_index_dethroning_retracts_pairs(spark):
    """Deterministic retraction fixture: a bucket whose two corpus
    claimants (ids 10, 20 — identical text, so all four bands collide)
    are BOTH dethroned by smaller shard ids (1, 2). The stored pair
    (10, 20) must be tombstoned (from-scratch capped excludes it: 10 is
    no longer a claimant), the entrants must backfill pairs against the
    pre-batch members, and the final live set must equal the
    from-scratch capped kernel."""
    from pandas_streaming_spark.operators.dedup import (
        CappedLshIndex,
        capped_candidate_pairs,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta"
    mk = lambda ids: spark.createDataFrame(  # noqa: E731
        [(i, text) for i in ids], "doc_id long, text string"
    )
    all_docs = mk([1, 2, 10, 20])
    idx = CappedLshIndex(_fresh_dir("capidx-retract"), cap=2)
    try:
        idx.ingest(mk([10, 20]), 0, docs_lookup=all_docs)
        live0 = {
            (r["id_a"], r["id_b"])
            for r in idx.cands.read(spark).select("id_a", "id_b").collect()
        }
        assert live0 == {(10, 20)}
        idx.ingest(mk([1, 2]), 1, docs_lookup=all_docs)
        live = {
            (r["id_a"], r["id_b"])
            for r in idx.cands.read(spark).select("id_a", "id_b").collect()
        }
        want = {
            (r["id_a"], r["id_b"])
            for r in capped_candidate_pairs(all_docs, cap=2).collect()
        }
        assert live == want == {(1, 2), (1, 10), (1, 20), (2, 10), (2, 20)}
        dead = {
            (r["id_a"], r["id_b"])
            for r in idx.cands.read(spark, include_tombstones=True)
            .filter("__del")
            .select("id_a", "id_b")
            .collect()
        }
        assert dead == {(10, 20)}, "the dethroned claimant's pair retracted"
        # identical docs: every surviving pair verifies at jaccard 1.0
        got = {
            (r["id_a"], r["id_b"], r["jac_e4"])
            for r in idx.pairs(spark, 8000).collect()
        }
        assert got == {(a, b, 10000) for (a, b) in want}
    finally:
        idx.close()


@pytest.mark.parametrize("k", [1, 5])
def test_q312_split_invariant_vs_oracle(spark, sf_dir, k):
    """q312's final pair snapshot equals the from-scratch CAPPED batch
    chain (DuckDB oracle) under shard splits k∈{1,5} (k=3 is the graded
    default)."""
    import duckdb

    from pandas_streaming_spark.queries.streaming_q import (
        ORACLES,
        q312_capped_incremental_neardup,
    )

    got = [
        tuple(r)
        for r in q312_capped_incremental_neardup(spark, sf_dir, k=k).collect()
    ]
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = [
        tuple(r)
        for r in con.sql(
            ORACLES["q312_capped_incremental_neardup"]
        ).fetchall()
    ]
    assert got == want and len(got) > 0


# -- cross-table transactions (r15, VERDICT r14 item 8 depth candidate) ------


def _txlog():
    from pandas_streaming_spark.streaming.txn import SinkTransactionLog

    log = SinkTransactionLog(_fresh_dir("txg"))
    log.table("a", ["k"], ["seq"], 4)
    log.table("b", ["k"], ["seq"], 4, tombstone_col="__del")
    return log


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, seq long, v string")


def test_tx_atomic_commit_snapshot_and_gate(spark):
    """One transaction lands BOTH tables or neither; snapshot() pins one
    consistent cross-table cut; the persisted tx_managed property blocks
    direct merges/compacts on any handle, including a bare re-open that
    never heard of the group (the tombstone_col lesson applied to
    version allocation)."""
    log = _txlog()
    try:
        tx = log.transaction(0)
        tx.write("a", _kv(spark, [(1, 1, "x")]))
        tx.write("b", spark.createDataFrame(
            [(1, 1, False)], "k long, seq long, __del boolean"))
        assert tx.commit() is True
        assert log.snapshot() == {"a": 1, "b": 1}
        assert [r["k"] for r in log.read(spark, "a").collect()] == [1]
        with pytest.raises(RuntimeError, match="transaction-managed"):
            log._tables["a"](_kv(spark, [(9, 9, "no")]), 99)
        with pytest.raises(RuntimeError, match="transaction-managed"):
            log._tables["a"].compact(spark)
        bare = KeyedUpsertSink(log._tables["a"].base_dir, ["k"], ["seq"])
        with pytest.raises(RuntimeError, match="transaction-managed"):
            bare(_kv(spark, [(8, 8, "no")]), 100)
    finally:
        log.close()


def test_tx_torn_stage_invisible_and_orphans_reclaimed(spark):
    """Crash window A — writer dies after staging data but BEFORE the
    tx record: a fresh open sees the old snapshot on EVERY table and
    vacuum_orphans reclaims the unreferenced staged directories (the
    sinks' own vacuum would never find them)."""
    from pandas_streaming_spark.streaming.txn import SinkTransactionLog

    log = _txlog()
    try:
        t0 = log.transaction(0)
        t0.write("a", _kv(spark, [(1, 1, "x")]))
        assert t0.commit() is True
        torn = log.transaction(1)
        torn.write("a", _kv(spark, [(2, 2, "y")]))
        torn.stage()  # ...and the writer dies here
        reopened = SinkTransactionLog(log.root_dir)
        assert reopened.snapshot()["a"] == 1
        assert [r["k"] for r in reopened.read(spark, "a").collect()] == [1]
        assert reopened.vacuum_orphans(grace_sec=0.0) >= 1
    finally:
        log.close()


def test_tx_crash_after_record_is_redone_and_fenced(spark):
    """Crash window B — writer dies right AFTER the conditional put of
    the tx record: recover() on the next open promotes the embedded
    manifest records (idempotent redo), and re-delivery of the same
    (writer, batch) is skipped by the GROUP fence — exactly-once across
    all member tables at once."""
    from pandas_streaming_spark.streaming.txn import SinkTransactionLog

    log = _txlog()
    try:
        tx = log.transaction(0)
        tx.write("a", _kv(spark, [(1, 1, "x")]))
        tx.write("b", spark.createDataFrame(
            [(5, 1, False)], "k long, seq long, __del boolean"))
        assert tx.commit(_skip_promotion=True) is True  # record durable...
        # ...manifests absent: a DIRECT read of the sink can't see it yet
        assert log._tables["a"].versions() == []
        reopened = SinkTransactionLog(log.root_dir)  # recover() promotes
        assert [r["k"] for r in reopened.read(spark, "a").collect()] == [1]
        assert [r["k"] for r in reopened.read(spark, "b").collect()] == [5]
        redeliver = reopened.transaction(0)
        redeliver.write("a", _kv(spark, [(9, 9, "dup")]))
        assert redeliver.commit() is False  # fence: already applied
        assert [r["k"] for r in reopened.read(spark, "a").collect()] == [1]
    finally:
        log.close()


def test_tx_conflict_rebases_stale_staging(spark):
    """Two transactions stage against the same snapshot; the slower one
    must NOT ride a fresh tx number with a stale version (that would
    explode at promotion) — commit detects the stale staged record,
    discards its directories, and re-stages against the winner's
    promoted heads. Both writers' rows land; without retries the loser
    raises TxConflictError having applied NOTHING."""
    from pandas_streaming_spark.streaming.txn import TxConflictError

    log = _txlog()
    try:
        txa = log.transaction(0, writer_id="A", commit_retries=2)
        txa.write("a", _kv(spark, [(1, 1, "a")]))
        txa.stage()
        txb = log.transaction(0, writer_id="B")
        txb.write("a", _kv(spark, [(2, 1, "b")]))
        assert txb.commit() is True
        assert txa.commit() is True  # rebase onto B's state
        got = sorted(r["k"] for r in log.read(spark, "a").collect())
        assert got == [1, 2]
        # no-retry loser: nothing applied, loud failure
        txc = log.transaction(1, writer_id="C")
        txc.write("a", _kv(spark, [(3, 2, "c")]))
        txc.stage()
        txd = log.transaction(1, writer_id="D")
        txd.write("a", _kv(spark, [(4, 2, "d")]))
        assert txd.commit() is True
        with pytest.raises(TxConflictError):
            txc.commit()
        got = sorted(r["k"] for r in log.read(spark, "a").collect())
        assert got == [1, 2, 4]
    finally:
        log.close()


def test_tx_compact_through_log_keeps_tombstone_guard(spark):
    """Maintenance goes through the log too (version numbers stay
    serialized by tx records): compaction with the DERIVED retention
    horizon works on a tx-managed table and the resurrection guard
    holds across it."""
    log = _txlog()
    try:
        steps = [
            [(1, 100, False), (2, 100, False)],
            [(1, 200, True)],  # delete k=1 at seq 200
        ]
        for i, rows in enumerate(steps):
            tx = log.transaction(i)
            tx.write("b", spark.createDataFrame(
                rows, "k long, seq long, __del boolean"))
            tx.commit()
        # derived horizon: seq_high=200, lateness=50 -> drop below 150
        # (keeps the delete tombstone at 200)
        before, after = log.compact(
            spark, "b", drop_tombstones_lateness=50
        )
        assert after <= before or before == 0
        # late row OLDER than the retained delete must not resurrect
        tx = log.transaction(2)
        tx.write("b", spark.createDataFrame(
            [(1, 150, False)], "k long, seq long, __del boolean"))
        tx.commit()
        live = sorted(r["k"] for r in log.read(spark, "b").collect())
        assert live == [2]
    finally:
        log.close()


def test_capped_index_torn_ingest_keeps_identity(spark, sf_dir):
    """CappedLshIndex end-to-end under both crash windows: a torn-stage
    shard is invisible and re-ingests as a redo; a committed-unpromoted
    shard is healed by recover() and its re-delivery fenced — and the
    final pair set still equals the from-scratch capped recompute over
    all documents (the q313 lifecycle, asserted here at k=1 against the
    in-engine batch chain rather than DuckDB)."""
    from pandas_streaming_spark.operators.dedup import (
        CappedLshIndex,
        capped_candidate_pairs,
        ngram_jaccard_pairs,
    )
    from pandas_streaming_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter("doc_id % 5 != 0")
    shard = docs.filter("doc_id % 5 = 0")
    base = _fresh_dir("capidx-torn")
    idx = CappedLshIndex(base, cap=2)
    try:
        idx.ingest(corpus, 0, docs_lookup=docs)
        idx.ingest(shard, 1, docs_lookup=docs, torn="staged")
        idx = CappedLshIndex(base, cap=2)  # crash A: nothing visible
        assert idx.log.vacuum_orphans(grace_sec=0.0) >= 1
        idx.ingest(shard, 1, docs_lookup=docs)  # redo
        idx.ingest(shard, 2, docs_lookup=docs, torn="committed")
        idx = CappedLshIndex(base, cap=2)  # crash B: promoted on open
        idx.ingest(shard, 2, docs_lookup=docs)  # re-delivery: fenced
        got = {
            (r["id_a"], r["id_b"]) for r in idx.pairs(spark, 8000).collect()
        }
        cands = capped_candidate_pairs(docs, cap=2)
        want = {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(
                docs, k=3, threshold=0.8, candidates=cands
            ).collect()
        }
        assert got == want and len(got) > 0
    finally:
        idx.close()


def test_vacuum_retention_protects_pinned_readers(spark):
    """Age-based vacuum retention (r15, Delta's VACUUM RETAIN shape):
    a reader pins read(version=V) and holds a LAZY plan over V's files;
    a concurrent compact + vacuum(keep_last=1) used to delete them
    mid-plan. With min_age_sec covering the reader's window the pinned
    snapshot stays collectable after maintenance; outside the window
    (age 0) the files are reclaimed — the documented storage/isolation
    tradeoff, operator-sized exactly like Delta/Iceberg retention."""
    sink = KeyedUpsertSink(
        _fresh_dir("vac-retain"), ["k"], ["seq"], num_buckets=2
    )
    sink(spark.createDataFrame([(1, 1, "a")], "k long, seq long, v string"), 0)
    pinned = sink.read(spark, version=1)  # lazy: files resolve at collect
    sink(spark.createDataFrame([(2, 2, "b")], "k long, seq long, v string"), 1)
    sink.compact(spark)
    # retention window covers the reader: nothing recent reclaimed
    assert sink.vacuum(keep_last=1, min_age_sec=3600) == 0
    assert [r["k"] for r in pinned.collect()] == [1]
    assert sink.versions() == [1, 2, 3]
    # outside the window the old snapshots go (and time travel with them)
    assert sink.vacuum(keep_last=1, min_age_sec=0) > 0
    assert sink.versions() == [3]
    assert sorted(r["k"] for r in sink.read(spark).collect()) == [1, 2]
    sink.close()


def test_two_process_transactions_no_lost_updates(spark, tmp_path):
    """TWO PROCESSES run multi-table transactions against one
    SinkTransactionLog root concurrently (the sink-level two-process
    writer test lifted to the transaction level): each process commits
    4 transactions touching BOTH tables with its own writer_id and
    tx-level rebase retries. Afterwards: tx numbers are contiguous (the
    conditional tx put can't silently drop a transaction), every
    snapshot map is internally consistent, both group fences sit at
    their final batch id, and both writers' rows are fully present in
    both tables."""
    import subprocess
    import sys

    root = str(tmp_path / "two-writer-tx")
    # parent creates the group (DDL is single-writer by design)
    from pandas_streaming_spark.streaming.txn import SinkTransactionLog

    log = SinkTransactionLog(root)
    log.table("x", ["k"], ["seq"], 4)
    log.table("y", ["k"], ["seq"], 4)
    child = tmp_path / "txwriter.py"
    child.write_text(
        f"REPO = {REPO!r}\n"
        + """
import sys
sys.path.insert(0, REPO)
from pyspark.sql import SparkSession
from pandas_streaming_spark.streaming.txn import SinkTransactionLog

root, wid, lo = sys.argv[1], sys.argv[2], int(sys.argv[3])
spark = (SparkSession.builder.master("local[2]")
         .appName("pss-txwriter-" + wid)
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
log = SinkTransactionLog(root)
for i in range(4):
    tx = log.transaction(i, writer_id=wid, commit_retries=50)
    for name in ("x", "y"):
        tx.write(name, spark.createDataFrame(
            [(lo + j, i, wid + str(i)) for j in range(5)],
            "k int, seq int, v string",
        ))
    assert tx.commit() is True
print("DONE", wid, flush=True)
"""
    )
    procs = [
        subprocess.Popen(
            [sys.executable, str(child), root, wid, str(lo)],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
        )
        for wid, lo in (("a", 0), ("b", 1000))
    ]
    for p in procs:
        assert p.wait(timeout=300) == 0
    fresh = SinkTransactionLog(root)
    head = fresh._read_txhead()
    assert head["tx"] == 8  # 8 transactions, contiguous, none dropped
    assert head["batch_ids"] == {"a": 3, "b": 3}
    for t in range(1, 9):
        rec = fresh._load_tx(t)
        # every tx touched both tables and its snapshot pins exactly the
        # versions it committed
        assert set(rec["tables"]) == {"x", "y"}
        assert rec["snapshot"]["x"] == rec["tables"]["x"]["version"]
        assert rec["snapshot"]["y"] == rec["tables"]["y"]["version"]
    for name in ("x", "y"):
        rows = {(r["k"], r["v"]) for r in fresh.read(spark, name).collect()}
        want = {(j, "a3") for j in range(5)} | {
            (1000 + j, "b3") for j in range(5)
        }
        assert rows == want, f"both writers' final tx rows present in {name}"
    fresh.close()


def test_capped_index_maintain_preserves_pairs(spark, sf_dir):
    """maintain() — compaction through the tx log + age-aware vacuum —
    leaves the live pair set bit-identical and restores O(num_buckets)
    files per table, and a SUBSEQUENT ingest (with dethroning) still
    behaves: the compacted claims/cands tables keep their tombstones,
    so retraction semantics survive maintenance."""
    from pandas_streaming_spark.catalog import load_table
    from pandas_streaming_spark.operators.dedup import (
        CappedLshIndex,
        capped_candidate_pairs,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    idx = CappedLshIndex(_fresh_dir("capidx-maint"), cap=2)
    try:
        # 3 ingests -> multiple versions and per-merge file fan-out
        idx.ingest(docs.filter("doc_id % 5 = 1"), 0, docs_lookup=docs)
        idx.ingest(docs.filter("doc_id % 5 in (2, 3)"), 1, docs_lookup=docs)
        before = {
            (r["id_a"], r["id_b"]) for r in idx.pairs(spark, 8000).collect()
        }
        stats = idx.maintain(spark, keep_last=1, min_age_sec=0.0)
        assert stats["members"][1] <= stats["members"][0]
        after = {
            (r["id_a"], r["id_b"]) for r in idx.pairs(spark, 8000).collect()
        }
        assert after == before, "maintenance changed the live pair set"
        # post-maintenance ingest: smaller ids arrive, dethroning fires
        rest = docs.filter("doc_id % 5 in (0, 4)")
        idx.ingest(rest, 2, docs_lookup=docs)
        got = {
            (r["id_a"], r["id_b"]) for r in idx.pairs(spark, 8000).collect()
        }
        want = {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(
                docs, k=3, threshold=0.8,
                candidates=capped_candidate_pairs(docs, cap=2),
            ).collect()
        }
        assert got == want and len(got) > 0
    finally:
        idx.close()
