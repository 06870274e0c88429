"""catalog.load_table schema reuse: a table's schema is inferred once
per file state and inference confs, then read with an explicit schema
that starts no Spark job. catalog.derived_dir: a derived copy of a
table is built once per source state and published whole."""

from __future__ import annotations

import glob
import os
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pandas_streaming_spark import catalog
from pandas_streaming_spark.catalog import derived_dir, load_table

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _entries(path: str) -> list[tuple]:
    return [k for k in catalog._SCHEMAS if k[0] == os.path.abspath(path)]


def test_second_load_starts_no_job(spark, tmp_path, jobs_started):
    d = str(tmp_path)
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["AFRICA", "ASIA"]}),
        catalog.table_path(d, "region"),
    )
    _, first = jobs_started(lambda: load_table(spark, d, "region"))
    df, second = jobs_started(lambda: load_table(spark, d, "region"))
    assert first, "the first load infers the schema with a footer job"
    assert second == []
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(r["r_name"] for r in df.collect()) == ["AFRICA", "ASIA"]


def test_rewritten_file_returns_new_schema(spark, tmp_path):
    d = str(tmp_path)
    path = catalog.table_path(d, "region")
    pq.write_table(pa.table({"r_regionkey": [0], "r_name": ["AFRICA"]}), path)
    assert load_table(spark, d, "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_comment": ["x", "y"]}), path
    )
    df = load_table(spark, d, "region")
    assert df.columns == ["r_regionkey", "r_comment"]
    assert df.count() == 2
    assert len(_entries(path)) == 1  # the entry was replaced, not added


def test_inference_confs_get_their_own_entry(spark, tmp_path, jobs_started):
    d = str(tmp_path)
    path = catalog.table_path(d, "region")
    pq.write_table(pa.table({"r_regionkey": [0], "r_name": ["AFRICA"]}), path)
    load_table(spark, d, "region")
    other = spark.newSession()
    other.conf.set(NANOS, "false" if spark.conf.get(NANOS) == "true" else "true")
    _, jobs = jobs_started(lambda: load_table(other, d, "region"))
    assert jobs, "a session with other inference confs infers again"
    assert len(_entries(path)) == 2


def test_failed_inference_is_not_stored(spark, tmp_path):
    """TIMESTAMP(NANOS) fails inference without nanosAsLong; the Arrow
    fallback serves the table and no schema is kept, while a session with
    the conf keeps its own (long-nanos) schema apart."""
    d = str(tmp_path)
    path = catalog.table_path(d, "events")
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1], "ts": ts}), path)
    with_conf = spark.newSession()
    with_conf.conf.set(NANOS, "true")
    without = spark.newSession()
    without.conf.set(NANOS, "false")
    for s in (with_conf, without, without):
        df = load_table(s, d, "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert df.count() == 1
    assert [k[1] for k in _entries(path)] == [
        tuple(with_conf.conf.get(c) for c in catalog._INFERENCE_CONFS)
    ]


def test_threads_share_the_map(spark, tmp_path):
    """The plan audit's thread pool loads tables concurrently: every
    load sees the right schema and the map keeps one entry per key."""
    d = str(tmp_path)
    path = catalog.table_path(d, "nation")
    pq.write_table(pa.table({"n_nationkey": [0], "n_name": ["ALGERIA"]}), path)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [
                pool.submit(lambda: load_table(spark, d, "nation").columns)
                for _ in range(32)
            ]
            cols = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert cols == [["n_nationkey", "n_name"]] * 32
    assert len(_entries(path)) == 1


# --- derived copies ---------------------------------------------------------


@pytest.fixture
def source(tmp_path):
    """An sf dir whose ``orders`` table derived_dir only stats; removes the
    ``test-derived`` copies and locks under SCRATCH afterwards."""
    d = str(tmp_path)
    with open(catalog.table_path(d, "orders"), "wb") as f:
        f.write(b"v1")
    yield d
    for path in glob.glob(os.path.join(catalog.SCRATCH, "test-derived-*")):
        if os.path.isdir(path):
            shutil.rmtree(path)
        else:
            os.remove(path)


def _builder(calls: list):
    def build(tmp: str) -> None:
        calls.append(tmp)
        for i in range(3):
            with open(os.path.join(tmp, f"part-{i}"), "w") as f:
                f.write(str(i))

    return build


def _derive(sf: str, build) -> str:
    return derived_dir(sf, "orders", "test-derived", ["p"], build)


def test_derived_dir_builds_once(source):
    calls: list = []
    out = _derive(source, _builder(calls))
    assert _derive(source, _builder(calls)) == out
    assert len(calls) == 1
    assert sorted(os.listdir(out)) == ["_OK", "part-0", "part-1", "part-2"]
    assert not os.path.exists(calls[0])  # the temp dir was renamed away


def test_rewritten_source_gets_a_new_dir(source):
    calls: list = []
    first = _derive(source, _builder(calls))
    with open(catalog.table_path(source, "orders"), "wb") as f:
        f.write(b"v2, longer")
    second = _derive(source, _builder(calls))
    assert second != first and len(calls) == 2


def test_failed_build_publishes_nothing(source):
    def build(tmp: str) -> None:
        with open(os.path.join(tmp, "part-0"), "w") as f:
            f.write("half")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        _derive(source, build)
    key = catalog.derived_key(source, "orders", ["p"])
    out = os.path.join(catalog.SCRATCH, f"test-derived-{key}")
    assert not os.path.exists(out)
    assert glob.glob(f"{out}.tmp-*") == []


def test_stale_dir_without_marker_is_replaced(source):
    key = catalog.derived_key(source, "orders", ["p"])
    out = os.path.join(catalog.SCRATCH, f"test-derived-{key}")
    os.makedirs(out)
    with open(os.path.join(out, "leftover"), "w") as f:
        f.write("from a crashed in-place build")
    calls: list = []
    assert _derive(source, _builder(calls)) == out
    assert len(calls) == 1
    assert sorted(os.listdir(out)) == ["_OK", "part-0", "part-1", "part-2"]


def test_threads_that_miss_together_share_one_dir(source):
    """Eight threads miss one key at the same moment: each gets the same
    complete directory, and the copy is built once."""
    calls: list = []
    build = _builder(calls)
    start = threading.Barrier(8)

    def slow_build(tmp: str) -> None:
        time.sleep(0.2)
        build(tmp)

    def worker() -> tuple:
        start.wait()
        out = _derive(source, slow_build)
        return out, sorted(os.listdir(out))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(worker) for _ in range(8)]
            results = [f.result(timeout=60) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert len({out for out, _ in results}) == 1
    assert all(files == ["_OK", "part-0", "part-1", "part-2"] for _, files in results)
    assert len(calls) == 1
