"""Testdata catalog: parquet loaders + temp-view registration.

Tables (TESTDATA.md / FIXTURES.md): region nation customer supplier part
orders lineitem events documents embeddings — one parquet file per table
under ``{sf_dir}/``.

At 100 TB the same API points at a partitioned lakehouse layout instead of
single files; loaders keep using ``spark.read.parquet`` so partition
pruning and predicate pushdown apply unchanged. See ``plans.scale_notes``
for the recommended physical layout per table.

Schema reuse: inferring a parquet schema starts a footer-reading Spark
job, so :func:`load_table` infers each table once and keeps the result in
a process-local map; later loads read with ``spark.read.schema(...)``
and start no job. An entry is keyed by the table's absolute path and the
session values of the confs that change what inference returns
(``_INFERENCE_CONFS``), and it holds the source fingerprint (name, size
and mtime_ns of every file) taken before inference. A load whose
fingerprint differs (the file was rewritten or regenerated) infers again
and replaces the entry; a failed inference stores nothing. A source the
local filesystem cannot stat is inferred on every load, as before.

Derived copies: the streaming harness and a few entries read copies of a
source table rather than the table itself (replay splits, Kafka spools,
a two-epoch layout, an ORC layout, a z-ordered copy). Structured
Streaming is exactly-once only over input that can be replayed and does
not change, so each copy is built once per state of its source table and
reused after that. :func:`derived_dir` is the one place that policy
lives: the copy's directory under ``SCRATCH`` is named by
:func:`derived_key` (the table's absolute path, its source fingerprint
and the caller's parameters), the caller's ``build`` writes into a
private temporary directory, and one ``os.rename`` publishes it with an
``_OK`` marker inside. Builders of one key are serialized by a file
lock, so threads or processes that miss together build once and all
return the same complete directory; a failed build publishes nothing.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor.
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation", "supplier", "part"})


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


# --- transparent bucketed layout (VERDICT r5 item 2) ---------------------
# ensure_bucketed_layout() writes a bucketed copy of a table once;
# load_table() then silently prefers it, so every query riding the
# catalog gets the exchange-free co-located join without code changes —
# the way a lakehouse table's physical layout serves all readers. A
# manifest (in the warehouse dir, since testdata is read-only) records
# the source file's fingerprint; a driver-regenerated source file
# invalidates the layout instead of silently serving stale rows.
_LAYOUT_ENABLED = True


def set_scale_layout(enabled: bool) -> bool:
    """Toggle transparent bucketed-layout preference; returns the prior
    value (so callers can restore). Env ``SPARK_GRAFT_SCALE_LAYOUT=0``
    disables it globally."""
    global _LAYOUT_ENABLED
    prior = _LAYOUT_ENABLED
    _LAYOUT_ENABLED = enabled
    return prior


def _layout_active() -> bool:
    return _LAYOUT_ENABLED and os.environ.get("SPARK_GRAFT_SCALE_LAYOUT", "1") != "0"


def _layout_digest(sf_dir: str) -> str:
    return hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]


def _warehouse_path(spark: SparkSession) -> str | None:
    from urllib.parse import urlparse

    parsed = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    return parsed.path if parsed.scheme in ("", "file") else None


def _layout_manifest_path(spark: SparkSession, sf_dir: str, name: str) -> str | None:
    wh = _warehouse_path(spark)
    if wh is None:
        return None
    return f"{wh}/_pss_layouts/{_layout_digest(sf_dir)}_{name}.json"


def _source_fingerprint(sf_dir: str, name: str) -> list:
    """(size, mtime_ns) per file of the source parquet — cheap staleness
    probe; the round driver regenerates testdata between rounds."""
    p = table_path(sf_dir, name)
    if os.path.isdir(p):
        files = sorted(
            os.path.join(p, f) for f in os.listdir(p) if not f.startswith("_")
        )
    else:
        files = [p]
    return [[os.path.basename(f), os.path.getsize(f), os.stat(f).st_mtime_ns]
            for f in files]


# --- derived copies (see the module docstring) -----------------------------
#: Directory for derived copies and harness scratch, at the repository root.
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)


def derived_key(sf_dir: str, name: str, params) -> str:
    """Content key of a copy of table ``name`` built with ``params``
    (JSON-serializable): a rewritten source maps to a new key."""
    blob = json.dumps(
        [os.path.abspath(table_path(sf_dir, name)),
         _source_fingerprint(sf_dir, name), params]
    )
    return hashlib.md5(blob.encode()).hexdigest()[:16]


def derived_dir(
    sf_dir: str,
    name: str,
    prefix: str,
    params,
    build: Callable[[str], None],
) -> str:
    """Directory ``SCRATCH/{prefix}-{derived_key}`` holding the copy that
    ``build(tmp)`` writes into the empty directory ``tmp``; built on the
    first call per key and returned as is after that."""
    out = os.path.join(SCRATCH, f"{prefix}-{derived_key(sf_dir, name, params)}")
    marker = os.path.join(out, "_OK")
    if os.path.exists(marker):
        return out
    os.makedirs(SCRATCH, exist_ok=True)
    # flock excludes separate open() calls, threads of one process included
    with open(f"{out}.lock", "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(marker):  # another builder published while we waited
            return out
        tmp = f"{out}.tmp-{uuid.uuid4().hex}"
        os.makedirs(tmp)
        try:
            build(tmp)
            with open(os.path.join(tmp, "_OK"), "w") as f:
                f.write("ok")
            shutil.rmtree(out, ignore_errors=True)  # stale copy without a marker
            os.rename(tmp, out)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def _load_bucketed(spark: SparkSession, sf_dir: str, name: str) -> DataFrame | None:
    """Return the bucketed copy of (sf_dir, name) if a valid one exists,
    re-registering it in a fresh session's catalog from the manifest."""
    mp = _layout_manifest_path(spark, sf_dir, name)
    if mp is None or not os.path.exists(mp):
        return None
    try:
        with open(mp, encoding="utf-8") as f:
            m = json.load(f)
        if m["fingerprint"] != _source_fingerprint(sf_dir, name):
            os.remove(mp)  # source regenerated: layout is stale
            return None
        tbl = m["table_name"]
        if not spark.catalog.tableExists(tbl):
            if not os.path.isdir(m["location"]):
                os.remove(mp)
                return None
            sort = (
                f"SORTED BY ({', '.join(m['sort_cols'])})" if m["sort_cols"] else ""
            )
            spark.sql(
                f"CREATE TABLE {tbl} ({m['schema_ddl']}) USING PARQUET "
                f"CLUSTERED BY ({', '.join(m['bucket_cols'])}) {sort} "
                f"INTO {m['n_buckets']} BUCKETS LOCATION '{m['location']}'"
            )
        return spark.table(tbl)
    except Exception:
        return None  # any manifest/registration issue: fall back to plain


def ensure_bucketed_layout(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Create (or reuse) a bucketed physical copy of ``{sf_dir}/{name}``
    that :func:`load_table` will transparently prefer. Idempotent: a
    valid existing layout (matching source fingerprint) is reused across
    sessions via its manifest. Requires a local filesystem warehouse."""
    existing = _load_bucketed(spark, sf_dir, name)
    if existing is not None:
        return existing
    wh = _warehouse_path(spark)
    if wh is None:
        raise ValueError("bucketed layouts require a local-filesystem warehouse")
    tbl = f"pss_b_{_layout_digest(sf_dir)}_{name}"
    was = set_scale_layout(False)  # read the SOURCE, not a half-built layout
    try:
        src = load_table(spark, sf_dir, name)
    finally:
        set_scale_layout(was)
    df = write_bucketed(spark, src, tbl, bucket_cols, n_buckets, sort_cols)
    mp = _layout_manifest_path(spark, sf_dir, name)
    os.makedirs(os.path.dirname(mp), exist_ok=True)
    manifest = {
        "table_name": tbl,
        "location": f"{wh}/{tbl.lower()}",
        "bucket_cols": bucket_cols,
        "n_buckets": n_buckets,
        "sort_cols": sort_cols or [],
        "schema_ddl": df._jdf.schema().toDDL(),
        "fingerprint": _source_fingerprint(sf_dir, name),
    }
    tmp = mp + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(manifest, f)
    os.replace(tmp, mp)  # atomic: readers never see a partial manifest
    return df


def drop_bucketed_layout(spark: SparkSession, sf_dir: str, name: str) -> None:
    mp = _layout_manifest_path(spark, sf_dir, name)
    if mp and os.path.exists(mp):
        with open(mp, encoding="utf-8") as f:
            m = json.load(f)
        spark.sql(f"DROP TABLE IF EXISTS {m['table_name']}")
        shutil.rmtree(m["location"], ignore_errors=True)
        os.remove(mp)


# --- schema reuse (see the module docstring) --------------------------------
#: Session confs that change what parquet schema inference returns.
_INFERENCE_CONFS: tuple[str, ...] = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)
#: (absolute path, inference conf values) -> (source fingerprint, schema).
#: Shared by every thread and session of the process: a dict get or set
#: is atomic under the GIL, and two threads that miss together both infer
#: and store the same schema, so a race costs one extra job, never a
#: wrong schema.
_SCHEMAS: dict[tuple, tuple[list, StructType]] = {}


def read_parquet(
    spark: SparkSession, *paths: str, schema: StructType | None = None
) -> DataFrame:
    """Read parquet with a schema the caller already holds, which starts
    no Spark job; with ``schema=None`` Spark infers it from a footer."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def _read_source(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Plain read of a source table, inferring its schema only for a file
    state (and inference confs) not seen before in this process."""
    path = table_path(sf_dir, name)
    try:
        fingerprint = _source_fingerprint(sf_dir, name)
    except OSError:  # missing or non-local source: let Spark resolve it
        return read_parquet(spark, path)
    key = (
        os.path.abspath(path),
        tuple(spark.conf.get(c) for c in _INFERENCE_CONFS),
    )
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == fingerprint:
        return read_parquet(spark, path, schema=hit[1])
    df = read_parquet(spark, path)
    _SCHEMAS[key] = (fingerprint, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if _layout_active():
        bucketed = _load_bucketed(spark, sf_dir, name)
        if bucketed is not None:
            return bucketed  # events ts was normalized at layout-write time
    if name == "events":
        try:
            df = _read_source(spark, sf_dir, name)
        except Exception:
            # session without spark.sql.legacy.parquet.nanosAsLong rejects
            # the TIMESTAMP(NANOS) column outright (PARQUET_TYPE_ILLEGAL);
            # fall back to an Arrow-side ns->µs cast. Fine at test scale;
            # a cluster deployment sets the conf instead.
            return _events_via_arrow(spark, table_path(sf_dir, name))
        return _normalize_event_ts(df)
    return _read_source(spark, sf_dir, name)


def _events_via_arrow(spark: SparkSession, path: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    schema = pa.schema(
        [
            f.with_type(pa.timestamp("us")) if pa.types.is_timestamp(f.type) else f
            for f in table.schema
        ]
    )
    return _normalize_event_ts(
        spark.createDataFrame(table.cast(schema, safe=False).to_pandas())
    )


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to µs TIMESTAMP (instant/LTZ) whatever form the
    parquet delivers:

    - TIMESTAMP(NANOS) + ``spark.sql.legacy.parquet.nanosAsLong`` → long
      nanos: floor-divide to µs (integer div — the value exceeds double
      precision) and rebuild, matching duckdb's ns→µs truncation.
    - naive timestamp[us] (isAdjustedToUTC=false → TIMESTAMP_NTZ): cast to
      TIMESTAMP — a pure type adjustment under the pinned UTC session
      timezone, and what streaming needs (withWatermark/session_window
      reject NTZ event-time columns).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL-flavored queries)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 8,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Write ``df`` as a bucketed (optionally sort-within-bucket) managed
    table and return the re-read frame.

    This is the 100 TB answer to the fact-fact shuffle: two tables
    bucketed by the same key into the same bucket count join with NO
    Exchange (and with ``sort_cols`` = join key, no Sort either) — the
    scaled100 bench shows the lineitem⋈orders SMJ sort is exactly what
    dominates a single machine at 60M rows, and on a cluster it is the
    shuffle you pay on every repeated join. Bucket once, join many.
    Verified by tests/test_plans.py::test_bucketed_fact_join_is_exchange_free.
    """
    # the default in-memory catalog forgets managed tables between
    # sessions while their spark-warehouse dirs persist; clear both so
    # overwrite cannot hit LOCATION_ALREADY_EXISTS on a leftover dir.
    # The {warehouse}/{name} path derivation below only holds for an
    # UNQUALIFIED default-database name on a local warehouse (a db.tbl
    # name lives under {wh}/{db}.db/, a remote warehouse isn't an OS
    # path) — assert rather than silently miss the stale dir (ADVICE r4).
    if "." in table_name:
        raise ValueError(
            "write_bucketed supports unqualified default-database table "
            f"names only (got {table_name!r}); qualified names would "
            "defeat the stale-warehouse-dir cleanup"
        )
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    from urllib.parse import urlparse

    wh_uri = spark.conf.get("spark.sql.warehouse.dir")
    parsed = urlparse(wh_uri)
    if parsed.scheme in ("", "file"):
        shutil.rmtree(f"{parsed.path}/{table_name.lower()}", ignore_errors=True)
    # non-local warehouse: DROP TABLE above is authoritative; there is no
    # orphan-dir failure mode because the catalog is durable there

    # r16 (VERDICT r15 item 3, guide §6 small files): a bucketed write
    # produces one file per (write task × bucket) — the r15 scaled100
    # layout shipped 2,050 files at ~0.5 MB each for lineitem (64 tasks
    # × 32 buckets), paying per-file open/footer overhead on every cold
    # read. Repartitioning by the bucket columns into n_buckets
    # partitions first aligns write tasks with buckets (repartition's
    # HashPartitioning and the bucket id are the same pmod(Murmur3Hash))
    # so each task holds exactly one bucket → n_buckets files total.
    # Layout-write-time cost only; the table's join/read semantics are
    # unchanged (results identical — layout is physical only).
    writer = (
        df.repartition(n_buckets, *bucket_cols)
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)
    return spark.table(table_name)
