"""Tuned SparkSession factory.

One session per process/suite (SparkSession start costs ~5 s locally,
BASELINE.md); every knob here is chosen for the 100 TB posture first and
local[32] testing second:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast demotion/promotion) — the single most important scale knob.
- Arrow on (pandas_udf / applyInPandas / toPandas cross the JVM<->Python
  boundary in columnar batches, not pickled rows).
- ``spark.sql.session.timeZone=UTC`` so timestamp<->date casts are
  engine-independent (duckdb oracle compares naive/UTC values).
- shuffle partitions default to cores locally; on a real cluster AQE
  coalesces from a deliberately high initial number instead.
- a generated-code cache of 1000 classes, so a warm query reuses the
  bytecode it compiled before. One pass of the seven perfbench
  ``olap_suite`` queries compiles about 113 distinct classes, and one
  pass of the 14 headline queries about 230; Spark's default of 100
  entries evicted each class before its next use, so every warm pass
  compiled all of them again. No results are cached.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "pandas-streaming-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    On a real cluster, drop ``master`` and submit with executors; every
    other conf below carries over unchanged.
    """
    # Wire the protobuf fallback (transformWithStateInPandas workers)
    # before the JVM exists — workers inherit PYTHONPATH from it.
    from pandas_streaming_spark.compat import ensure_protobuf

    ensure_protobuf()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local: ~cores. Cluster: set ~2-3x total executor cores and let
        # AQE coalesce down per-stage.
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # --- adaptive execution: runtime partition coalescing + skew join ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- Arrow for every Python-boundary crossing ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- joins: keep Spark's 10 MiB broadcast threshold. Measured on
        # the star join (q04): 64 MiB pulled a multi-million-row fact
        # projection into a driver-built broadcast — 5.5 s vs 3.5 s at
        # 10x sf0.1, and no faster at sf0.1. Always-tiny dims carry
        # explicit F.broadcast hints; AQE promotes anything whose runtime
        # size qualifies, which is the right call at every scale.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # --- scans: 128 MiB splits; vectorized parquet reader is default ---
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        # --- streaming: bounded state via watermarks; local checkpoints ---
        .config("spark.sql.streaming.stateStore.compression.codec", "lz4")
        .config("spark.sql.shuffle.spill.compress", "true")
        # --- codegen: the JVM's compiled-class cache, keyed by generated
        # source. Static: read once, when CodeGenerator builds its cache.
        # Measured working sets: ~113 classes per olap_suite pass, ~230 per
        # pass of the 14 headline queries. An LRU smaller than a cyclic
        # working set evicts each class before its next use and misses on
        # every access, so the default 100 recompiled each warm pass with
        # Janino (~10-17 ms a class, inside task time).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # timestamp_ntz would dodge tz issues but parquet files carry
        # instant semantics; UTC session TZ makes both engines agree.
        # events.parquet carries TIMESTAMP(NANOS) which vanilla Spark
        # rejects; read as long-nanos and convert in catalog.load_table
        # (floor to µs — matches duckdb's own ns→µs truncation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # local mode runs everything in the driver JVM; the 1g default
        # heap OOMs building 64 MiB-threshold broadcasts once the facts
        # grow (bench's 10x pass). Only effective before JVM launch.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
