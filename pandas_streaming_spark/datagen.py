"""Synthetic scale-up of a testdata directory (bench scaling curve).

The driver ships sf0.001/0.01/0.1; to measure how plans *scale* rather
than re-measure the fixed ~0.3–0.5 s local-mode per-query floor, the
bench replicates the fact tables ``factor``× with disjoint key ranges
(executor-side crossJoin with ``spark.range`` — no driver materialization)
and leaves the dimensions untouched, preserving every FK distribution.

Replicated keys are offset per replica so uniqueness invariants hold:
orders/lineitem share the o_orderkey/l_orderkey offset, so the star join
stays consistent. Documents keep identical text across replicas, which
turns the dedup queries into a genuine 10-copy near-dup stress test.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pandas_streaming_spark.catalog import TABLES, load_table, table_path

KEY_OFFSET = 1_000_000_000

#: fact table -> key columns to offset per replica
FACT_KEYS: dict[str, list[str]] = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def scale_dataset(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    factor: int,
    only: list[str] | None = None,
) -> str:
    """Write a ``factor``×-scaled copy of ``src_dir`` to ``dest_dir``.

    Idempotent: a ``_SCALED_OK`` marker short-circuits repeat calls, so
    the bench synthesizes once and reuses across runs. The marker encodes
    the factor and a source fingerprint (per-table size+mtime): calling
    with a different factor, or after the source data is regenerated,
    re-synthesizes instead of returning a stale copy.

    ``only``: replicate just the listed fact tables and copy the rest at
    1× — a 1000×-posture probe replicates the one fact table the probed
    query reads instead of paying a 1000× lineitem expansion nothing will
    scan."""
    import hashlib

    fp = hashlib.md5()
    for name in TABLES:
        st = os.stat(table_path(src_dir, name))
        fp.update(f"{name}|{st.st_size}|{st.st_mtime_ns}|".encode())
    # layout=v2 (r16, VERDICT r15 item 3): the file-count rule below
    # changed, so cached v1 replicas (small-files layout) must
    # re-synthesize once rather than serve the old layout forever
    stamp = f"factor={factor} layout=v2 src={fp.hexdigest()[:16]}"
    if only is not None:
        stamp = (
            f"factor={factor} layout=v2 only={sorted(only)} "
            f"src={fp.hexdigest()[:16]}"
        )
    marker = os.path.join(dest_dir, "_SCALED_OK")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == stamp:
                return dest_dir
        shutil.rmtree(dest_dir, ignore_errors=True)  # stale: wrong factor/source
    os.makedirs(dest_dir, exist_ok=True)
    for name in TABLES:
        dest = table_path(dest_dir, name)
        if name not in FACT_KEYS or (only is not None and name not in only):
            shutil.copyfile(table_path(src_dir, name), dest)
            continue
        df = load_table(spark, src_dir, name)  # events arrives µs-normalized
        rep = df.crossJoin(
            # explicit hint: without it the BNLJ may pick the fact side to
            # broadcast (observed on the q81 1-row crossJoin)
            F.broadcast(spark.range(factor).withColumnRenamed("id", "__rep"))
        )
        for key in FACT_KEYS[name]:
            rep = rep.withColumn(key, F.col(key) + F.col("__rep") * KEY_OFFSET)
        # a small source parquet is one input split, so without an explicit
        # repartition ONE task expands and writes the whole factor-x table
        # (measured: ~10 min for 100x sf0.1). Round-robin repartition (no
        # column): hash-partitioning on __rep can collide several replicas
        # into one partition and leave others empty (ADVICE r4), while
        # round-robin spreads rows evenly regardless of replica count.
        import os as _os

        try:
            cpus = int(_os.environ.get("SPARK_GRAFT_CPUS", "32"))
        except ValueError:
            cpus = 32
        # r16 (VERDICT r15 item 3, guide §6): derive the output file
        # count from the estimated output SIZE instead of a constant —
        # the v1 rule (min(factor, 2*cpus)) wrote the x100 lineitem as
        # 128 × ~8.6 MB and fed the cold grid pure per-file open/footer
        # overhead. Rule: aim for ~128 MB files, but keep up to one
        # split per core as long as files stay ≥ ~16 MB (scan
        # parallelism on the local miniature; at real scale the 128 MB
        # term dominates and the rule degenerates to the guide's
        # 128 MB–1 GB target). Compressed-size estimate: source parquet
        # bytes × factor (replication preserves compressibility).
        est_bytes = os.stat(table_path(src_dir, name)).st_size * factor
        n_out = max(
            -(-est_bytes // (128 << 20)),  # ceil: ~128 MB files
            min(cpus, -(-est_bytes // (16 << 20))),  # parallelism floor
        )
        n_out = max(1, min(int(n_out), min(factor, 2 * cpus)))
        rep.repartition(n_out).drop("__rep").select(*df.columns).write.mode(
            "overwrite"
        ).parquet(dest)
    with open(marker, "w") as f:
        f.write(stamp)
    return dest_dir
