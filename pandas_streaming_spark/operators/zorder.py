"""Z-order (Morton-curve) layout for multi-dimensional data skipping —
the Delta OPTIMIZE ZORDER BY / Iceberg sort-order analog, §4.2 scale
posture: at 100 TB the scan you never run is the cheapest, and min/max
stats only prune on dimensions the physical sort clusters. A single-key
sort clusters ONE dimension; interleaving the bits of two keys gives a
space-filling curve where file/row-group min-max envelopes stay tight on
BOTH dimensions, so a conjunctive predicate prunes multiplicatively.

All Spark-side: the z-value is a pure bitwise column expression
(codegen'd, no UDF), the clustering is ``repartitionByRange`` + in-task
sort (one range shuffle at layout-build time, amortized over every
subsequent scan), and pruning needs nothing but the parquet stats Spark
already pushes predicates against.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def z_value(a: Column, b: Column, bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of two non-negative integer
    columns into a Morton z-value (a's bit i at position 2i, b's at
    2i+1). Pure JVM bitwise expression chain — wide but flat, stays in
    whole-stage codegen. Values must fit in ``bits`` bits; clamp or
    bucket upstream (the layout only needs *rank* locality, so lossy
    bucketing of a wide domain is fine)."""
    z = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a.cast("long"), i).bitwiseAND(one), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b.cast("long"), i).bitwiseAND(one), 2 * i + 1)
        )
    return z


def write_zordered(
    df: DataFrame,
    zcol: Column,
    path: str,
    n_files: int = 32,
) -> None:
    """Write ``df`` clustered along ``zcol``: one range shuffle
    partitions the curve into ``n_files`` contiguous z-ranges, each task
    sorts its slice and writes one file — so every file's min/max
    envelope covers a compact curve segment (tight on both interleaved
    dimensions). The helper column never lands in the files."""
    (
        df.withColumn("__z", zcol)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def zordered_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Z-ordered copy of the events table, clustered on (user_id,
    hour-of-span): a derived copy (``catalog.derived_dir``) built once
    per state of the source and reused across queries and sessions."""
    from pandas_streaming_spark.catalog import derived_dir, load_table

    def build(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        # hour index relative to the table's own start keeps the domain in
        # 16 bits for any realistic span (one offline 1-row aggregate at
        # layout-build time; a lakehouse would use table-stats instead)
        h0 = ev.agg(
            F.floor(F.min(F.unix_micros("ts")) / 3_600_000_000).alias("h0")
        ).first()["h0"]
        hour_idx = (
            F.floor(F.unix_micros("ts") / F.lit(3_600_000_000)) - F.lit(int(h0))
        ).cast("long")
        write_zordered(
            ev,
            z_value(F.col("user_id"), hour_idx, bits=16),
            tmp,
            n_files=32,
        )

    return derived_dir(sf_dir, "events", "zorder", [], build)


def file_prune_fraction(
    path: str, col_ranges: dict[str, tuple[object, object]]
) -> float:
    """Fraction of parquet files under ``path`` whose footer min/max
    stats could match ALL given column ranges — what a stats-based
    scan planner would read. Audit helper (driver-side metadata reads
    only, no data scan)."""
    import glob

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    keep = 0
    for f in files:
        md = pq.read_metadata(f)
        schema_names = md.schema.to_arrow_schema().names
        overlaps = True
        for col, (lo, hi) in col_ranges.items():
            idx = schema_names.index(col)
            cmin = cmax = None
            for rg in range(md.num_row_groups):
                stats = md.row_group(rg).column(idx).statistics
                if stats is None or not stats.has_min_max:
                    cmin = None
                    break
                cmin = stats.min if cmin is None else min(cmin, stats.min)
                cmax = stats.max if cmax is None else max(cmax, stats.max)
            if cmin is None:
                overlaps = True  # no stats: must read
                continue
            if cmax < lo or cmin > hi:
                overlaps = False
                break
        keep += 1 if overlaps else 0
    return keep / max(len(files), 1)
