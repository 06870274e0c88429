"""Ingest-surface queries (round 8): schema evolution across parquet
epochs — the §2.1 batch-I/O surface a long-lived 100 TB lake actually
has (columns appear over time; old files never get rewritten).

House rules unchanged: aliases match the duckdb SQL exactly; numeric
outputs exact integers or identical-arithmetic doubles.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pandas_streaming_spark.catalog import derived_dir, load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _evolved_layout(spark: SparkSession, sf_dir: str) -> str:
    """Two-epoch parquet layout of the orders table, a derived copy
    (``catalog.derived_dir``) built once per state of the source:

    - ``epoch=0``: odd order keys, WITHOUT the late column;
    - ``epoch=1``: even order keys, WITH a new ``channel`` column
      (derived deterministically from o_custkey).

    This is the real shape of a lake that added a column mid-history —
    per-file schemas genuinely differ, which is exactly what
    ``mergeSchema`` exists for. Executor tasks write the files."""

    def build(tmp: str) -> None:
        o = _t(spark, sf_dir, "orders")
        e0 = o.filter(F.col("o_orderkey") % 2 == 1)
        e1 = o.filter(F.col("o_orderkey") % 2 == 0).withColumn(
            "channel", F.concat(F.lit("c"), (F.col("o_custkey") % 3).cast("string"))
        )
        e0.write.parquet(os.path.join(tmp, "epoch=0"))
        e1.write.parquet(os.path.join(tmp, "epoch=1"))

    return derived_dir(sf_dir, "orders", "schema-evo", [], build)


def q187_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read (§2.1): a two-epoch parquet layout whose
    files have DIFFERENT physical schemas (``channel`` exists only in
    epoch 1) is read back with ``mergeSchema=true`` + partition
    discovery; epoch-0 rows surface the late column as NULL. Graded per
    (epoch, channel): counts and exact cents — the oracle re-derives
    both the epoch rule and the late column from the raw table, so a
    reader that dropped the extra column, non-NULLed the old epoch, or
    lost rows at the schema seam mismatches. Scale: mergeSchema's cost
    is footer-only schema union across files; the scan itself stays
    pruned and pushed down like any parquet read."""
    layout = _evolved_layout(spark, sf_dir)
    # partition discovery yields the epoch column from the dir names (the
    # _OK cache marker is underscore-hidden to Spark); mergeSchema unions
    # the per-file schemas so epoch-0 rows carry channel = NULL
    df = spark.read.option("mergeSchema", "true").parquet(layout)
    df = df.withColumn("epoch", F.col("epoch").cast("int"))
    return (
        df.groupBy("epoch", "channel")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("sum_cents"),
        )
        .orderBy("epoch", "channel")
    )


def _orc_layout(spark: SparkSession, sf_dir: str) -> str:
    """The documents table as a lang-partitioned ORC layout, a derived
    copy (``catalog.derived_dir``) — the second columnar format a
    multi-engine lake actually carries next to parquet."""

    def build(tmp: str) -> None:
        docs = _t(spark, sf_dir, "documents")
        (
            docs.select(
                "doc_id", "source", "n_chars", F.split("text", " ").alias("toks"), "lang"
            )
            .select(
                "doc_id",
                "source",
                F.col("n_chars").cast("long").alias("n_chars"),
                F.size("toks").cast("long").alias("n_toks"),
                "lang",
            )
            .write.mode("overwrite")
            .partitionBy("lang")
            .orc(tmp)
        )

    return derived_dir(sf_dir, "documents", "orcdocs", [], build)


def q304_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write → read roundtrip (§2.1 batch-I/O surface, the second
    columnar format next to parquet/CSV/XML/JSON — what a multi-engine
    lake interop layer must preserve bit-for-bit): documents written as
    a lang-PARTITIONED ORC layout (executor-written, content-keyed
    cache), read back with partition discovery, pruned with a partition
    filter (``lang <> 'zh'`` — the directory-pruning path, no zh file
    is ever opened), and aggregated per (lang, source). The oracle
    computes the same frame from the original parquet, so a row lost or
    a type drifted anywhere in the ORC writer/reader mismatches.
    Scale: ORC rides the same vectorized columnar scan + partition
    pruning as parquet in Spark; the write is one executor pass."""
    layout = _orc_layout(spark, sf_dir)
    df = spark.read.orc(layout).filter(F.col("lang") != "zh")
    return (
        df.groupBy("lang", "source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum("n_toks").cast("long").alias("sum_toks"),
        )
        .orderBy("lang", "source")
    )


def q122_iterable_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python streaming DataSource (§2.1 ``from_iterable``,
    sources/pystream.py) under the correctness gate: a deterministic
    synthetic sequence — NOT a table collect — streams through
    micro-batches of 37 rows, aggregated per modulo group. The oracle
    recomputes the same sequence with GENERATE_SERIES, so a drop,
    duplication, or mis-batching in the source's offset accounting
    cannot grade green. (The other pystream sources share this reader
    contract; they are protocol-e2e-tested with real clients.)
    Moved from streaming_q in the round-8 rebalance — it is an ingest
    surface, not a replay-protocol query."""
    from pandas_streaming_spark.queries.streaming_q import STATE_PARTITIONS
    from pandas_streaming_spark.sources.pystream import from_iterable_stream
    from pandas_streaming_spark.streaming.replay import run_stream_to_df

    n = 1000
    rows = [(i, i % 7, (i * i) % 101) for i in range(1, n + 1)]
    stream = from_iterable_stream(
        spark, rows, "i long, grp long, v long", batch_size=37
    )
    agg = stream.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("i").alias("sum_i"),
        F.sum("v").alias("sum_v"),
        F.max("i").alias("max_i"),
    )
    out = run_stream_to_df(
        spark, agg, "complete", state_partitions=STATE_PARTITIONS,
        trigger="drain",
    )
    return out.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        F.col("sum_i").cast("long").alias("sum_i"),
        F.col("sum_v").cast("long").alias("sum_v"),
        F.col("max_i").cast("long").alias("max_i"),
    ).orderBy("grp")


def q191_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-digest table reconciliation (anti-entropy between two
    snapshots — the data-diff primitive for verifying a replicated or
    migrated 100 TB table WITHOUT comparing rows): each snapshot folds
    to 64 md5-bucket digests (row count + order-independent sum of
    per-row 28-bit content hashes — integer sums, associative, any
    partitioning); snapshots differ exactly in the buckets whose
    (count, digest) pairs differ, and only those buckets would be
    drilled row-level in a real sync. Snapshot B is a deterministic
    mutation of A (price bump on key % 101 == 0, delete of
    key % 997 == 0), so the differing-bucket set is fixture-stable and
    the oracle re-derives it with the same md5 arithmetic. Scale: two
    scans, two 64-row aggregates, one 64-row join — the exchange is
    constant-size regardless of table size."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    b = (
        o.filter(F.col("o_orderkey") % 997 != 0)
        .withColumn(
            "cents",
            F.when(
                F.col("o_orderkey") % 101 == 0, F.col("cents") + 100
            ).otherwise(F.col("cents")),
        )
    )

    def digests(df: DataFrame, n_tag: str, d_tag: str) -> DataFrame:
        bucket = F.pmod(
            F.conv(
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 7),
                16,
                10,
            ).cast("long"),
            F.lit(64),
        )
        rowh = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("o_orderkey").cast("string"),
                        F.col("cents").cast("string"),
                    )
                ),
                1,
                7,
            ),
            16,
            10,
        ).cast("long")
        return (
            df.select(bucket.alias("bucket"), rowh.alias("__h"))
            .groupBy("bucket")
            .agg(
                F.count("*").cast("long").alias(n_tag),
                F.sum("__h").cast("long").alias(d_tag),
            )
        )

    da = digests(o, "n_a", "dig_a")
    db = digests(b, "n_b", "dig_b")
    joined = da.join(db, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
        F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
        F.coalesce("dig_a", F.lit(0)).cast("long").alias("dig_a"),
        F.coalesce("dig_b", F.lit(0)).cast("long").alias("dig_b"),
    )
    return (
        joined.filter(
            (F.col("n_a") != F.col("n_b")) | (F.col("dig_a") != F.col("dig_b"))
        )
        .select("bucket", "n_a", "n_b")
        .orderBy("bucket")
    )


QUERIES = {
    "q187_schema_evolution": q187_schema_evolution,
    "q122_iterable_source": q122_iterable_source,
    "q191_table_diff": q191_table_diff,
    "q304_orc_roundtrip": q304_orc_roundtrip,
}

ORACLES = {
    # same frame from the ORIGINAL parquet — any ORC writer/reader
    # row loss or type drift mismatches
    "q304_orc_roundtrip": """
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS sum_toks
FROM documents
WHERE lang <> 'zh'
GROUP BY lang, source
ORDER BY lang, source
""",
    # no table involved: the oracle regenerates the synthetic sequence
    "q122_iterable_source": """
SELECT i % 7 AS grp, COUNT(*) AS n, CAST(SUM(i) AS BIGINT) AS sum_i,
       CAST(SUM((i * i) % 101) AS BIGINT) AS sum_v, MAX(i) AS max_i
FROM (SELECT UNNEST(GENERATE_SERIES(1, 1000)) AS i)
GROUP BY 1
ORDER BY grp
""",
    "q191_table_diff": """
WITH a AS (
  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), b AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 101 = 0 THEN cents + 100 ELSE cents END AS cents
  FROM a WHERE o_orderkey % 997 <> 0
), da AS (
  SELECT CAST(CONCAT('0x', SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)), 1, 7))
              AS BIGINT) % 64 AS bucket,
         COUNT(*) AS n_a,
         SUM(CAST(CONCAT('0x', SUBSTR(MD5(CAST(o_orderkey AS VARCHAR) || ':'
             || CAST(cents AS VARCHAR)), 1, 7)) AS BIGINT)) AS dig_a
  FROM a GROUP BY 1
), db AS (
  SELECT CAST(CONCAT('0x', SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)), 1, 7))
              AS BIGINT) % 64 AS bucket,
         COUNT(*) AS n_b,
         SUM(CAST(CONCAT('0x', SUBSTR(MD5(CAST(o_orderkey AS VARCHAR) || ':'
             || CAST(cents AS VARCHAR)), 1, 7)) AS BIGINT)) AS dig_b
  FROM b GROUP BY 1
)
SELECT bucket,
       CAST(COALESCE(n_a, 0) AS BIGINT) AS n_a,
       CAST(COALESCE(n_b, 0) AS BIGINT) AS n_b
FROM da FULL OUTER JOIN db USING (bucket)
WHERE COALESCE(n_a, 0) <> COALESCE(n_b, 0)
   OR COALESCE(dig_a, 0) <> COALESCE(dig_b, 0)
ORDER BY bucket
""",
    "q187_schema_evolution": """
WITH e AS (
  SELECT CASE WHEN o_orderkey % 2 = 1 THEN 0 ELSE 1 END AS epoch,
         CASE WHEN o_orderkey % 2 = 0
              THEN 'c' || CAST(o_custkey % 3 AS VARCHAR) END AS channel,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT epoch, channel, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM e GROUP BY epoch, channel
ORDER BY epoch, channel
""",
}
