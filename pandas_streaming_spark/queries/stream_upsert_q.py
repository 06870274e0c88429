"""Advanced streaming composition split out of `streaming_q` (round 6,
VERDICT r5 item 8): the events replay driving the KeyedUpsertSink —
idempotent per-key upserts graded against the batch latest-row
oracle, the continuously-maintained rollup view — and the chained
multi-stateful pipeline (stream-stream join feeding a windowed
aggregation inside ONE streaming query).

Same house rules and oracle discipline as the parent module.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pandas_streaming_spark.streaming.replay import replay_events, write_replay_batches

# module reference, not a value import: tests monkeypatch
# streaming_q.K_BATCHES to drive split-invariance checks
from pandas_streaming_spark.queries import streaming_q as _sq


def q140_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch keyed MERGE sink (streaming/upsert.KeyedUpsertSink):
    the events replay upserts each user's latest row into a bucketed
    manifest-committed parquet table — the Delta/Iceberg MERGE shape
    with per-batch cost O(batch + dirty buckets), idempotent across
    batch re-delivery via the _HEAD batch-id fence. The oracle is the
    batch "latest row per key" query: final table ≡ last-writer-wins
    over the whole stream, regardless of the batch split (split
    invariance pinned in tests at k∈{1,5,20})."""
    import shutil as _sh

    from pandas_streaming_spark.streaming.replay import _fresh_dir
    from pandas_streaming_spark.streaming.upsert import KeyedUpsertSink

    replay_dir = write_replay_batches(spark, sf_dir, _sq.K_BATCHES)
    stream = replay_events(spark, sf_dir, replay_dir)
    sink = KeyedUpsertSink(
        _fresh_dir("upsert"), ["user_id"], ["ts", "event_id"], num_buckets=8
    )
    chkpt = _fresh_dir("chkpt")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_sq.STATE_PARTITIONS))
    try:
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", chkpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    snap = sink.read(spark).localCheckpoint(eager=True)
    sink.close()
    _sh.rmtree(chkpt, ignore_errors=True)
    return snap.select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.round("value", 2).alias("last_value"),
    ).orderBy("user_id")


def q151_streaming_rollup_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MATERIALIZED VIEW maintenance — the q143 continuous
    aggregate kept fresh by the stream: update-mode hourly partials
    (count + integer-cent sum per event type) flow through the
    KeyedUpsertSink, whose last-writer-wins MERGE keyed on the group
    retains each group's newest partial. The batch id is the sequence
    (monotone per re-emitted group), so re-deliveries and late updates
    resolve exactly like any warehouse MV refresh. Final table ==
    one-shot batch rollup, graded against the raw-events oracle."""
    import shutil as _sh

    from pandas_streaming_spark.streaming.replay import _fresh_dir
    from pandas_streaming_spark.streaming.upsert import KeyedUpsertSink

    replay_dir = write_replay_batches(spark, sf_dir, _sq.K_BATCHES)
    stream = replay_events(spark, sf_dir, replay_dir)
    partials = (
        stream.withColumn("cents", F.round(F.col("value") * 100, 0).cast("long"))
        .groupBy(F.date_trunc("hour", "ts").alias("bucket_ts"), "event_type")
        .agg(F.count("*").alias("cnt"), F.sum("cents").alias("sum_cents"))
    )
    sink = KeyedUpsertSink(
        _fresh_dir("mv"), ["bucket_ts", "event_type"], ["__seq"], num_buckets=8
    )
    chkpt = _fresh_dir("chkpt-mv")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_sq.STATE_PARTITIONS))
    try:
        q = (
            partials.writeStream.outputMode("update")
            .foreachBatch(
                lambda df, bid: sink(df.withColumn("__seq", F.lit(bid)), bid)
            )
            .option("checkpointLocation", chkpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    view = sink.read(spark).localCheckpoint(eager=True)
    sink.close()
    _sh.rmtree(chkpt, ignore_errors=True)
    return view.select(
        F.date_format("bucket_ts", "yyyy-MM-dd HH:mm").alias("hour"),
        "event_type",
        F.col("cnt").alias("n"),
        (F.col("sum_cents") / 100.0).alias("sum_value"),
    ).orderBy("hour", "event_type")


def q165_chained_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in one streaming query (Spark 4 /
    SPARK-42376): an event-time stream-stream interval join (purchases
    x preceding clicks within 1 h) feeds a tumbling-window aggregation
    downstream — two state stores in one pipeline, the shape earlier
    engines forced into two jobs with an intermediate sink. Both
    operators evict on the propagated watermark; the far-future flush
    sentinel closes the final windows so the bounded replay emits its
    tail. Purchase values are integer cents before the join so sums
    grade exactly. Oracle: the batch interval join + hourly rollup."""
    from pandas_streaming_spark.streaming.joins import interval_join
    from pandas_streaming_spark.streaming.replay import (
        replay_events as _re,
        run_stream_to_df as _run,
    )

    replay_dir = write_replay_batches(spark, sf_dir, _sq.K_BATCHES, sentinel=True)
    pur = _re(spark, sf_dir, replay_dir).filter(
        F.col("event_type") == "purchase"
    ).withColumn("cents", F.round(F.col("value") * 100, 0).cast("long"))
    clk = _re(spark, sf_dir, replay_dir).filter(F.col("event_type") == "click")
    joined = interval_join(
        pur, clk, key="user_id", left_time="ts", right_time="ts",
        lookback="1 HOUR", watermark="2 hours", how="inner",
    )
    # the sentinel PAIR must flow THROUGH the aggregation (emission of
    # the tail windows rides the batch that carries it); its far-future
    # window is dropped afterwards against a threshold derived from the
    # real data, not a hardcoded fixture date
    agg = joined.groupBy(F.window(F.col("l.__lt"), "1 hour").alias("w")).agg(
        F.count("*").alias("n_pairs"),
        F.sum("l.cents").cast("long").alias("sum_cents"),
    )
    out = _run(spark, agg, "append", state_partitions=_sq.jvm_state_partitions(sf_dir))
    from pandas_streaming_spark.catalog import load_table as _lt

    max_real = _lt(spark, sf_dir, "events").agg(F.max("ts").alias("m"))
    return (
        out.join(F.broadcast(max_real))
        .filter(F.col("w.start") <= F.col("m"))  # sentinel is +365d
        .drop("m")
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("w_start"),
            "n_pairs",
            "sum_cents",
        )
        .orderBy("w_start")
    )


def q173_dynamic_session_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC session windows (Spark's expression-valued
    ``session_window`` gap): each event extends its session by a gap
    that depends on the EVENT — purchases hold the session open 30
    minutes, everything else 10 — which fixed-gap sessionization (q45)
    cannot express. Semantics: per-event half-open windows
    [ts, ts+gap) that merge while they overlap; the oracle re-derives
    the same islands with a running-max-of-ends window (head iff
    ts >= max of all previous ends), so the merge rule itself is
    graded. Runs as a real 5-batch replay in complete mode."""
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))

    def transform(stream: DataFrame) -> DataFrame:
        return stream.groupBy(
            F.session_window("ts", gap).alias("w"), "user_id"
        ).agg(F.count("*").alias("n"))

    replay_dir = write_replay_batches(spark, sf_dir, _sq.K_BATCHES)
    out = _run_replay(spark, sf_dir, replay_dir, transform)
    return (
        out.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum("n").cast("long").alias("n_events"),
            F.max("n").cast("long").alias("max_session_events"),
        )
        .orderBy("user_id")
    )


def _run_replay(spark, sf_dir, replay_dir, transform):
    from pandas_streaming_spark.streaming.replay import (
        replay_events as _re,
        run_stream_to_df as _run,
    )

    stream = _re(spark, sf_dir, replay_dir)
    return _run(
        spark, transform(stream), "complete",
        state_partitions=_sq.jvm_state_partitions(sf_dir),
    )


def q310_stream_merge_delete(
    spark: SparkSession, sf_dir: str, k: int | None = None
) -> DataFrame:
    """Streaming MERGE WITH DELETE — the CDC-feed shape q140's
    upsert-only sink couldn't express (Delta "WHEN MATCHED ... DELETE" /
    Debezium op='d'; r14): the events replay maintains each user's
    latest row, but an ``error`` event is a DELETE MARKER for the key —
    the account drops out of the live table until a later event
    re-creates it. The sink's tombstone_col carries the marker;
    tombstones compete in last-writer-wins by (ts, event_id) and stay
    in storage, so a LATE event older than the delete can never
    resurrect the key (unit-pinned), while ``read()`` serves live rows
    only. Final state ≡ the batch "latest row per key, minus keys whose
    latest is a delete" query under ANY batch split (same LWW argument
    as q140). Graded as the per-event-type readout of the live table
    (n_users + exact integer cent sum). Scale: identical to q140 —
    O(batch + dirty buckets) per micro-batch, tombstones add one
    boolean column and are reclaimed the day a compaction policy ages
    them out past the stream's lateness bound (not before: the
    resurrection guard IS the stored tombstone)."""
    import shutil as _sh

    from pandas_streaming_spark.streaming.replay import _fresh_dir
    from pandas_streaming_spark.streaming.upsert import KeyedUpsertSink

    replay_dir = write_replay_batches(spark, sf_dir, k or _sq.K_BATCHES)
    stream = replay_events(spark, sf_dir, replay_dir).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        (F.col("event_type") == "error").alias("__del"),
    )
    sink = KeyedUpsertSink(
        _fresh_dir("merge-del"),
        ["user_id"],
        ["ts", "event_id"],
        num_buckets=8,
        tombstone_col="__del",
    )
    chkpt = _fresh_dir("chkpt-del")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_sq.STATE_PARTITIONS))
    try:
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", chkpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    live = sink.read(spark).localCheckpoint(eager=True)
    sink.close()
    _sh.rmtree(chkpt, ignore_errors=True)
    return (
        live.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .orderBy("event_type")
    )


def q311_cdc_derived_retention(
    spark: SparkSession, sf_dir: str, k: int | None = None
) -> DataFrame:
    """CDC DELETE-retention lifecycle with a DERIVED horizon (r15,
    VERDICT r14 item 2): q310 stored tombstones forever and the r14
    retention knob trusted a caller-written predicate — the one place a
    user could silently break the resurrection guard. Here the horizon
    is computed by the SINK from recorded stream progress: every commit
    records the running max of the leading seq column (ts), and
    ``compact(drop_tombstones_lateness=12h)`` reclaims exactly the
    tombstones older than ``seq_high - 12h`` — no hand-written
    predicate anywhere in the graded path. Full lifecycle: (1) the
    events replay MERGEs per-user latest rows with ``error`` events as
    delete markers; (2) derived-horizon compaction physically drops
    aged-out tombstones (safe: a contract-respecting late row has
    ts >= horizon and so outranks any reclaimed tombstone in
    last-writer-wins anyway) while RETAINING young ones; (3) a late
    batch then arrives carrying, for every retained-delete key, a row
    1 s OLDER than its delete but still >= the horizon (the exact case
    the retained tombstone exists for) — none may resurrect. Graded
    readout: live table per event type PLUS a ``__tombstone`` summary
    row counting the tombstones still in storage — so the oracle checks
    both that young deletes still guard and that old ones were
    physically reclaimed. Split-invariant (seq_high is the global max
    ts under any batch split; pinned k∈{1,5}). Scale: compaction is the
    O(num_buckets)-file OPTIMIZE rewrite; the retention decision is one
    manifest-recorded scalar, not a table scan."""
    import datetime as _dt
    import shutil as _sh

    from pandas_streaming_spark.streaming.replay import _fresh_dir
    from pandas_streaming_spark.streaming.upsert import KeyedUpsertSink

    lateness = _dt.timedelta(hours=12)
    replay_dir = write_replay_batches(spark, sf_dir, k or _sq.K_BATCHES)
    stream = replay_events(spark, sf_dir, replay_dir).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        (F.col("event_type") == "error").alias("__del"),
    )
    sink = KeyedUpsertSink(
        _fresh_dir("cdc-ret"),
        ["user_id"],
        ["ts", "event_id"],
        num_buckets=8,
        tombstone_col="__del",
    )
    chkpt = _fresh_dir("chkpt-ret")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_sq.STATE_PARTITIONS))
    try:
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", chkpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    # (2) derived-horizon compaction — the only retention input is the
    # stream's declared lateness bound
    sink.compact(spark, drop_tombstones_lateness=lateness)
    horizon = sink.seq_high() - lateness
    # (3) the adversarial late batch: per retained tombstone, a
    # contract-legal row (ts >= horizon) that is older than the delete
    retained = sink.read(spark, include_tombstones=True).filter("__del")
    late = (
        retained.select(
            "user_id",
            (F.col("ts") - F.expr("INTERVAL 1 SECOND")).alias("ts"),
            F.lit(-1).cast("long").alias("event_id"),
            F.lit("late").alias("event_type"),
            F.lit(0).cast("long").alias("cents"),
            F.lit(False).alias("__del"),
        )
        .filter(F.col("ts") >= F.lit(horizon))
    )
    sink(late, batch_id=10**6)
    snap = sink.read(spark, include_tombstones=True).localCheckpoint(eager=True)
    sink.close()
    _sh.rmtree(chkpt, ignore_errors=True)
    live = (
        snap.filter(~F.col("__del"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
    )
    tomb = snap.filter("__del").agg(
        F.lit("__tombstone").alias("event_type"),
        F.count("*").cast("long").alias("n_users"),
        F.coalesce(F.sum("cents"), F.lit(0)).cast("long").alias("sum_cents"),
    )
    return live.unionByName(tomb).orderBy("event_type")


QUERIES = {
    "q311_cdc_derived_retention": q311_cdc_derived_retention,
    "q173_dynamic_session_gap": q173_dynamic_session_gap,
    "q165_chained_stateful": q165_chained_stateful,
    "q140_upsert_sink": q140_upsert_sink,
    "q151_streaming_rollup_view": q151_streaming_rollup_view,
    "q310_stream_merge_delete": q310_stream_merge_delete,
}

ORACLES = {
}

# the q310 live view PLUS the derived-retention invariant: stored
# tombstones after compact(lateness=12h) are exactly the latest-is-delete
# keys with delete ts >= max(ts) - 12h; adversarial late rows (1s older
# than each retained delete) must all lose last-writer-wins, so they
# appear NOWHERE in the output
ORACLES["q311_cdc_derived_retention"] = """
WITH latest AS (
  SELECT user_id, ts, event_type,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
),
hor AS (SELECT MAX(ts) - INTERVAL 12 HOUR AS h FROM events),
live AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(cents) AS BIGINT) AS sum_cents
  FROM latest WHERE rn = 1 AND event_type <> 'error'
  GROUP BY event_type
),
tomb AS (
  SELECT '__tombstone' AS event_type,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS sum_cents
  FROM latest, hor
  WHERE rn = 1 AND event_type = 'error' AND ts >= h
)
SELECT * FROM live
UNION ALL
SELECT * FROM tomb
ORDER BY event_type
"""

# latest row per user, keys whose latest event is the delete marker
# ('error') removed — the batch form of CDC merge-with-delete
ORACLES["q310_stream_merge_delete"] = """
WITH latest AS (
  SELECT user_id, event_type,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM latest
WHERE rn = 1 AND event_type <> 'error'
GROUP BY event_type
ORDER BY event_type
"""

ORACLES["q140_upsert_sink"] = """
SELECT user_id, event_type AS last_event_type, ROUND(value, 2) AS last_value
FROM (
  SELECT user_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id
"""

ORACLES["q151_streaming_rollup_view"] = """
WITH c AS (
  SELECT ts, event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M') AS hour, event_type,
       COUNT(*) AS n,
       CAST(SUM(cents) AS DOUBLE) / 100.0 AS sum_value
FROM c GROUP BY 1, 2 ORDER BY hour, event_type
"""

ORACLES["q165_chained_stateful"] = """
WITH p AS (
  SELECT user_id, ts, CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, ts FROM events WHERE event_type = 'click'
),
j AS (
  SELECT p.ts, p.cents
  FROM p JOIN c ON p.user_id = c.user_id
   AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
)
SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M') AS w_start,
       COUNT(*) AS n_pairs,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM j GROUP BY 1 ORDER BY w_start
"""

ORACLES["q173_dynamic_session_gap"] = """
WITH e AS (
  -- event_id joins every ORDER BY: the 10x replicas make (ts_us,
  -- end_us) massively tied, and duckdb's parallel window execution was
  -- observed returning RUN-VARYING running-max frames over tied ROWS
  -- orders (user 26 flipped 20/18 across identical invocations); a
  -- unique total order removes the ambiguity without changing the
  -- island semantics
  SELECT user_id, event_id, EPOCH_US(ts) AS ts_us,
         EPOCH_US(ts) + CASE WHEN event_type = 'purchase'
                             THEN 1800000000 ELSE 600000000 END AS end_us
  FROM events
),
m AS (
  SELECT user_id, event_id, ts_us, end_us,
         MAX(end_us) OVER (PARTITION BY user_id
                           ORDER BY ts_us, end_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS prev_max_end
  FROM e
),
isl AS (
  SELECT user_id,
         SUM(CASE WHEN prev_max_end IS NULL OR ts_us >= prev_max_end
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts_us, end_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM m
),
sess AS (
  SELECT user_id, sid, COUNT(*) AS n FROM isl GROUP BY user_id, sid
)
SELECT user_id, COUNT(*) AS n_sessions, CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(MAX(n) AS BIGINT) AS max_session_events
FROM sess GROUP BY user_id ORDER BY user_id
"""
