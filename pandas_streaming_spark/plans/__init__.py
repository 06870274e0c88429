"""Plan inspection + the 100 TB posture (SURVEY.md §4.2 item 6).

Helpers assert the physical plans we *want* — pushed filters, pruned
columns, broadcast joins, whole-stage codegen — so tests fail when a code
change silently degrades a plan. See scale_notes.md in this directory for
the per-operator 100 TB playbook.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan ``sizeInBytes`` estimate — file-footer
    statistics for parquet scans, propagated through projections and
    filters. FREE (no job runs); returns Long.Max-ish sentinels when
    unknown (streams, local relations, Python sources), so cost gates
    reading it should treat 'huge' as 'assume at-scale'. This is the
    statistic behind every round-7 auto knob (as-of plan selection,
    TF-IDF persist) — cost-based selection without a counting job."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    return int(str(stats.sizeInBytes()))


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if the parquet scan carries a pushed-down filter mentioning
    ``fragment`` (Catalyst's PushedFilters list)."""
    plan = physical_plan(df)
    return any(
        "PushedFilters" in line and fragment in line for line in plan.splitlines()
    )


def scan_read_schema(df: DataFrame) -> list[str]:
    """Columns the parquet scan actually reads (column pruning check)."""
    import re

    plan = physical_plan(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols.extend(p.split(":")[0] for p in m.group(1).split(",") if p)
    return cols


def scan_locations(df: DataFrame) -> dict[str, int]:
    """How many separate scan operators read each input location in the
    physical plan (r16, VERDICT r15 item 5). The q81 win — a whole extra
    corpus pass feeding one scalar — was found by eye; this makes the
    pattern mechanically visible registry-wide. Multiple scans of one
    table are NOT automatically wrong (self-joins, TF/DF branches), so
    callers report and rank rather than fail."""
    import re

    plan = physical_plan(df)
    counts: dict[str, int] = {}
    for m in re.finditer(r"Location: \w+ \[([^\]]*)", plan):
        loc = m.group(1).split(",")[0].strip()
        counts[loc] = counts.get(loc, 0) + 1
    return counts


def exchange_count(df: DataFrame) -> int:
    """Number of Exchange operators in the formatted physical plan
    (pre-AQE; AQE can only coalesce/convert these, never add). The
    r16 scan audit ranks registry entries by this to surface
    N-exchange outliers (guide §2.4)."""
    import re

    return len(re.findall(r"\(\d+\) Exchange", physical_plan(df)))


def join_strategies(df: DataFrame) -> list[str]:
    plan = physical_plan(df)
    return [
        kind
        for kind in (
            "BroadcastHashJoin",
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
        )
        if kind in plan
    ]


def codegen_stage_count(df: DataFrame) -> int:
    """Number of distinct whole-stage-codegen spans. The 'simple' explain
    marks codegen'd operators with a ``*(N)`` prefix; under AQE the
    annotation only exists on the *final* plan, so this executes the
    frame once (test-scale helper, not a data-path call)."""
    import re

    def stars() -> int:
        simple = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )
        return len(set(re.findall(r"\*\((\d+)\)", simple)))

    n = stars()
    if n == 0:
        df.collect()  # materialize the AQE final plan
        n = stars()
    return n


def broadcastable_smj_joins(
    df: DataFrame, threshold_bytes: int | None = None
) -> list[str]:
    """Equi-joins the physical plan runs as SortMergeJoin even though
    Catalyst's own PLANNING-TIME estimate says one side fits under the
    broadcast threshold (VERDICT r13 item 7: the one join anti-pattern
    the fragment list can't see — a stray ``hint("merge")``, a disabled
    threshold, or an estimate that grew between optimization and
    physical planning pays a sort+shuffle on BOTH sides that a
    broadcast would avoid, and AQE's runtime conversion only kicks in
    AFTER the shuffle write is paid). Returns one diagnostic string per
    offending join (empty list = clean).

    Mechanics: walk the PHYSICAL (pre-AQE) plan's SortMergeJoinExec
    nodes; for each child, follow its ``logicalLink`` down the physical
    chain to the logical subplan JoinSelection actually costed and read
    ``stats().sizeInBytes()`` (file-footer statistics — free, no job).
    Join-type-aware: only sides BHJ could legally build are considered
    (full outer: none; left outer/semi/anti: right side only; right
    outer: left side only; inner: either). At healthy defaults Catalyst
    already broadcasts anything that fits, so a hit means a hint or
    conf is overriding the optimizer's own cost call."""
    import re

    if threshold_bytes is None:
        raw = df.sparkSession.conf.get(
            "spark.sql.autoBroadcastJoinThreshold", "10485760"
        )
        m = re.fullmatch(r"(-?\d+)\s*([kKmMgGtTpP]?)[bB]?", raw.strip())
        if m is None:  # unparseable conf string: audit at Spark's default
            threshold_bytes = 10 << 20
        else:
            mult = {
                "": 1,
                "k": 1 << 10,
                "m": 1 << 20,
                "g": 1 << 30,
                "t": 1 << 40,
                "p": 1 << 50,
            }[(m.group(2) or "").lower()]
            threshold_bytes = int(m.group(1)) * mult
        if threshold_bytes < 0:  # broadcast disabled: audit at the default
            threshold_bytes = 10 << 20

    #: physical child indices BHJ may build, per join type
    buildable = {
        "Inner": (0, 1),
        "Cross": (0, 1),
        "LeftOuter": (1,),
        "LeftSemi": (1,),
        "LeftAnti": (1,),
        "RightOuter": (0,),
    }

    def linked_size(phys) -> int | None:
        cur = phys
        for _ in range(16):
            ll = cur.logicalLink()
            if ll.isDefined():
                return int(str(ll.get().stats().sizeInBytes()))
            if cur.children().size() == 0:
                return None
            cur = cur.children().apply(0)
        return None

    hits: list[str] = []
    skipped = 0

    def walk(node) -> None:
        # ADVICE r14: exception scope covers ONLY the node inspection —
        # a py4j hiccup on one exotic node must not silently prune its
        # whole subtree (an audit that returns clean on a plan it never
        # fully walked is worse than one that crashes). Skips are
        # counted and surfaced so a degraded walk is visible.
        nonlocal skipped
        try:
            if node.getClass().getSimpleName() == "SortMergeJoinExec":
                jt = node.joinType().toString()
                sides = buildable.get(
                    jt, (0, 1) if jt.startswith("ExistenceJoin") else ()
                )
                if jt.startswith("ExistenceJoin"):
                    sides = (1,)
                fits = [
                    (i, sz)
                    for i in sides
                    if (sz := linked_size(node.children().apply(i)))
                    is not None
                    and sz <= threshold_bytes
                ]
                if fits:
                    i, sz = min(fits, key=lambda t: t[1])
                    hits.append(
                        f"SortMergeJoin ({jt}) where the "
                        f"{'left' if i == 0 else 'right'} side's estimate "
                        f"{sz}B fits the {threshold_bytes}B broadcast "
                        "threshold"
                    )
        except Exception:  # py4j surprise on this node only: count + go on
            skipped += 1
        try:
            n = node.children().size()
        except Exception:
            skipped += 1
            return
        for i in range(n):
            try:
                child = node.children().apply(i)
            except Exception:
                skipped += 1
                continue
            walk(child)

    walk(df._jdf.queryExecution().sparkPlan())
    if skipped:
        hits.append(f"[audit degraded: {skipped} plan node(s) skipped]")
    return sorted(set(hits))


#: entries allowed to keep the named fragment in their physical plan —
#: each is a declared contract surface, not an accident
PLAN_AUDIT_ALLOW = {
    "CartesianProduct": {"q10_cross_join"},  # the GRADED bounded cross join
    # the row-at-a-time Python UDF/UDTF contract rows (SURVEY §2.9 UDF
    # surface); every other batch entry must stay JVM-side /
    # Arrow-vectorized
    "BatchEvalPython": {
        "q61_udaf_geomean",
        "q120_python_udtf",
        "q170_arrow_udf",
    },
}

#: entries allowed a SortMergeJoin despite a broadcast-fitting estimate
#: (populated only if a graded entry deliberately pins the SMJ shape,
#: e.g. a bucketed exchange-free layout where BHJ would re-plan worse)
SMJ_AUDIT_ALLOW: set[str] = set()

#: query modules whose entries RUN (streaming replays / sink commits)
#: when the DataFrame is built — their cost model is the replay harness,
#: not a batch plan, so the per-entry audit skips them (their plan
#: discipline is pinned by the replay/state tests instead)
PLAN_AUDIT_SKIP_MODULES = ("streaming_q", "kafka_q", "stream_upsert_q")


def audit_registry(spark, sf_dir: str) -> dict[str, list[str]]:
    """Per-entry plan-shape audit (VERDICT r12 item 8): build every batch
    registry entry's physical plan and flag forbidden fragments —
    CartesianProduct anywhere, row-at-a-time Python (BatchEvalPython) in
    any non-contract entry. This turns the bench's global `no_cartesian`
    invariant into a per-entry assertion that fails naming the entry,
    BEFORE a regression costs anything at scale. Returns
    {query_name: [violation, ...]} — empty dict = clean registry."""
    from pandas_streaming_spark.queries import QUERIES

    names = [
        name
        for name, fn in QUERIES.items()
        if not any(m in fn.__module__ for m in PLAN_AUDIT_SKIP_MODULES)
    ]

    def one(name: str) -> tuple[str, list[str]]:
        df = QUERIES[name](spark, sf_dir)
        plan = physical_plan(df)
        hits = [
            frag
            for frag, allow in PLAN_AUDIT_ALLOW.items()
            if frag in plan and name not in allow
        ]
        # r14 (VERDICT r13 item 7): SMJ chosen where Catalyst's own
        # estimate says a side fits broadcast — a contradiction that
        # costs two sorted shuffles; clean registries stay clean
        # because Catalyst broadcasts these by itself, so any hit is a
        # hint/conf regression naming its entry.
        # r16 (VERDICT r15 item 1, suite wall time): only run the
        # node-by-node py4j plan walk when the ALREADY-built formatted
        # plan mentions a SortMergeJoin at all — walking 314 clean
        # plans cost the audit test ~4 min for zero possible hits (the
        # walk can only flag SortMergeJoinExec nodes, and those always
        # print as "SortMergeJoin" in the formatted plan). Identical
        # verdict, ~an order of magnitude less py4j traffic.
        if name not in SMJ_AUDIT_ALLOW and "SortMergeJoin" in plan:
            hits.extend(broadcastable_smj_joins(df))
        return name, hits

    # r16 (VERDICT r15 item 1, guide §2.6): the audit is mostly
    # driver-side planning — DataFrame builds + Catalyst explainString,
    # all py4j calls that release the GIL. Builders run Spark jobs only
    # for eager pins (localCheckpoint(eager=True)) and for the first
    # schema inference per table (catalog._SCHEMAS). The registry's
    # ~300 entries are independent, so a small thread pool parallelizes
    # it for real. The 8 threads share catalog._SCHEMAS; that is safe
    # because each dict get/set is atomic under the GIL and threads that
    # miss together store the same schema for the same key (a race costs
    # one extra inference job, never a wrong schema). pool.map preserves
    # registry order; the verdict is the same dict a sequential walk
    # produced.
    from concurrent.futures import ThreadPoolExecutor

    bad: dict[str, list[str]] = {}
    with ThreadPoolExecutor(max_workers=8) as pool:
        for name, hits in pool.map(one, names):
            if hits:
                bad[name] = hits
    return bad
