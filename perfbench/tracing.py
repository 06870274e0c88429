"""Spans and Spark-side counters for the traced run.

Spans are recorded around calls into the engine's modules from the
benchmark's own code (nothing inside the package is instrumented). Each
span has a name, start, end, parent and operation id; they stay in memory
and are written out when the run ends. Execution counters come from the
Spark status store through py4j, one job group per operation, so no UI
or REST endpoint is needed.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import threading
import time

from py4j.protocol import Py4JJavaError


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing.
    Parents are tracked per thread, so spans from several threads nest
    correctly."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, op: str | int | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "op": op,
            "parent": stack[-1] if stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str, op=None) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (op is None or s["op"] == op)
        ]

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its child spans
        cover (children of one span run one after another)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# -- Spark status store ------------------------------------------------------

EXEC_KEYS = (
    "stages", "tasks", "task_run_s", "task_cpu_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "gc_s",
)


class JobStats:
    """Reads job and stage metrics for job ids from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def group_jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_window(self, job_id: int) -> tuple[float, float] | None:
        """(submitted, completed) epoch seconds of a finished job."""
        try:
            jd = self.store.job(job_id)
        except Py4JJavaError:  # evicted from the store: no data
            return None
        sub, done = jd.submissionTime(), jd.completionTime()
        if sub.isEmpty() or done.isEmpty():
            return None
        return sub.get().getTime() / 1e3, done.get().getTime() / 1e3

    def jobs_between(self, t0: float, t1: float) -> list[int]:
        """Ids of jobs submitted within epoch seconds ``[t0, t1]``."""
        jobs = self.store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            jd = jobs.apply(i)
            sub = jd.submissionTime()
            if not sub.isEmpty() and t0 <= sub.get().getTime() / 1e3 <= t1:
                out.append(jd.jobId())
        return sorted(out)

    def jobs_wall_s(self, job_ids: list[int]) -> float:
        total = 0.0
        for j in job_ids:
            w = self.job_window(j)
            if w:
                total += w[1] - w[0]
        return total

    def execution(self, job_ids: list[int]) -> dict[str, float]:
        """Summed stage metrics over the stages the jobs ran (skipped
        stages, which reuse shuffle output, count as no work)."""
        out = dict.fromkeys(EXEC_KEYS, 0.0)
        seen: set[int] = set()
        for j in job_ids:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # never submitted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["task_run_s"] += sd.executorRunTime() / 1e3
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["gc_s"] += sd.jvmGcTime() / 1e3
        return out


def median_exec(records: list[dict[str, float]]) -> dict[str, float]:
    """Per-key median over per-operation execution records."""
    return {
        k: median_or_zero([r[k] for r in records]) for k in EXEC_KEYS
    }


# -- per-layer metric table ---------------------------------------------------

#: Every per-layer metric: (unit, the end-to-end figure it should move).
#: Each workload reports all of them; a layer the workload never calls
#: reports 0.
LAYER_METRICS: dict[str, tuple[str, str]] = {
    "session.get_spark_s": ("s", "setup_s on every workload"),
    "catalog.load_table_s": ("s", "olap_suite pass time (op_p50_s); no change elsewhere"),
    "queries.build_s": ("s", "olap_suite pass time (op_p50_s)"),
    "queries.build_jobs": ("count", "olap_suite pass time (op_p50_s)"),
    "queries.build_share": ("ratio", "olap_suite pass time (op_p50_s)"),
    "catalyst.plan_s": ("s", "olap_suite pass time; upsert_merge read time"),
    "execution.stages": ("count", "olap_suite work_per_s; upsert_merge op_p50_s"),
    "execution.tasks": ("count", "olap_suite work_per_s; upsert_merge op_p50_s"),
    "execution.task_run_s": ("s", "olap_suite work_per_s; upsert_merge op_p50_s"),
    "execution.task_cpu_s": ("s", "olap_suite work_per_s; upsert_merge op_p50_s"),
    "execution.shuffle_read_bytes": ("bytes", "olap_suite work_per_s; upsert_merge op_p50_s"),
    "execution.shuffle_write_bytes": ("bytes", "olap_suite work_per_s; upsert_merge op_p50_s"),
    "execution.spill_bytes": ("bytes", "olap_suite work_per_s; upsert_merge op_p50_s"),
    "execution.gc_s": ("s", "olap_suite work_per_s; upsert_merge op_p50_s"),
    "arrow.transfer_s": ("s", "olap_suite pass time, mainly q81 and q84"),
    "arrow.rows": ("count", "olap_suite pass time, mainly q81 and q84"),
    "sources.latest_offset_ms": ("ms", "stream_window latency (op_p50_s)"),
    "sources.get_batch_ms": ("ms", "stream_window latency (op_p50_s)"),
    "streaming.add_batch_ms": ("ms", "stream_window latency (op_p50_s)"),
    "streaming.wal_commit_ms": ("ms", "stream_window latency (op_p50_s)"),
    "streaming.commit_offsets_ms": ("ms", "stream_window latency (op_p50_s)"),
    "streaming.query_planning_ms": ("ms", "stream_window latency (op_p50_s)"),
    "streaming.trigger_ms": ("ms", "stream_window latency (op_p50_s)"),
    "streaming.triggers": ("count", "stream_window latency (op_p50_s)"),
    "streaming.rows_per_trigger": ("count", "stream_window latency (op_p50_s)"),
    "state.rows_total": ("count", "stream_window drain rate (work_per_s)"),
    "state.memory_bytes": ("bytes", "stream_window drain rate (work_per_s)"),
    "state.commit_ms": ("ms", "stream_window drain rate (work_per_s)"),
    "state.rows_dropped_by_watermark": ("count", "stream_window correctness; must be 0"),
    "generator.lag_s": ("s", "stream_window latency (op_p50_s)"),
    "upsert.jobs_per_commit": ("count", "upsert_merge commit time (op_p50_s)"),
    "upsert.table_files": ("count", "upsert_merge commit and read time"),
    "upsert.compact_s": ("s", "upsert_merge rows/s (work_per_s)"),
    "upsert.read_s": ("s", "upsert_merge read time"),
    "trace.overhead_s": ("s", "traced minus untraced op median, same run"),
    "trace.spans": ("count", "spans recorded"),
}
