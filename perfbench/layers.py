"""Spans the benchmark records around its calls into the package, and the
per-layer metrics a traced run derives from them and Spark's event log.

Layers are named after the package modules the benchmark calls:
``session`` (``get_spark``), ``catalog`` (``load_all``), ``registry`` (the
query builder), ``exec`` (Spark actions and the jobs, stages and tasks they
run), ``python`` (the Python-worker boundary), ``ingest``
(``IngestPipeline``) and ``trace`` (the cost of tracing itself). No span is
recorded inside the package.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from eventlog import GroupStats


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float
    parent: str | None
    op: str | None


class _Timing:
    seconds = 0.0


class Recorder:
    """Times every span; keeps the spans in memory only when tracing."""

    def __init__(self, keep: bool):
        self.keep = keep
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        timing = _Timing()
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start, t0 = time.time(), time.perf_counter()
        try:
            yield timing
        finally:
            timing.seconds = time.perf_counter() - t0
            self._stack.pop()
            if self.keep:
                self.spans.append(Span(name, start, time.time(), parent, op))

    def as_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


# Every per-layer metric, with its unit. A traced run prints all of them;
# a layer the workload never enters reads 0.
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "catalog.load_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.memo_hit_ratio": "ratio",
    "exec.action_s": "s",
    "exec.driver_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.sched_delay_ms": "ms",
    "exec.task_run_ms": "ms",
    "exec.task_cpu_ms": "ms",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.gc_ms": "ms",
    "session.jvm_retained_mb": "MB",
    "python.worker_run_ms": "ms",
    "python.worker_boot_ms": "ms",
    "python.bytes_to_worker": "bytes",
    "python.bytes_from_worker": "bytes",
    "ingest.batch_s": "s",
    "ingest.batch_jobs": "count",
    "ingest.files_written": "count",
    "ingest.bytes_written": "bytes",
    "ingest.read_day_s": "s",
    "ingest.read_dedup_s": "s",
    "ingest.quarantine_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
}

# Spans whose wall time runs Spark jobs on the op's behalf.
ACTION_SPANS = ("exec.action", "ingest.batch", "ingest.read_day", "ingest.read_dedup")


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _jobs_within(g: GroupStats | None, span: Span) -> list:
    if g is None:
        return []
    lo, hi = span.start * 1000 - 1, span.end * 1000 + 1
    return [j for j in g.jobs if lo <= j.start_ms <= hi]


def _uncovered_s(span: Span, jobs) -> float:
    """Span time not covered by the union of its jobs' run intervals."""
    lo, hi = span.start * 1000, span.end * 1000
    covered, cursor = 0.0, lo
    for s, e in sorted((max(j.start_ms, lo), min(j.end_ms or hi, hi)) for j in jobs):
        if e <= cursor:
            continue
        covered += e - max(s, cursor)
        cursor = e
    return max(0.0, (hi - lo) - covered) / 1000


def layer_metrics(spans: list[Span], groups: dict[str, GroupStats],
                  op_ids: list[str]) -> dict[str, float]:
    """Per-op means over the timed ops ``op_ids`` (events of other job
    groups, such as warm-up and checks, are ignored)."""
    by_op: dict[str, list[Span]] = {}
    for s in spans:
        if s.op is not None:
            by_op.setdefault(s.op, []).append(s)
    ops = [(op, by_op.get(op, []), groups.get(op)) for op in op_ids]

    def per_op(fn):
        return _mean(fn(sp, g) for _, sp, g in ops)

    def named(sp, name):
        return [s for s in sp if s.name == name]

    def total(g, attr):
        return getattr(g, attr) if g is not None else 0

    def py(g, key):
        return g.python.get(key, 0) if g is not None else 0

    builds = [s for _, sp, _ in ops for s in named(sp, "registry.build")]
    out = {
        "registry.build_s": _mean(s.end - s.start for s in builds),
        "registry.build_jobs": _mean(
            len(_jobs_within(g, s)) for _, sp, g in ops for s in named(sp, "registry.build")
        ),
        "exec.action_s": per_op(lambda sp, g: sum(
            s.end - s.start for s in sp if s.name in ACTION_SPANS)),
        "exec.driver_s": per_op(lambda sp, g: sum(
            _uncovered_s(s, _jobs_within(g, s)) for s in sp if s.name in ACTION_SPANS)),
        "exec.jobs": per_op(lambda sp, g: len(g.jobs) if g else 0),
        "exec.stages": per_op(lambda sp, g: total(g, "stages")),
        "exec.tasks": per_op(lambda sp, g: total(g, "tasks")),
        "exec.sched_delay_ms": per_op(lambda sp, g: total(g, "sched_delay_ms")),
        "exec.task_run_ms": per_op(lambda sp, g: total(g, "task_run_ms")),
        "exec.task_cpu_ms": per_op(lambda sp, g: total(g, "task_cpu_ns") / 1e6),
        "exec.shuffle_write_bytes": per_op(lambda sp, g: total(g, "shuffle_write_bytes")),
        "exec.shuffle_read_bytes": per_op(lambda sp, g: total(g, "shuffle_read_bytes")),
        "exec.spill_bytes": per_op(lambda sp, g: total(g, "spill_bytes")),
        "exec.gc_ms": per_op(lambda sp, g: total(g, "gc_ms")),
        "python.worker_run_ms": per_op(lambda sp, g: py(g, "worker_run_ms")),
        "python.worker_boot_ms": per_op(lambda sp, g: py(g, "worker_boot_ms")),
        "python.bytes_to_worker": per_op(lambda sp, g: py(g, "bytes_to_worker")),
        "python.bytes_from_worker": per_op(lambda sp, g: py(g, "bytes_from_worker")),
    }
    batches = [s for _, sp, _ in ops for s in named(sp, "ingest.batch")]
    out["ingest.batch_s"] = _mean(s.end - s.start for s in batches)
    out["ingest.batch_jobs"] = _mean(
        len(_jobs_within(g, s)) for _, sp, g in ops for s in named(sp, "ingest.batch"))
    for key, name in (("ingest.read_day_s", "ingest.read_day"),
                      ("ingest.read_dedup_s", "ingest.read_dedup")):
        out[key] = _mean(s.end - s.start for _, sp, _ in ops for s in named(sp, name))
    return out


def spark_spans(groups: dict[str, GroupStats], op_ids: list[str]) -> list[dict]:
    """The jobs, stages and tasks of each timed op, as child spans of it."""
    out = []
    for op in op_ids:
        g = groups.get(op)
        if g is None:
            continue
        stage_job = {sid: j.job_id for j in g.jobs for sid in j.stage_ids}
        for j in g.jobs:
            out.append(asdict(Span(f"job {j.job_id}", j.start_ms / 1000, j.end_ms / 1000, "op", op)))
        for sid, start, end in g.stage_times:
            out.append(asdict(Span(f"stage {sid}", start / 1000, end / 1000,
                                   f"job {stage_job.get(sid)}", op)))
        for tid, sid, start, end in g.task_times:
            out.append(asdict(Span(f"task {tid}", start / 1000, end / 1000, f"stage {sid}", op)))
    return out


def type_summary(op_types: dict[str, str], latencies: dict[str, float],
                 groups: dict[str, GroupStats]) -> dict[str, dict]:
    """Per op type: op count, median wall time and per-op plan counters,
    the input of ``layerdiff.py``."""
    out: dict[str, dict] = {}
    for op, kind in op_types.items():
        out.setdefault(kind, {"ops": []})["ops"].append(op)
    for kind, entry in out.items():
        ops = entry.pop("ops")
        gs = [groups.get(op) or GroupStats() for op in ops]
        entry.update(
            ops=len(ops),
            wall_s=statistics.median(latencies[op] for op in ops),
            jobs=_mean(len(g.jobs) for g in gs),
            stages=_mean(g.stages for g in gs),
            tasks=_mean(g.tasks for g in gs),
            shuffle_bytes=_mean(g.shuffle_write_bytes + g.shuffle_read_bytes for g in gs),
        )
    return out
