"""Spans, job-group attribution and per-layer metrics for the traced run.

Spans are recorded from the benchmark's own files, around calls into the
program's public functions (``install`` wraps them for the traced run
only).  Each span sets its own Spark job group, so every job a span starts
is attributed to it; per-task metrics come from Spark's event log, which
the traced run alone enables, joined to spans through the job group.

The per-layer metric table ``LAYERS`` is the one place that names each
metric, its unit, the end-to-end metric it should move, the workload where
the layer does most of its work and the workload where it does little.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ETL, MIX = "clinical_etl", "analytics_mix"

#: Spark counts every layer that runs jobs carries
SPARK_COUNTS = [("jobs", "count"), ("executor_cpu_s", "s"),
                ("shuffle_write_bytes", "bytes")]
#: task-shape counts the operator families and the final action also carry
TASK_SHAPE = [("task_skew", "ratio"), ("spill_bytes", "bytes"),
              ("empty_task_share", "share")]

OPERATOR_FAMILIES = {
    # family: (end-to-end metric, works on, does little on).  The short
    # shuffle queries weigh in the geometric mean as much as the long ones;
    # the driver-loop queries dominate the pass wall.
    "operators.aggregates": ("op_geomean_s", MIX, ETL),
    "operators.joins": ("op_geomean_s", MIX, ETL),
    "operators.windows": ("op_geomean_s", MIX, ETL),
    "operators.events": ("op_geomean_s", MIX, ETL),
    "operators.similarity": ("pass_s", MIX, ETL),
}


@dataclass(frozen=True)
class Layer:
    """One per-layer metric (lower is better for all of them): where its
    value comes from and which end-to-end metric it should move."""

    metric: str
    unit: str
    source: str  # "span:<name>" duration, "spark:<name>:<count>", "counter:<name>"
    moves: str  # end-to-end metric
    works_on: str  # workload where the layer does most of its work
    little_on: str  # workload where it does little

    @property
    def timed(self) -> bool:
        """Derived from clocks (a median over measured passes), not a count."""
        return self.unit == "s" or self.metric.endswith(("task_skew", "unattributed_share"))


def _layers() -> list[Layer]:
    out: list[Layer] = []

    def counter(metric, unit, *target):
        out.append(Layer(metric, unit, f"counter:{metric}", *target))

    def spark(prefix, name, counts, *target):
        for c, unit in counts:
            out.append(Layer(f"{prefix}{c}", unit, f"spark:{name}:{c}", *target))

    def span(name, *target, counts=SPARK_COUNTS, metric=None):
        """``<name>_s`` plus ``<name>.<count>`` for each Spark count."""
        out.append(Layer(metric or f"{name}_s", "s", f"span:{name}", *target))
        spark(f"{name}.", name, counts, *target)

    etl_batch = ("op_geomean_s", ETL, MIX)
    counter("session.build_s", "s", "setup_s", ETL, MIX)
    span("batch.open_batch", *etl_batch)
    span("catalog.write", *etl_batch)
    counter("catalog.bytes_written", "bytes", *etl_batch)
    counter("catalog.files_written", "count", *etl_batch)
    counter("catalog.lake_bytes_per_input_byte", "ratio", *etl_batch)
    span("catalog.read_batch", *etl_batch, counts=())
    # the dx_group stages are lazy: each is its builder plus the lake write
    # that materializes it (cleaned_data, preped_data, prediction_table)
    for stage in ("clean", "prep", "predict"):
        span(f"plans.dx_group.{stage}", *etl_batch, counts=())
    spark("plans.dx_group.", "plans.dx_group", SPARK_COUNTS, *etl_batch)
    span("plans.api_variant.publish", *etl_batch)
    span("plans.prostate.fanout", *etl_batch)
    span("ml.inference.score", *etl_batch)
    # eager jobs inside the query function are the driver-loop queries'
    # cost; the final action dominates the short queries
    loops, short = ("pass_s", MIX, ETL), ("op_geomean_s", MIX, ETL)
    span("queries.build", *loops, counts=SPARK_COUNTS[1:])
    spark("queries.eager_", "queries.build", [("jobs", "count")], *loops)
    span("queries.action", *short, counts=SPARK_COUNTS[1:] + TASK_SHAPE)
    spark("queries.action_", "queries.action", [("jobs", "count"), ("stages", "count")],
          *short)
    for fam, target in OPERATOR_FAMILIES.items():
        span(fam, *target, counts=SPARK_COUNTS + TASK_SHAPE)
    span("plans.curation", *loops)
    counter("tuning.blocks_left", "count", "peak_rss_mb", MIX, ETL)
    counter("tuning.temp_views_left", "count", "peak_rss_mb", MIX, ETL)
    counter("spark.unattributed_jobs", "count", "peak_rss_mb", ETL, MIX)
    counter("trace.pass_s", "s", "pass_s", ETL, MIX)
    counter("trace.unattributed_share", "share", "pass_s", ETL, MIX)
    return out


LAYERS = _layers()


# -- spans ----------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    label: str | None
    parent: int | None
    op: int | None
    t0: float
    t1: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"pb-{self.sid}"


class Tracer:
    """In-memory span recorder.  Disabled, every method is a no-op."""

    IDLE_GROUP = "pb-idle"

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op: int | None = None
        self.counters: dict[int, dict[str, float]] = {}
        if enabled:
            sc.setJobGroup(self.IDLE_GROUP, "perfbench idle")

    @contextmanager
    def span(self, name: str, label: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        s = Span(len(self.spans), name, label, parent.sid if parent else None,
                 self.op, time.perf_counter())
        self.spans.append(s)
        if parent is not None:
            parent.children.append(s.sid)
        self.stack.append(s)
        self.sc.setJobGroup(s.group, name if label is None else f"{name}[{label}]")
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self.stack.pop()
            self.sc.setJobGroup(self.stack[-1].group if self.stack else self.IDLE_GROUP,
                                "perfbench")

    def count(self, name: str, value: float) -> None:
        if self.enabled and self.op is not None:
            c = self.counters.setdefault(self.op, {})
            c[name] = c.get(name, 0.0) + value

    def wrap(self, owner, attr: str, name: str, label=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper; ``label``
        maps the call's arguments to the span label."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, label(*args, **kwargs) if label else None):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)


def _tree_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def install(tracer: Tracer) -> None:
    """Wrap the program's public entry points the workloads call into."""
    from dataengineer_spark import catalog, batch
    from dataengineer_spark.plans import api_variant, dx_group
    from dataengineer_spark.sources import files

    tracer.wrap(catalog.Catalog, "write", "catalog.write",
                label=lambda cat, df, table, mode="append": table)
    spanned_write = catalog.Catalog.write

    def write(cat, df, table, mode="append"):
        """Counts the files the write added or rewrote, outside its span."""
        before = _tree_files(cat.path(table))
        spanned_write(cat, df, table, mode)
        new = {p: n for p, n in _tree_files(cat.path(table)).items() if before.get(p) != n}
        tracer.count("catalog.bytes_written", sum(new.values()))
        tracer.count("catalog.files_written", len(new))

    catalog.Catalog.write = write
    tracer.wrap(catalog.Catalog, "read_batch", "catalog.read_batch",
                label=lambda self, table, batch_id: table)
    tracer.wrap(batch.BatchAllocator, "open_batch", "batch.open_batch")
    for stage in ("clean", "prep", "predict"):
        tracer.wrap(dx_group, f"{stage}_stage", f"plans.dx_group.{stage}")
    tracer.wrap(api_variant, "publish_stage", "plans.api_variant.publish")
    tracer.wrap(files, "write_csv", "plans.api_variant.publish", label=lambda *a, **k: "csv")


#: lake tables whose write materializes a lazy dx_group stage
STAGE_WRITES = {
    "cleaned_data": "plans.dx_group.clean",
    "preped_data": "plans.dx_group.prep",
    "prediction_table": "plans.dx_group.predict",
}


def _in_layer(s: Span, name: str) -> bool:
    """Whether span ``s`` counts towards layer ``name``: its own name, the
    lake write that materializes a dx_group stage, or any dx_group stage
    for the ``plans.dx_group`` totals."""
    if s.name == name:
        return True
    stage = STAGE_WRITES.get(s.label) if s.name == "catalog.write" else None
    if name == "plans.dx_group":
        return s.name.startswith("plans.dx_group.") or stage is not None
    return stage == name


# -- event log --------------------------------------------------------------------


def eventlog_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class StageStats:
    tasks: int = 0
    cpu_ns: int = 0
    shuffle_write: int = 0
    spill: int = 0
    empty_tasks: int = 0
    task_ms: list[int] = field(default_factory=list)


def read_eventlog(log_dir: str, app_id: str):
    """(jobs: job id -> (group, stage ids), stages: stage id -> StageStats)."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if app_id in os.path.basename(p)]
    jobs: dict[int, tuple[str | None, list[int]]] = {}
    stages: dict[int, StageStats] = {}
    submitted: set[int] = set()
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = (props.get("spark.jobGroup.id"), ev["Stage IDs"])
                elif kind == "SparkListenerStageSubmitted":
                    submitted.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], StageStats())
                    st.tasks += 1
                    st.cpu_ns += m.get("Executor CPU Time", 0)
                    st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    rec = (m.get("Input Metrics") or {}).get("Records Read", 0) + (
                        m.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0)
                    st.empty_tasks += rec == 0
                    st.task_ms.append(m.get("Executor Run Time", 0))
    stages = {s: v for s, v in stages.items() if s in submitted}
    return jobs, stages


# -- aggregation --------------------------------------------------------------------


def _spark_counts(job_ids: list[int], jobs, stages) -> dict[str, float]:
    sids = sorted({s for j in job_ids for s in jobs[j][1] if s in stages})
    sts = [stages[s] for s in sids]
    tasks = sum(s.tasks for s in sts)
    skews = [max(s.task_ms) / max(1.0, statistics.median(s.task_ms))
             for s in sts if s.tasks >= 2]
    return {
        "jobs": len(job_ids),
        "stages": len(sids),
        "executor_cpu_s": sum(s.cpu_ns for s in sts) / 1e9,
        "shuffle_write_bytes": sum(s.shuffle_write for s in sts),
        "spill_bytes": sum(s.spill for s in sts),
        "empty_task_share": sum(s.empty_tasks for s in sts) / tasks if tasks else 0.0,
        "task_skew": max(skews) if skews else 0.0,
    }


def layer_metrics(tracer: Tracer, reference: list[int], measured: list[list[int]],
                  n_passes: int, log_dir: str, app_id: str,
                  fixed: dict[str, float]) -> tuple[dict, dict]:
    """Per-layer metrics and the self time of each span name over the first
    measured pass.  ``reference`` and ``measured`` hold op span ids.  Timings
    are medians over the measured passes; counts come from the reference
    pass (the first warm-up pass, whose inputs and lake state are the same
    in every run), so they repeat exactly.  ``fixed`` holds metrics
    measured once per run (session build)."""
    jobs, stages = read_eventlog(log_dir, app_id)
    by_group: dict[str | None, list[int]] = {}
    for jid, (group, _sids) in jobs.items():
        by_group.setdefault(group, []).append(jid)
    spans = tracer.spans

    def subtree(sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(spans[s].children)
        return out

    def self_time(s: Span) -> float:
        return (s.t1 - s.t0) - sum(spans[c].t1 - spans[c].t0 for c in s.children)

    def pass_values(op_ids: list[int]) -> dict[str, float]:
        vals: dict[str, float] = {}
        in_pass = [s for op in op_ids for s in subtree(op)]
        for layer in LAYERS:
            kind, _, rest = layer.source.partition(":")
            if kind == "span":
                vals[layer.metric] = sum(spans[s].t1 - spans[s].t0 for s in in_pass
                                         if _in_layer(spans[s], rest))
            elif kind == "spark":
                name, count = rest.rsplit(":", 1)
                roots = [s for s in in_pass if _in_layer(spans[s], name)]
                jids = [j for r in roots for s in subtree(r)
                        for j in by_group.get(spans[s].group, [])]
                vals[layer.metric] = _spark_counts(jids, jobs, stages)[count]
            else:
                vals[layer.metric] = sum(tracer.counters.get(op, {}).get(layer.metric, 0.0)
                                         for op in op_ids)
        input_bytes = sum(tracer.counters.get(op, {}).get("catalog.input_bytes", 0.0)
                          for op in op_ids)
        if input_bytes:
            vals["catalog.lake_bytes_per_input_byte"] = vals["catalog.bytes_written"] / input_bytes
        wall = sum(spans[op].t1 - spans[op].t0 for op in op_ids)
        vals["trace.pass_s"] = wall
        vals["trace.unattributed_share"] = sum(self_time(spans[op]) for op in op_ids) / wall
        return vals

    counts = pass_values(reference)
    timed = [pass_values(p) for p in measured]
    metrics = {layer.metric: statistics.median(v[layer.metric] for v in timed)
               if layer.timed else counts[layer.metric] for layer in LAYERS}
    metrics["spark.unattributed_jobs"] = len(by_group.get(None, [])) / n_passes
    metrics.update(fixed)
    self_times: dict[str, float] = {}
    for op in measured[0]:
        for s in subtree(op):
            key = spans[s].name if spans[s].parent is not None else "op (unattributed)"
            self_times[key] = self_times.get(key, 0.0) + self_time(spans[s])
    return metrics, self_times


def write_spans(tracer: Tracer, path: str) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        json.dump([{"sid": s.sid, "name": s.name, "label": s.label, "parent": s.parent,
                    "op": s.op, "start": s.t0, "end": s.t1, "group": s.group}
                   for s in tracer.spans], fh)
