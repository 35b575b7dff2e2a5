"""Spans, Spark job attribution and the per-layer table of the traced run.

Spans are recorded only by this benchmark's own wrappers, around calls
into the library's public functions; the library itself is unchanged.
Every span opens a Spark job tag on the calling thread and hides its
parent's tag while it is open, so each job carries exactly one span tag:
the innermost span open on the thread that submitted it. Job and stage
numbers are read from Spark's status store after the run, which submits
no Spark job.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import os
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Any, Callable

TAG_PREFIX = "sparkbench-span-"

# (module, attribute, span name): the module-level public functions the
# traced run wraps. ``service.dataset_info`` is the profile function as the
# service module bound it at import; the pipeline looks the others up on
# their modules at call time, so patching the module attribute reaches it.
TRACED_FUNCTIONS = [
    ("dataforge_spark.io", "read_csv", "io.read_csv"),
    ("dataforge_spark.io", "write_csv", "io.write_csv"),
    ("dataforge_spark.io", "write_parquet", "io.write_parquet"),
    ("dataforge_spark.service", "dataset_info", "profile.dataset_info"),
    ("dataforge_spark.pipeline", "cells_changed", "pipeline.cells_changed"),
    ("dataforge_spark.profile", "missing_counts", "profile.missing_counts"),
    ("dataforge_spark.operators.type_conversion", "convert_data_types", "operators.type_conversion"),
    ("dataforge_spark.operators.text_cleaning", "clean_text_columns", "operators.text_cleaning"),
    ("dataforge_spark.operators.datetime_parsing", "parse_datetime_columns", "operators.datetime_parsing"),
    ("dataforge_spark.operators.missing_values", "fix_missing_values", "operators.missing_values"),
    ("dataforge_spark.operators.duplicates", "drop_duplicates", "operators.duplicates"),
    ("dataforge_spark.operators.outliers", "handle_outliers", "operators.outliers"),
    ("dataforge_spark.operators.typo_fix", "fix_typos", "operators.typo_fix"),
    ("dataforge_spark.operators.encoding", "encode_label", "operators.encoding"),
    ("dataforge_spark.operators.encoding", "encode_onehot", "operators.encoding"),
    ("dataforge_spark.operators.encoding", "encode_frequency", "operators.encoding"),
    ("dataforge_spark.operators.normalization", "normalize_data", "operators.normalization"),
    ("dataforge_spark.curation", "quality_filter", "curation.quality_filter"),
    ("dataforge_spark.dedup.minhash", "minhash_dedup", "dedup.minhash_dedup"),
]
SERVICE_CALLS = ("upload", "clean_data", "download_path")


class Tracer:
    """In-memory span recorder. ``span`` is re-entrant per thread; spans
    of one request share the ``request`` id of their root span."""

    def __init__(self, sc: Any | None = None):
        self.sc = sc
        self.spans: list[dict[str, Any]] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _tag(self, method: str, span: dict[str, Any]) -> None:
        if self.sc is not None:
            getattr(self.sc, method)(TAG_PREFIX + str(span["id"]))

    @contextmanager
    def span(self, name: str, label: str | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": parent["request"] if parent else sid,
            "label": label if label is not None else (parent["label"] if parent else None),
            "thread": threading.get_ident(),
            "start": time.perf_counter(),
        }
        if parent:
            self._tag("removeJobTag", parent)
        self._tag("addJobTag", rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self._tag("removeJobTag", rec)
            if parent:
                self._tag("addJobTag", parent)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, name: str, fn: Callable, label_arg: bool = False) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = os.path.basename(str(args[0])) if label_arg and args else None
            with self.span(name, label):
                return fn(*args, **kwargs)

        return traced


class TracedService:
    """Proxy around the ``DataForgeService`` a server holds: its request
    handlers become root spans labelled with the file they act on."""

    def __init__(self, service: Any, tracer: Tracer):
        self._service = service
        self._tracer = tracer

    def __getattr__(self, name: str) -> Any:
        attr = getattr(self._service, name)
        if name in SERVICE_CALLS:
            return self._tracer.wrap(f"service.{name}", attr, label_arg=True)
        return attr


@contextmanager
def instrumented(tracer: Tracer, server: Any | None = None):
    """Install the wrappers for the duration of the block, then restore
    every patched attribute."""
    from dataforge_spark.pipeline import CleaningPipeline

    saved: list[tuple[Any, str, Any]] = []

    def patch(owner: Any, attr: str, new: Any) -> None:
        saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    try:
        for mod_name, attr, span_name in TRACED_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            patch(mod, attr, tracer.wrap(span_name, getattr(mod, attr)))
        patch(CleaningPipeline, "run", tracer.wrap("pipeline.run", CleaningPipeline.run))
        if server is not None:
            handler = server.RequestHandlerClass
            patch(handler, "service", TracedService(handler.service, tracer))
        yield tracer
    finally:
        for owner, attr, old in reversed(saved):
            setattr(owner, attr, old)


# --------------------------------------------------------------------------
# Spark status store


def total_jobs(sc: Any) -> int:
    """Jobs submitted so far in this SparkContext (the next job id)."""
    return int(sc._jsc.sc().dagScheduler().numTotalJobs())


def read_jobs(sc: Any, first_job: int) -> list[dict[str, Any]]:
    """Every job with id >= ``first_job`` from the status store, with the
    span id its tag names and the sums over its executed stages. Skipped
    stages (shuffle output reused from an earlier job) are not counted."""
    store = sc._jsc.sc().statusStore()
    empty = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    no_filter = sc._gateway.jvm.java.util.ArrayList()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        job = jobs.apply(i)
        jid = int(job.jobId())
        if jid < first_job:
            continue
        span = None
        for tag in str(job.jobTags().mkString("\n")).split("\n"):
            if tag.startswith(TAG_PREFIX):
                span = int(tag[len(TAG_PREFIX):])
        rec = {"job": jid, "span": span, "status": str(job.status()),
               "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0,
               "shuffle_write": 0, "shuffle_read": 0, "spill_disk": 0, "spill_mem": 0}
        ids = str(job.stageIds().mkString(","))
        for sid in ids.split(",") if ids else []:
            attempts = store.stageData(int(sid), False, no_filter, False, empty)
            for k in range(attempts.size()):
                st = attempts.apply(k)
                if str(st.status()) == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += int(st.numTasks())
                rec["run_ms"] += int(st.executorRunTime())
                rec["cpu_ns"] += int(st.executorCpuTime())
                rec["shuffle_write"] += int(st.shuffleWriteBytes())
                rec["shuffle_read"] += int(st.shuffleReadBytes())
                rec["spill_disk"] += int(st.diskBytesSpilled())
                rec["spill_mem"] += int(st.memoryBytesSpilled())
        out.append(rec)
    return sorted(out, key=lambda r: r["job"])


# --------------------------------------------------------------------------
# Per-layer table

SPAN_METRICS = {
    # span name -> metrics reported for it
    "io.read_csv": ("wall_s", "jobs"),
    "io.write_csv": ("wall_s", "jobs", "tasks"),
    "io.write_parquet": ("wall_s", "executor_cpu_s", "shuffle_write_bytes"),
    "profile.dataset_info": ("wall_s", "jobs"),
    "pipeline.cells_changed": ("wall_s", "jobs"),
    "profile.missing_counts": ("wall_s", "jobs"),
    "curation.quality_filter": ("wall_s",),
    "dedup.minhash_dedup": ("wall_s", "jobs"),
    "service.upload": ("self_s",),
    "service.clean_data": ("self_s",),
    "pipeline.run": ("self_s", "self_jobs"),
}
OPERATORS = ["type_conversion", "text_cleaning", "datetime_parsing", "missing_values",
             "duplicates", "outliers", "typo_fix", "encoding", "normalization"]
for _op in OPERATORS:
    SPAN_METRICS[f"operators.{_op}"] = ("wall_s", "jobs")

SPARK_METRICS = ["jobs_per_op", "stages_per_op", "tasks_per_op", "executor_run_s",
                 "executor_cpu_s", "core_busy_frac", "shuffle_write_bytes_per_row",
                 "spill_bytes"]
UNITS = {"wall_s": "s", "self_s": "s", "jobs": "count", "self_jobs": "count",
         "tasks": "count", "executor_cpu_s": "s", "shuffle_write_bytes": "bytes",
         "jobs_per_op": "count", "stages_per_op": "count", "tasks_per_op": "count",
         "executor_run_s": "s", "core_busy_frac": "frac",
         "shuffle_write_bytes_per_row": "bytes", "spill_bytes": "bytes"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    units = {"session.start_s": "s", "http_server.overhead_s": "s",
             "trace.overhead_frac": "frac"}
    for name, metrics in SPAN_METRICS.items():
        for m in metrics:
            units[f"{name}.{m}"] = UNITS[m]
    for m in SPARK_METRICS:
        units[f"spark.{m}"] = UNITS[m]
    return units


def self_time(span: dict[str, Any], children: list[dict[str, Any]]) -> float:
    """Span duration minus the part of it its child spans cover."""
    covered, cursor = 0.0, span["start"]
    for c in sorted(children, key=lambda c: c["start"]):
        lo, hi = max(c["start"], cursor), min(c["end"], span["end"])
        if hi > lo:
            covered += hi - lo
            cursor = hi
    return span["end"] - span["start"] - covered


def layer_table(spans: list[dict[str, Any]], jobs: list[dict[str, Any]],
                ops: int, rows: int, wall_s: float, cores: int) -> dict[str, float]:
    """Per-layer metrics: span metrics are per call (wall and self times as
    medians over calls, job and byte counts as means), Spark metrics are
    per operation over every job of the traced phase."""
    children: dict[int, list[dict[str, Any]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    by_span: dict[int, list[dict[str, Any]]] = {}
    for j in jobs:
        by_span.setdefault(j["span"], []).append(j)
    out: dict[str, float] = {}
    for name, metrics in SPAN_METRICS.items():
        calls = [s for s in spans if s["name"] == name]
        called = [j for s in calls for j in by_span.get(s["id"], [])]
        n = max(1, len(calls))
        values = {
            "wall_s": statistics.median([s["end"] - s["start"] for s in calls]) if calls else 0.0,
            "self_s": statistics.median([self_time(s, children.get(s["id"], [])) for s in calls]) if calls else 0.0,
            "jobs": len(called) / n,
            "self_jobs": len(called) / n,
            "tasks": sum(j["tasks"] for j in called) / n,
            "executor_cpu_s": sum(j["cpu_ns"] for j in called) / 1e9 / n,
            "shuffle_write_bytes": sum(j["shuffle_write"] for j in called) / n,
        }
        for m in metrics:
            out[f"{name}.{m}"] = values[m]
    n_ops = max(1, ops)
    run_s = sum(j["run_ms"] for j in jobs) / 1000.0
    out.update({
        "spark.jobs_per_op": len(jobs) / n_ops,
        "spark.stages_per_op": sum(j["stages"] for j in jobs) / n_ops,
        "spark.tasks_per_op": sum(j["tasks"] for j in jobs) / n_ops,
        "spark.executor_run_s": run_s / n_ops,
        "spark.executor_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9 / n_ops,
        "spark.core_busy_frac": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.shuffle_write_bytes_per_row": sum(j["shuffle_write"] for j in jobs) / max(1, rows),
        "spark.spill_bytes": sum(j["spill_disk"] for j in jobs) / n_ops,
    })
    return out
