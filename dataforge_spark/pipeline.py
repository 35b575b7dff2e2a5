"""Cleaning-pipeline orchestrator (SURVEY §3, §2.1).

Reference: ``DataCleaningPipeline.run_pipeline``
(/root/reference/pipeline.py:112-232). The JSON operations config IS the
logical plan: ops execute in a FIXED canonical order regardless of dict
order (:142-152), each op is error-isolated (log + continue with previous
DataFrame, :191-201), and a per-op report dict is assembled.

Spark-first differences (deliberate):

* Transformations are composed LAZILY; nothing executes until the caller
  writes or collects. Catalyst then optimizes across op boundaries —
  filters merge, projections fuse, one scan instead of nine.
* Per-op report metrics (row counts, changed cells, missing counts) are
  OPT-IN (``collect_metrics=True``). The reference computes them with
  pandas after every op; here the op loop runs no metric action. Metrics
  mode pins (persists) every frame it measures, and after the loop ONE
  aggregate query over the pinned frames, aligned on ``_row_id``, yields
  every op's metrics (``boundary_metrics``); its job count does not grow
  with the number of ops. For the nine-op service config on 1000 rows a
  clean runs 31 jobs with metrics and 26 without. That query is also
  the first full execution of the lineage, so in metrics mode
  ``processing_time_seconds`` includes execution; the caller's write
  then reads the pinned result (unpersist it after the write).
  ``DataFrame.observe`` cannot replace the query: an ``Observation`` is
  filled by the first action on the observed frame, even a partial one
  such as the ``limit`` sample the datetime-format election takes.
* The reference's stage-boundary scrub (±Inf→NaN→median-fill after EVERY
  op, /root/reference/pipeline.py:72-100,189) is bug-compat behavior —
  available via ``bug_compat=True`` (SURVEY §1), default off (advertised
  semantics).
"""

from __future__ import annotations

import functools
import logging
import os
import time
from typing import Any, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators import (
    datetime_parsing,
    duplicates,
    encoding,
    missing_values,
    normalization,
    outliers,
    text_cleaning,
    type_conversion,
    typo_fix,
)
from .io import ROW_ID, qcol
from .operators.missing_values import _data_cols, _numeric_cols
from .sanitize import sanitize_for_json

# Fixed canonical order (/root/reference/pipeline.py:142-152).
CANONICAL_ORDER = [
    "data_type_conversion",
    "text_cleaning",
    "datetime_parsing",
    "missing_values",
    "duplicates",
    "outliers",
    "typo_fix",
    "encoding",
    "normalization",
]

VALID_MISSING_STRATEGIES = missing_values.STRATEGIES
VALID_OUTLIER_METHODS = outliers.METHODS


logger = logging.getLogger("dataforge_spark.pipeline")


def enable_run_logging(
    path: str | None = None, level: int = logging.INFO
) -> logging.Handler:
    """Persistent run logging — reference parity
    (/root/reference/pipeline.py:38-45, which appends every run's per-op
    lines to ``pipeline_log.txt`` next to the module via a module-level
    ``basicConfig``). Opt-in here: a library must not write files as an
    import side effect. Attaches an append-mode FileHandler with the
    reference's line format to the ``dataforge_spark`` logger and returns
    it so callers can detach (``disable_run_logging(handler)``)."""
    path = path or os.path.join(os.getcwd(), "pipeline_log.txt")
    handler = logging.FileHandler(path, mode="a")
    handler.setFormatter(
        logging.Formatter("%(asctime)s - %(levelname)s - %(message)s")
    )
    pkg = logging.getLogger("dataforge_spark")
    # remember the pre-enable level so disable_run_logging is a true
    # inverse (leaving the level pinned would route per-op records to
    # any root handler the app configures later)
    handler._dataforge_prev_level = pkg.level  # type: ignore[attr-defined]
    pkg.setLevel(level)
    pkg.addHandler(handler)
    return handler


def disable_run_logging(handler: logging.Handler) -> None:
    pkg = logging.getLogger("dataforge_spark")
    pkg.removeHandler(handler)
    prev = getattr(handler, "_dataforge_prev_level", None)
    if prev is not None:
        pkg.setLevel(prev)
    handler.close()


def validate_operations(operations: dict[str, Any]) -> list[str]:
    """Mirror of /root/reference/pipeline.py:498-529: returns a list of
    problems (empty = valid)."""
    errors: list[str] = []
    if not isinstance(operations, dict):
        return ["operations must be a dict"]
    for name, cfg in operations.items():
        if name not in CANONICAL_ORDER:
            errors.append(f"unknown operation: {name}")
            continue
        if not isinstance(cfg, dict):
            errors.append(f"config for {name} must be a dict")
            continue
        if name == "missing_values":
            s = cfg.get("strategy", "fill_mean")
            if s not in VALID_MISSING_STRATEGIES:
                errors.append(f"invalid missing_values.strategy: {s}")
        if name == "outliers":
            m = cfg.get("method", "iqr")
            if m not in VALID_OUTLIER_METHODS:
                errors.append(f"invalid outliers.method: {m}")
    return errors


def boundary_scrub(df: DataFrame) -> DataFrame:
    """Bug-compat stage-boundary scrub (/root/reference/pipeline.py:72-100):
    ±Inf→NULL, numeric NULL→column median (fallback 0), string NULL→''."""
    num = _numeric_cols(df, _data_cols(df, None))
    out = df
    for c in num:
        out = out.withColumn(
            c,
            F.when(
                qcol(c).isin(float("inf"), float("-inf")) | F.isnan(qcol(c).cast("double")),
                None,
            ).otherwise(qcol(c)),
        )
    if num:
        from .functions.quantiles import exact_quantiles

        meds = {c: v[0] for c, v in exact_quantiles(out, num, [0.5]).items()}
        # all-null columns have no median; pandas fillna leaves them NaN.
        # coalesce instead of na.fill: its dict keys break on dotted
        # names, and NaN is already NULL after the scrub above. The fill
        # literal is cast to the COLUMN's type — na.fill truncated a
        # fractional median into int columns, and the bug-compat oracle
        # pins that behavior.
        dtypes = {f.name: f.dataType for f in out.schema.fields}
        for c in num:
            if meds[c] is not None:
                out = out.withColumn(
                    c,
                    F.coalesce(qcol(c), F.lit(float(meds[c])).cast(dtypes[c])),
                )
    str_cols = [c for c in _data_cols(df, None) if c not in num and dict(df.dtypes)[c] == "string"]
    for c in str_cols:
        out = out.withColumn(c, F.coalesce(qcol(c), F.lit("")))
    return out


def boundary_metrics(
    pairs: list[tuple[DataFrame, DataFrame]], missing: Iterable[int] = ()
) -> list[dict[str, Any]]:
    """Report metrics for every ``(before, after)`` pair in ONE aggregate
    query. Per pair: ``rows_before``/``rows_after``, and ``cells_changed``
    — per shared column, the cells whose value differs between the two
    frames, aligned on ``_row_id``; with ``missing_before``/
    ``missing_after`` (``profile.missing_counts``) for the pair indices in
    ``missing``.

    Values are compared as strings (so a type-converting op counts every
    re-typed cell) and null-safely (NULL→value and value→NULL both count).
    Columns added or dropped by an op are not changed cells; a pair where
    either side lacks ``_row_id`` has no alignment and reports {}.

    The query unions the distinct frames (a frame shared by two pairs is
    read once), groups the rows by ``_row_id`` and sums per group, so its
    job count does not grow with the number of pairs: one scan stage over
    every frame, the group shuffle and the final sum. Rows are counted
    per frame, so counts stay exact when an op drops or adds rows; a
    frame whose ``_row_id`` repeats a key compares only its first row of
    that key. Rows of a frame without ``_row_id`` each form their own
    group: they are counted and never compared."""
    from .profile import _missing_expr, _user_fields

    frames: list[DataFrame] = []

    def index(df: DataFrame) -> int:
        for j, f in enumerate(frames):
            if f is df:
                return j
        frames.append(df)
        return len(frames) - 1

    ix = [(index(b), index(a)) for b, a in pairs]
    if not frames:
        return []
    keyed = [ROW_ID in f.columns for f in frames]
    shared = [
        [c for c in frames[b].columns if c != ROW_ID and c in frames[a].columns]
        if keyed[b] and keyed[a] else []
        for b, a in ix
    ]
    # the string-cast values each frame contributes, and where
    strs: list[list[str]] = [[] for _ in frames]
    for (b, a), cols in zip(ix, shared):
        for j in (b, a):
            strs[j] += [c for c in cols if c not in strs[j]]
    missing = set(missing)
    in_missing = {j for i in missing for j in ix[i]}
    fields = [_user_fields(f) if j in in_missing else [] for j, f in enumerate(frames)]
    rid_type = next(
        (f.schema[ROW_ID].dataType for f, k in zip(frames, keyed) if k), T.LongType()
    )

    def tagged(j: int, f: DataFrame) -> DataFrame:
        if keyed[j]:
            key = [qcol(ROW_ID).cast(rid_type), F.lit(None).cast("int"),
                   F.lit(None).cast("long")]
        else:
            key = [F.lit(None).cast(rid_type), F.lit(j),
                   F.monotonically_increasing_id()]
        entry = F.struct(
            F.lit(j).alias("j"),
            F.array(*[qcol(c).cast("string") for c in strs[j]])
            .cast("array<string>").alias("s"),
            F.array(*[_missing_expr(x) for x in fields[j]])
            .cast("array<boolean>").alias("m"),
        )
        return f.select(*[k.alias(n) for k, n in zip(key, ("r", "f", "u"))],
                        entry.alias("e"))

    # The per-group sums are SQL text: a few hundred Column objects
    # built through the Python API cost seconds of driver time, one
    # parsed expression list costs milliseconds.
    grouped = (
        functools.reduce(DataFrame.union, [tagged(j, f) for j, f in enumerate(frames)])
        .groupBy("r", "f", "u")
        .agg(F.collect_list("e").alias("l"))
        .selectExpr(*[f"filter(l, x -> x.j = {j}) AS e{j}" for j in range(len(frames))])
    )

    def value(j: int, c: str) -> str:
        return f"try_element_at(e{j}, 1).s[{strs[j].index(c)}]"

    sums = [f"sum(size(e{j})) AS n{j}" for j in range(len(frames))]
    sums += [
        f"sum(aggregate(e{j}, 0L, (acc, x) -> acc + CAST(x.m[{k}] AS BIGINT))) AS m{j}_{k}"
        for j in range(len(frames)) for k in range(len(fields[j]))
    ]
    sums += [
        f"sum(CAST(size(e{b}) > 0 AND size(e{a}) > 0"
        f" AND NOT ({value(b, c)} <=> {value(a, c)}) AS BIGINT)) AS c{i}_{k}"
        for i, (b, a) in enumerate(ix) for k, c in enumerate(shared[i])
    ]
    row = grouped.selectExpr(*sums).collect()[0]

    def count(name: str) -> int:
        return int(row[name] or 0)

    def missing_of(j: int) -> dict[str, int]:
        return {x.name: count(f"m{j}_{k}") for k, x in enumerate(fields[j])}

    out = []
    for i, (b, a) in enumerate(ix):
        m: dict[str, Any] = {
            "rows_before": count(f"n{b}"),
            "rows_after": count(f"n{a}"),
            "cells_changed": {c: count(f"c{i}_{k}") for k, c in enumerate(shared[i])},
        }
        if i in missing:
            m["missing_before"] = missing_of(b)
            m["missing_after"] = missing_of(a)
        out.append(m)
    return out


def cells_changed(before: DataFrame, after: DataFrame) -> dict[str, int]:
    """Per-column changed-cell counts of one ``(before, after)`` pair
    (reference parity: every method reports per-column "Made N changes"
    updates in the reference's textCleaning method) — the one-pair case of
    ``boundary_metrics``."""
    return boundary_metrics([(before, after)])[0]["cells_changed"]


class CleaningPipeline:
    """Compose the 9 operators per a JSON config, Spark-lazily."""

    def __init__(
        self,
        bug_compat: bool = False,
        collect_metrics: bool = False,
        persist_intermediate: bool | None = None,
    ):
        """``persist_intermediate``: persist (MEMORY_AND_DISK) the DataFrame
        after each op that later ops compute statistics over. Stat-dependent
        chains (fill→dedup→cap→scale) otherwise re-execute the whole
        upstream lineage once per statistics job — at 4 stat ops that is 4
        extra full scans. Default ``None`` = auto: persist a boundary only
        when ≥2 downstream enabled ops will run driver-side statistics jobs
        over it (the re-scan count that makes the persist pay for itself);
        with ``collect_metrics`` every frame the metrics query measures is
        persisted. ``True``/``False`` force it — persisting the working set
        is still a deliberate capacity decision on a real cluster."""
        self.bug_compat = bug_compat
        self.collect_metrics = collect_metrics
        self.persist_intermediate = persist_intermediate

    @staticmethod
    def _runs_stat_jobs(name: str, cfg: dict[str, Any]) -> bool:
        """Whether this op executes driver-side statistics jobs over its
        input (each such job re-executes the full upstream lineage unless
        a boundary below it is persisted). Pure-projection ops return
        False."""
        if name in ("text_cleaning", "duplicates"):
            return False
        if name == "missing_values":
            return cfg.get("strategy", "fill_mean") not in (
                "drop_rows", "drop_rows_threshold"
            )
        if name == "typo_fix":
            # common_typos is a pure regexp chain; fuzzy/spell fit a map
            return cfg.get("method", "common_typos") != "common_typos"
        if name == "data_type_conversion":
            return bool(cfg.get("auto_detect", True)) or cfg.get("errors") in (
                "ignore", "raise"
            )
        if name == "datetime_parsing":
            return bool(cfg.get("auto_detect", True))
        return True  # outliers / normalization / encoding fit statistics

    def _apply_one(self, df: DataFrame, name: str, cfg: dict[str, Any]) -> DataFrame:
        if name == "data_type_conversion":
            return type_conversion.convert_data_types(
                df,
                type_mapping=cfg.get("type_mapping"),
                auto_detect=cfg.get("auto_detect", True),
                errors=cfg.get("errors", "coerce"),
            )
        if name == "text_cleaning":
            return text_cleaning.clean_text_columns(
                df,
                columns=cfg.get("columns"),
                operations=cfg.get("operations"),
                custom_patterns=cfg.get("custom_patterns"),
            )
        if name == "datetime_parsing":
            return datetime_parsing.parse_datetime_columns(
                df,
                columns=cfg.get("columns"),
                date_format=cfg.get("date_format"),
                auto_detect=cfg.get("auto_detect", True),
                extract_features=cfg.get("extract_features", False),
            )
        if name == "missing_values":
            return missing_values.fix_missing_values(
                df,
                strategy=cfg.get("strategy", "fill_mean"),
                threshold=cfg.get("threshold", 0.5),
                columns=cfg.get("columns"),
            )
        if name == "duplicates":
            return duplicates.drop_duplicates(
                df, subset=cfg.get("subset"), keep=cfg.get("keep", "first")
            )
        if name == "outliers":
            return outliers.handle_outliers(
                df,
                columns=cfg.get("columns"),
                method=cfg.get("method", "iqr"),
                action=cfg.get("action", "remove"),
                threshold=cfg.get("threshold", 1.5),
            )
        if name == "typo_fix":
            return typo_fix.fix_typos(
                df,
                columns=cfg.get("columns"),
                method=cfg.get("method", "common_typos"),
                similarity_threshold=cfg.get("similarity_threshold", 0.8),
                custom_dict=cfg.get("custom_dict"),
            )
        if name == "encoding":
            method = cfg.get("method", "label")
            if method == "label":
                return encoding.encode_label(df, cfg.get("columns"))[0]
            if method == "onehot":
                return encoding.encode_onehot(
                    df, cfg.get("columns"), drop_first=cfg.get("drop_first", False)
                )
            return encoding.encode_frequency(df, cfg.get("columns"))
        if name == "normalization":
            return normalization.normalize_data(
                df,
                columns=cfg.get("columns"),
                method=cfg.get("method", "minmax"),
                feature_range=tuple(cfg.get("feature_range", (0, 1))),
                with_mean=cfg.get("with_mean", True),
                with_std=cfg.get("with_std", True),
            )[0]
        raise ValueError(f"unknown operation {name!r}")

    def run(self, df: DataFrame, operations: dict[str, Any]) -> tuple[DataFrame, dict]:
        """Apply enabled ops in canonical order; per-op error isolation
        (reference :191-201). Returns (DataFrame, report)."""
        problems = validate_operations(operations)
        if problems:
            raise ValueError("; ".join(problems))

        from pyspark import StorageLevel

        report: dict[str, Any] = {"operations": {}, "order": []}
        t0 = time.time()
        # per-op lines mirror the reference's pipeline_log.txt vocabulary
        # (/root/reference/pipeline.py:159,190,193) — lazily composed, so
        # the start line logs columns, not a row count (a count is a job)
        logger.info("Starting pipeline run (%d columns)", len(df.columns))
        current = boundary_scrub(df) if self.bug_compat else df
        persisted: list[DataFrame] = []

        enabled = [
            n for n in CANONICAL_ORDER
            if operations.get(n) and operations[n].get("enabled", False)
        ]
        # downstream stat-job count per op: how many LATER enabled ops will
        # re-scan the boundary after this op for their fitted statistics
        stat_after = {
            n: sum(
                self._runs_stat_jobs(m, operations[m])
                for m in enabled[enabled.index(n) + 1:]
            )
            for n in enabled
        }

        def pin(frame: DataFrame, auto: bool) -> DataFrame:
            if self.persist_intermediate is not None:
                auto = self.persist_intermediate
            if not auto:
                return frame
            frame = frame.persist(StorageLevel.MEMORY_AND_DISK)
            persisted.append(frame)
            return frame

        # Metrics mode pins every frame it will measure before anything
        # reads it, so each op's step (UDFs included) runs once for the op
        # chain and the metrics query together.
        metrics = self.collect_metrics
        if metrics:
            current = pin(current, True)
        measured: list[tuple[str, DataFrame, DataFrame]] = []
        for name in enabled:
            cfg = operations[name]
            op_report: dict[str, Any] = {"status": "success"}
            logger.info("Running %s operation...", name)
            try:
                nxt = self._apply_one(current, name, cfg)
                if metrics:
                    # the measured frame; a bug-compat scrub is a cheap
                    # projection over it, and pinning both would double
                    # the cached-plan nesting every later plan carries
                    nxt = pin(nxt, True)
                boundary = boundary_scrub(nxt) if self.bug_compat else nxt
                if metrics:
                    measured.append((name, current, nxt))
                else:
                    # pin where ≥2 later ops re-scan this boundary for fits
                    boundary = pin(boundary, stat_after[name] >= 2)
                current = boundary
                logger.info("%s operation completed successfully", name)
            except Exception as e:  # error-isolated: keep previous df
                op_report = {"status": "error", "message": str(e)}
                logger.error("Error in %s: %s", name, e)
            report["operations"][name] = op_report
            report["order"].append(name)

        if measured:
            # Every metric of every op in one aggregate query over the
            # pinned frames; the loop above ran no metric action.
            results = boundary_metrics(
                [(b, a) for _, b, a in measured],
                missing=[i for i, (n, _, _) in enumerate(measured) if n == "missing_values"],
            )
            for (name, before, after), m in zip(measured, results):
                changed = {c: n for c, n in m["cells_changed"].items() if n}
                op_report = report["operations"][name]
                op_report.update(
                    {
                        "rows_before": m["rows_before"], "rows_after": m["rows_after"],
                        "columns_before": len(before.columns),
                        "columns_after": len(after.columns),
                        "cells_changed": changed,
                        "updates": [
                            f"Column '{c}': Made {n} changes" for c, n in changed.items()
                        ],
                    }
                )
                if name == "duplicates":
                    op_report["duplicate_count"] = m["rows_before"] - m["rows_after"]
                if name == "missing_values":
                    # Reference UI parity: its report drives a
                    # before/after missing-value chart in the frontend.
                    op_report["missing_before"] = m["missing_before"]
                    op_report["missing_after"] = m["missing_after"]

        report["processing_time_seconds"] = round(time.time() - t0, 4)
        logger.info(
            "Pipeline completed in %.2fs; final columns: %d",
            report["processing_time_seconds"], len(current.columns),
        )
        report["final_columns"] = list(current.columns)
        # Free the intermediates. The caller's write reads the returned
        # frame: it stays pinned when it is (always so in metrics mode
        # without bug_compat; unpersist it after the write), else the last
        # pinned frame its lineage reads stays.
        kept = current if any(p is current for p in persisted) else (
            persisted[-1] if persisted else None
        )
        for p in persisted:
            if p is not kept:
                p.unpersist(blocking=False)
        return current, sanitize_for_json(report)
