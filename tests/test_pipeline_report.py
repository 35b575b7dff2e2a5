"""Pipeline report parity: per-op changed-cell counts and `updates` lines
(reference report shape, /root/reference/methods/textCleaning.py:76,147-148
and methods/duplicate.py:50-59), opt-in under collect_metrics."""

import csv

import pytest
from pyspark.sql import functions as F

from dataforge_spark import io as dfio
from dataforge_spark.io import ROW_ID
from dataforge_spark.pipeline import CleaningPipeline, cells_changed


def _golden(spark):
    rows = [
        (0, "  Hello World  ", 1.0),
        (1, "teh cat", 2.0),
        (2, "clean", None),
        (3, "clean", 4.0),
        (4, "clean", 4.0),
    ]
    return spark.createDataFrame(rows, f"{ROW_ID} long, txt string, x double")


def test_cells_changed_counts_and_updates(spark):
    df = _golden(spark)
    pipe = CleaningPipeline(collect_metrics=True)
    out, report = pipe.run(
        df,
        {
            "text_cleaning": {
                "enabled": True,
                "columns": ["txt"],
                "operations": ["lowercase", "remove_extra_spaces"],
            },
            "missing_values": {
                "enabled": True,
                "strategy": "fill_mean",
                "columns": ["x"],
            },
        },
    )
    tc = report["operations"]["text_cleaning"]
    # rows 0 ("  Hello World  ") and 1 (unchanged by lowercase? no: already
    # lower) — row 0 changes (case + spaces); rows with 'teh cat'/'clean'
    # are already lowercase and space-clean.
    assert tc["cells_changed"] == {"txt": 1}
    assert tc["updates"] == ["Column 'txt': Made 1 changes"]
    mv = report["operations"]["missing_values"]
    assert mv["cells_changed"] == {"x": 1}  # the NULL fill
    assert mv["rows_before"] == 5 and mv["rows_after"] == 5
    assert out.count() == 5


def test_duplicate_count_reported(spark):
    df = _golden(spark).drop("txt")
    pipe = CleaningPipeline(collect_metrics=True)
    _, report = pipe.run(
        df, {"duplicates": {"enabled": True, "subset": ["x"]}}
    )
    dup = report["operations"]["duplicates"]
    # x values: 1.0, 2.0, NULL, 4.0, 4.0 → one duplicate row dropped
    assert dup["duplicate_count"] == 1
    assert dup["rows_before"] == 5 and dup["rows_after"] == 4
    # surviving rows are unmodified
    assert dup["cells_changed"] == {}


def test_cells_changed_without_row_id_is_empty(spark):
    a = spark.createDataFrame([(1,)], "v long")
    b = a.withColumn("v", F.col("v") + 1)
    assert cells_changed(a, b) == {}


def test_metrics_off_adds_no_jobs_keys(spark):
    df = _golden(spark)
    _, report = CleaningPipeline().run(
        df, {"duplicates": {"enabled": True}}
    )
    assert "cells_changed" not in report["operations"]["duplicates"]


def test_auto_persist_policy_counts_downstream_stat_ops():
    """_runs_stat_jobs classifies which ops re-scan their input with
    driver-side statistics jobs — the auto-persist policy's input."""
    from dataforge_spark.pipeline import CleaningPipeline

    f = CleaningPipeline._runs_stat_jobs
    assert not f("text_cleaning", {})
    assert not f("duplicates", {})
    assert not f("missing_values", {"strategy": "drop_rows"})
    assert f("missing_values", {"strategy": "fill_median"})
    assert f("missing_values", {})  # default fill_mean
    assert not f("typo_fix", {})  # default common_typos is a regexp chain
    assert f("typo_fix", {"method": "fuzzy_match"})
    assert f("data_type_conversion", {})  # auto_detect default True
    assert not f("data_type_conversion", {"auto_detect": False})
    assert f("data_type_conversion", {"auto_detect": False, "errors": "raise"})
    assert f("outliers", {}) and f("normalization", {}) and f("encoding", {})


def test_run_logging_writes_per_op_lines(spark, tmp_path):
    """Reference parity (/root/reference/pipeline.py:38-45): with the
    opt-in handler attached, a pipeline run appends op-start / op-result
    lines to a persistent log file; an op failure logs an error line."""
    from pyspark.sql import functions as F

    from dataforge_spark.pipeline import (
        CleaningPipeline,
        disable_run_logging,
        enable_run_logging,
    )

    log = tmp_path / "pipeline_log.txt"
    h = enable_run_logging(str(log))
    try:
        df = spark.createDataFrame(
            [(1, 4.0), (2, None), (2, None)], "k int, v double"
        )
        CleaningPipeline().run(
            df,
            {
                "missing_values": {"enabled": True, "strategy": "fill_mean"},
                "duplicates": {"enabled": True},
            },
        )[0].count()
        # error isolation still logs: unknown strategy inside an op body
        out, rep = CleaningPipeline().run(
            df, {"outliers": {"enabled": True, "method": "iqr",
                              "action": "cap", "columns": ["missing_col"]}},
        )
    finally:
        disable_run_logging(h)
    text = log.read_text()
    assert "Starting pipeline run" in text
    assert "Running missing_values operation..." in text
    assert "missing_values operation completed successfully" in text
    assert "Running duplicates operation..." in text
    assert "Pipeline completed in" in text
    # handler detached: a further run must not append
    size = log.stat().st_size
    CleaningPipeline().run(df, {"duplicates": {"enabled": True}})
    assert log.stat().st_size == size


# -- the nine-op frontend config on a small messy CSV -----------------------

# All nine operations, in the shape the frontend's buildConfig() sends.
NINE_OPS = {
    "data_type_conversion": {"enabled": True, "auto_detect": True},
    "text_cleaning": {"enabled": True, "operations": ["lowercase", "remove_html",
                                                      "remove_urls", "remove_extra_spaces"]},
    "datetime_parsing": {"enabled": True, "auto_detect": True, "extract_features": True},
    "missing_values": {"enabled": True, "strategy": "fill_median"},
    "duplicates": {"enabled": True},
    "outliers": {"enabled": True, "method": "iqr", "action": "cap"},
    "typo_fix": {"enabled": True, "method": "common_typos"},
    "encoding": {"enabled": True, "method": "label", "columns": ["city", "grade", "gender"]},
    "normalization": {"enabled": True, "method": "standard", "columns": ["age", "salary"]},
}


def _messy_csv(path, n=40):
    """A small messy customer CSV in which every op of NINE_OPS has work:
    untrimmed upper-case names, HTML, URLs and typos in notes, three date
    formats and a non-date, blanks and sentinels, an outlier, NaN and
    inf, and three full-row duplicates."""
    first = ["alice", "bob", "carol", "dave", "erin", "frank", "grace", "heidi"]
    last = ["smith", "jones", "brown", "taylor", "wilson"]
    cities = ["New York", "Chicago", "Boston", "Denver", "Seattle", "Austin"]
    genders = ["male", "female", "m", "f", "Male", " FEMALE"]
    active = ["yes", "no", "Y", "N", "1", "0"]
    notes = ["teh customer called", "<b>billing</b> question",
             "see https://example.com/t/1", "please recieve the order",
             "account   review", "management call"]
    rows = []
    for i in range(n):
        name = f"{first[i % 8]} {last[i % 5]}"
        if i % 3 == 0:
            name = f"  {name.upper()} "
        city = ("N/A" if i % 11 == 0 else "chicgo" if i % 13 == 0 else
                "" if i % 17 == 0 else cities[i % 6])
        grade = "" if i % 9 == 0 else "ABCDF"[i % 5]
        age = "" if i % 8 == 0 else str(18 + (i * 7) % 60)
        salary = ("NaN" if i % 19 == 0 else "9000000.00" if i == 23 else
                  "inf" if i == 31 else f"{50000 + (i * 1237) % 20000}.50")
        day = i % 28 + 1
        date = ("not a date" if i % 10 == 0 else
                [f"2020-01-{day:02d}", f"{day:02d}/03/2021", f"Mar {day:02d}, 2022"][i % 3])
        rows.append([str(i + 1), name, city, grade, genders[i % 6], age, salary, date,
                     active[i % 6], notes[i % 6]])
    rows += [list(rows[5]), list(rows[12]), list(rows[20])]
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["id", "name", "city", "grade", "gender", "age", "salary",
                    "signup_date", "is_active", "note"])
        w.writerows(rows)
    return str(path)


def _op(rows_before, rows_after, cells, **extra):
    """One successful op's report; ``cells`` in the order of its updates."""
    return {
        "status": "success", "rows_before": rows_before, "rows_after": rows_after,
        "columns_before": 11, "columns_after": 11, "cells_changed": cells,
        "updates": [f"Column '{c}': Made {n} changes" for c, n in cells.items()],
        **extra,
    }


_NO_MISSING = dict.fromkeys(
    ["age", "city", "gender", "grade", "id", "is_active", "name", "note", "salary",
     "signup_date"], 0)

# Reports of the per-op metrics implementation this one replaced (one
# count/join/scan per op), captured on _messy_csv.
NINE_OP_REPORT = {
    "data_type_conversion": _op(43, 43, {"salary": 40, "signup_date": 43, "is_active": 43}),
    "text_cleaning": _op(43, 43, {"name": 15, "city": 38, "grade": 38, "gender": 13,
                                  "note": 21}),
    "datetime_parsing": _op(43, 43, {}),
    "missing_values": _op(
        43, 43, {"id": 43, "city": 2, "grade": 5, "age": 43, "salary": 3, "signup_date": 18},
        missing_before={**_NO_MISSING, "age": 5, "city": 6, "grade": 5, "salary": 3,
                        "signup_date": 18},
        missing_after={**_NO_MISSING, "city": 4},
    ),
    "duplicates": _op(43, 40, {}, duplicate_count=3),
    "outliers": _op(40, 40, {"salary": 2}),
    "typo_fix": _op(40, 40, {"note": 14}),
    "encoding": _op(40, 40, {"city": 40, "grade": 40, "gender": 40}),
    "normalization": _op(40, 40, {"age": 40, "salary": 40}),
}
NINE_OP_REPORT_BUG_COMPAT = {
    **NINE_OP_REPORT,
    "text_cleaning": _op(43, 43, {"name": 15, "city": 40, "grade": 43, "gender": 13,
                                  "note": 21}),
    "missing_values": _op(
        43, 43, {"id": 43, "age": 43, "signup_date": 18},
        missing_before={**_NO_MISSING, "city": 6, "grade": 5, "signup_date": 18},
        missing_after={**_NO_MISSING, "city": 6, "grade": 5},
    ),
    "outliers": _op(40, 40, {"salary": 1}),
}


@pytest.mark.parametrize(
    "bug_compat, expected",
    [(False, NINE_OP_REPORT), (True, NINE_OP_REPORT_BUG_COMPAT)],
    ids=["default", "bug_compat"],
)
def test_nine_op_report_parity(spark, tmp_path, bug_compat, expected):
    df = dfio.read_csv(spark, _messy_csv(tmp_path / "messy.csv"))
    out, report = CleaningPipeline(collect_metrics=True, bug_compat=bug_compat).run(
        df, NINE_OPS
    )
    try:
        assert report["order"] == list(NINE_OPS)
        for name, op in expected.items():
            assert report["operations"][name] == op, name
        assert out.count() == 40
    finally:
        out.unpersist()


def test_metrics_report_without_row_id(spark):
    """Without ``_row_id`` there is no alignment: no changed cells, but
    row, duplicate and missing counts are still exact."""
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, None), (3, "c"), (None, "d")], "k int, v string"
    )
    out, report = CleaningPipeline(collect_metrics=True).run(
        df,
        {
            "missing_values": {"enabled": True, "strategy": "drop_rows"},
            "duplicates": {"enabled": True},
        },
    )
    out.unpersist()
    mv = report["operations"]["missing_values"]
    assert (mv["rows_before"], mv["rows_after"]) == (5, 3)
    assert mv["cells_changed"] == {} and mv["updates"] == []
    assert mv["missing_before"] == {"k": 1, "v": 1}
    assert mv["missing_after"] == {"k": 0, "v": 0}
    dup = report["operations"]["duplicates"]
    assert (dup["rows_before"], dup["rows_after"], dup["duplicate_count"]) == (3, 2, 1)
    assert dup["cells_changed"] == {}


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_metrics_cost_few_jobs(spark, tmp_path):
    """Metrics mode measures every op in one aggregate query after the op
    loop: a clean with metrics on runs at most 12 Spark jobs more than
    with metrics off (the per-op count/join/scan design ran ~72 more)."""
    path = _messy_csv(tmp_path / "messy.csv")

    def clean(metrics):
        def go():
            df = dfio.read_csv(spark, path)
            out, _ = CleaningPipeline(collect_metrics=metrics).run(df, NINE_OPS)
            dfio.write_csv(out, str(tmp_path / f"out_{metrics}"), single_file=True)
            out.unpersist()
        return go

    on = _jobs(spark, "metrics-on", clean(True))
    off = _jobs(spark, "metrics-off", clean(False))
    assert on - off <= 12, (on, off)


def test_boundary_metrics_counts_dropped_rows_and_repeated_keys(spark):
    """A frame shared by consecutive pairs is one input of the query, and
    counts stay exact when an op drops rows or repeats a row key."""
    from dataforge_spark.pipeline import boundary_metrics

    a = _golden(spark)
    b = a.where(F.col("x").isNull() | (F.col("x") < 4.0)).withColumn("txt", F.upper("txt"))
    c = b.unionByName(b.where(F.col(ROW_ID) == 0))  # row key 0 twice
    m = boundary_metrics([(a, b), (b, c)], missing=[1])
    assert (m[0]["rows_before"], m[0]["rows_after"]) == (5, 3)
    assert m[0]["cells_changed"] == {"txt": 3, "x": 0}  # every kept txt upper-cased
    assert (m[1]["rows_before"], m[1]["rows_after"]) == (3, 4)
    assert m[1]["cells_changed"] == {"txt": 0, "x": 0}
    assert m[1]["missing_before"] == {"txt": 0, "x": 1}
    assert m[1]["missing_after"] == {"txt": 0, "x": 1}
    assert cells_changed(a, b) == m[0]["cells_changed"]
