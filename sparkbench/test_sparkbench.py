"""Self-tests of the benchmark: generator determinism, metric declarations
and job-to-span attribution.

    python3 -m pytest sparkbench -q -p no:cacheprovider

Run from the repository root.
"""

from __future__ import annotations

import json
import os
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import spans  # noqa: E402
import worker  # noqa: E402


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _tree(path: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), path)] = fh.read()
    return out


@pytest.mark.parametrize("make", [
    lambda seed, out: gen.service_inputs(seed, out, 2, 2, 300),
    lambda seed, out: gen.corpus_inputs(seed, out, 300),
], ids=["service", "corpus"])
def test_generators_are_deterministic_per_seed(tmp_path, make):
    a = make(7, str(tmp_path / "a"))
    b = make(7, str(tmp_path / "b"))
    c = make(8, str(tmp_path / "c"))
    ta, tb, tc = (_tree(str(tmp_path / x)) for x in "abc")
    assert ta == tb
    assert ta != tc
    assert a["rows"] == b["rows"] > 0
    assert a["bytes"] == sum(len(v) for v in ta.values())


def test_messy_csv_plants_duplicates():
    data, meta = gen.messy_csv(3, 400)
    lines = data.decode().splitlines()[1:]
    assert meta["rows"] == len(lines) == 420
    assert len(set(lines)) == meta["distinct_rows"] == 400


def test_corpus_truth_partitions_the_documents(tmp_path):
    man = gen.corpus_inputs(5, str(tmp_path), 500)
    t = man["truth"]
    ids = t["unique"] + t["junk"] + [d for c in t["clusters"] for d in c]
    assert sorted(ids) == list(range(1, man["rows"] + 1))
    assert all(len(c) == 2 for c in t["clusters"])


def test_end_to_end_metrics_match_declaration():
    declared = {m["name"] for m in _declared()["end_to_end"]}
    rec = {"client": 0, "ok": True, "errors": [], "upload": (0.0, 1.0), "clean": (1.0, 3.0),
           "download": (3.0, 3.5), "pass": (0.0, 2.0)}
    svc = worker.ServiceClean.__new__(worker.ServiceClean)
    svc.clients, svc.rows_per_op = 2, 100
    corpus = worker.CorpusDedup.__new__(worker.CorpusDedup)
    corpus.rows_per_op = 100
    for wl in (svc, corpus):
        produced = set(wl.end_to_end([rec])) | {"setup_s", "peak_rss_mb"}
        assert produced == declared


def test_per_layer_metrics_match_declaration():
    declared = {m["name"]: m["unit"] for m in _declared()["per_layer"]}
    assert spans.per_layer_units() == declared
    table = spans.layer_table([], [], 1, 1, 1.0, 1)
    produced = set(table) | {"session.start_s", "http_server.overhead_s", "trace.overhead_frac"}
    assert produced == set(declared)


def test_every_workload_is_implemented():
    assert {w["name"] for w in _declared()["workloads"]} <= set(worker.WORKLOADS)


def test_tail_needs_ten_samples_beyond():
    assert worker.tail([1.0] * 10) is None
    t = worker.tail([float(i) for i in range(1, 21)])
    assert t == {"percentile": 50, "value": 10.0, "samples": 20, "beyond": 10}


def test_self_time_subtracts_covered_child_intervals():
    parent = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 4.0}, {"start": 9.0, "end": 12.0}]
    assert spans.self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 1.0)


def test_jobs_are_attributed_to_the_innermost_span_of_their_thread():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from dataforge_spark import get_spark

    spark = get_spark("sparkbench-selftest")
    sc = spark.sparkContext
    tracer = spans.Tracer(sc)
    first = spans.total_jobs(sc)
    expected: dict[int, int] = {}
    barrier = threading.Barrier(2)

    def work(i: int) -> None:
        with tracer.span(f"outer{i}") as outer:
            barrier.wait()
            spark.range(10 + i).collect()
            expected[outer["id"]] = expected.get(outer["id"], 0) + 1
            with tracer.span(f"inner{i}") as inner:
                spark.range(20 + i).collect()
                spark.range(30 + i).collect()
                expected[inner["id"]] = 2
            spark.range(40 + i).collect()
            expected[outer["id"]] += 1

    threads = [threading.Thread(target=work, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()
    jobs = spans.read_jobs(sc, first)
    got: dict[int, int] = {}
    for j in jobs:
        got[j["span"]] = got.get(j["span"], 0) + 1
    assert got == expected
    by_id = {s["id"]: s for s in tracer.spans}
    for s in tracer.spans:
        if s["name"].startswith("inner"):
            assert by_id[s["parent"]]["name"] == "outer" + s["name"][-1]
            assert s["request"] == s["parent"]
