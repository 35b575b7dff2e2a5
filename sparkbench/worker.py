"""The benchmark's Spark process: set up, warm up, run one workload for a
fixed time, check its outputs and write the metrics as JSON.

Started by ``run.py`` with the environment pinned and the inputs already
generated; run it through ``run.py``, not directly.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
import traceback
import uuid
from http.client import HTTPConnection
from typing import Any, Callable

import pyarrow.parquet as pq

import checks
import spans

# The nine operations in the shape the frontend's buildConfig() sends:
# every op enabled, options a user picks in the form. Fill and cap (not
# drop and remove) keep one output row per distinct input row, which the
# output check relies on.
SERVICE_OPERATIONS = {
    "data_type_conversion": {"enabled": True, "auto_detect": True},
    "text_cleaning": {"enabled": True, "operations": ["lowercase", "remove_html", "remove_urls",
                                                      "remove_extra_spaces"]},
    "datetime_parsing": {"enabled": True, "auto_detect": True, "extract_features": True},
    "missing_values": {"enabled": True, "strategy": "fill_median"},
    "duplicates": {"enabled": True},
    "outliers": {"enabled": True, "method": "iqr", "action": "cap"},
    "typo_fix": {"enabled": True, "method": "common_typos"},
    "encoding": {"enabled": True, "method": "label", "columns": ["city", "grade", "gender"]},
    "normalization": {"enabled": True, "method": "standard", "columns": ["age", "salary"]},
}
# Band for curation.quality_filter: generated prose compresses to ~0.5,
# the repetitive documents to well under 0.2.
COMPRESSION_BAND = (0.3, 0.95)
# Untimed operations per client before timing starts. The first one runs
# cold (class loading, codegen, JIT) at about twice the warm time, and the
# JIT keeps making the next two faster: the second clean cycle or corpus
# pass is still ~25% and the third ~10% slower than the fourth, after
# which operations stay within the host's noise. Timing after three keeps
# the transient out.
WARMUP_OPS = 3


def now() -> float:
    return time.perf_counter()


def failed(rec: dict[str, Any], why: str) -> dict[str, Any]:
    rec["ok"] = False
    rec["errors"].append(why)
    return rec


# --------------------------------------------------------------------------
# service_clean


def multipart(fields: dict[str, Any]) -> tuple[str, bytes]:
    boundary = f"----sparkbench{uuid.uuid4().hex}"
    out = bytearray()
    for name, val in fields.items():
        out += f"--{boundary}\r\n".encode()
        if isinstance(val, tuple):
            filename, payload = val
            out += (f'Content-Disposition: form-data; name="{name}"; filename="{filename}"\r\n'
                    "Content-Type: text/csv\r\n\r\n").encode() + payload + b"\r\n"
        else:
            out += f'Content-Disposition: form-data; name="{name}"\r\n\r\n{val}\r\n'.encode()
    out += f"--{boundary}--\r\n".encode()
    return f"multipart/form-data; boundary={boundary}", bytes(out)


class Workload:
    """What the measurement loop needs from a workload: ``op(client, k)``
    returns a record, ``check(record)`` its output problems, and
    ``end_to_end(records)`` the workload's share of the end-to-end
    metrics."""

    clients = 1
    # Warm time of one operation on the reference host (4 shared CPUs);
    # sets how many operations fit in the timed window.
    op_s: float
    server: Any = None

    def http_overhead(self, recs: list[dict[str, Any]], spans_: list[dict]) -> float:
        return 0.0

    def close(self) -> None:
        pass


class ServiceClean(Workload):
    """Closed loop of ``clients`` clients against the stdlib server, each
    cycle POST /upload, POST /clean-data, GET /download under the
    client's own filename."""

    op_s = 9.0

    def __init__(self, spark: Any, manifest: dict, work: str):
        from dataforge_spark.http_server import serve_background

        self.clients = manifest["clients"]
        self.files: list[list[dict]] = [[f for f in manifest["files"] if f["client"] == c]
                                        for c in range(self.clients)]
        self.rows_per_op = self.files[0][0]["rows"]
        self.server, _ = serve_background(spark, upload_dir=os.path.join(work, "uploads"))
        self.port = self.server.server_address[1]

    def request(self, method: str, path: str, fields: dict | None = None) -> tuple[int, bytes, float, float]:
        headers, body = {}, None
        if fields is not None:
            ctype, body = multipart(fields)
            headers["Content-Type"] = ctype
        conn = HTTPConnection("127.0.0.1", self.port, timeout=170)
        try:
            t0 = now()
            conn.request(method, path, body=body, headers=headers)
            resp = conn.getresponse()
            data = resp.read()
            return resp.status, data, t0, now()
        finally:
            conn.close()

    def op(self, c: int, k: int) -> dict[str, Any]:
        # Warm-up cycles (k < 0) have their own files. Every cycle of a run
        # uploads other bytes: a clean of bytes an earlier request already
        # cleaned under the same name reuses that request's cached result
        # and runs one job fewer.
        files = self.files[c]
        f = files[WARMUP_OPS + k if k < 0 else WARMUP_OPS + k % (len(files) - WARMUP_OPS)]
        rec: dict[str, Any] = {"client": c, "k": k, "ok": True, "errors": [],
                               "id0": f["id0"], "distinct_rows": f["distinct_rows"]}
        name = f"client{c}.csv"
        with open(f["path"], "rb") as fh:
            payload = fh.read()
        status, body, t0, t1 = self.request("POST", "/upload", {"file": (name, payload)})
        rec["upload"] = (t0, t1)
        if status != 200:
            return failed(rec, f"/upload {status}: {body[:200]!r}")
        file_path = json.loads(body)["file_path"]
        status, body, t0, t1 = self.request(
            "POST", "/clean-data",
            {"file_path": file_path, "operations": json.dumps(SERVICE_OPERATIONS)})
        rec["clean"] = (t0, t1)
        if status != 200:
            return failed(rec, f"/clean-data {status}: {body[:200]!r}")
        resp = json.loads(body)
        errors = [n for n, o in resp["result"]["operations"].items() if o.get("status") == "error"]
        if errors:
            failed(rec, f"report operations with status error: {errors}")
        status, data, t0, t1 = self.request("GET", resp["download_url"])
        rec["download"] = (t0, t1)
        if status != 200:
            return failed(rec, f"/download {status}")
        part = checks.part_file(resp["output_file"])
        if part is None:
            return failed(rec, "output is not one part file")
        with open(part, "rb") as fh:
            if fh.read() != data:
                failed(rec, "downloaded bytes differ from the written part file")
        rec["csv"] = data
        return rec

    def check(self, rec: dict[str, Any]) -> list[str]:
        return checks.cleaned_csv(rec.pop("csv"), rec["id0"], rec["distinct_rows"]) if "csv" in rec else []

    @staticmethod
    def latency(rec: dict[str, Any], key: str) -> float:
        t0, t1 = rec[key]
        return t1 - t0

    def end_to_end(self, recs: list[dict[str, Any]]) -> dict[str, float]:
        done = [r for r in recs if "download" in r]
        if not done:
            return {}
        cycle = statistics.median(r["download"][1] - r["upload"][0] for r in done)
        return {
            "op_p50_s": statistics.median(self.latency(r, "clean") for r in done),
            "rows_per_s": self.clients * self.rows_per_op / cycle,
        }

    def info(self, recs: list[dict[str, Any]]) -> dict[str, Any]:
        up = [self.latency(r, "upload") for r in recs if "upload" in r]
        cl = [self.latency(r, "clean") for r in recs if "clean" in r]
        return {"upload_p50_s": median(up), "clean_p50_s": median(cl),
                "clean_tail": tail(cl), "upload_samples": up, "clean_samples": cl}

    def http_overhead(self, recs: list[dict[str, Any]], spans_: list[dict]) -> float:
        """Client latency minus the service handler's span, per /upload and
        /clean-data request, matched by client file and time window."""
        roots = [s for s in spans_ if s["parent"] is None and s["name"] in
                 ("service.upload", "service.clean_data")]
        diffs = []
        for r in recs:
            for key, name in (("upload", "service.upload"), ("clean", "service.clean_data")):
                if key not in r:
                    continue
                t0, t1 = r[key]
                match = [s for s in roots if s["name"] == name and s["start"] >= t0 and s["end"] <= t1
                         and f"client{r['client']}" in (s["label"] or "")]
                if len(match) == 1:
                    diffs.append((t1 - t0) - (match[0]["end"] - match[0]["start"]))
        return statistics.median(diffs) if diffs else 0.0

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()


# --------------------------------------------------------------------------
# corpus_dedup


class CorpusDedup(Workload):
    """One client: quality filter, keep passing docs, MinHash dedup, write
    parquet. Each pass writes its own output directory, checked at the end."""

    op_s = 4.5

    def __init__(self, spark: Any, manifest: dict, work: str):
        self.spark = spark
        self.path = manifest["path"]
        self.truth = manifest["truth"]
        self.rows_per_op = manifest["rows"]
        self.out = os.path.join(work, "out")
        self.passes = 0

    def op(self, c: int, k: int) -> dict[str, Any]:
        from dataforge_spark import curation
        from dataforge_spark import io as dfio
        from dataforge_spark.dedup import minhash

        self.passes += 1
        out = os.path.join(self.out, f"pass{self.passes}")
        rec: dict[str, Any] = {"client": c, "k": k, "ok": True, "errors": [], "out": out}
        t0 = now()
        docs = dfio.read_parquet(self.spark, self.path)
        scored = curation.quality_filter(docs, compression_band=COMPRESSION_BAND)
        kept = scored.where("keep").select("doc_id", "text")
        dfio.write_parquet(minhash.minhash_dedup(kept), out)
        rec["pass"] = (t0, now())
        return rec

    def check(self, rec: dict[str, Any]) -> list[str]:
        ids = set(pq.read_table(rec["out"], columns=["doc_id"]).column("doc_id").to_pylist())
        return checks.deduped_corpus(ids, self.truth)

    def end_to_end(self, recs: list[dict[str, Any]]) -> dict[str, float]:
        p50 = median([r["pass"][1] - r["pass"][0] for r in recs if "pass" in r])
        return {"op_p50_s": p50, "rows_per_s": self.rows_per_op / p50} if p50 else {}

    def info(self, recs: list[dict[str, Any]]) -> dict[str, Any]:
        return {"pass_samples": [r["pass"][1] - r["pass"][0] for r in recs if "pass" in r]}


WORKLOADS = {"service_clean": ServiceClean, "corpus_dedup": CorpusDedup}


# --------------------------------------------------------------------------
# measurement helpers


def median(samples: list[float]) -> float | None:
    return statistics.median(samples) if samples else None


def tail(samples: list[float]) -> dict[str, Any] | None:
    """The highest latency percentile with at least ten samples beyond it,
    or None when there are fewer than eleven samples."""
    n = len(samples)
    if n < 11:
        return None
    k = n - 10
    return {"percentile": 100 * k // n, "value": sorted(samples)[k - 1], "samples": n, "beyond": 10}


def closed_loop(op: Callable, clients: int, counts: list[int],
                first: int = 0) -> list[dict[str, Any]]:
    """One thread per client; a client sends its next operation only when
    the previous one has returned. Client c runs exactly ``counts[c]``
    operations, numbered from ``first``."""
    results: list[list[dict[str, Any]]] = [[] for _ in range(clients)]

    def client(c: int) -> None:
        k = first
        while k - first < counts[c]:
            try:
                results[c].append(op(c, k))
            except Exception:  # a failed operation is counted, not fatal
                results[c].append({"client": c, "k": k, "ok": False,
                                   "errors": [traceback.format_exc(limit=3)]})
            k += 1

    threads = [threading.Thread(target=client, args=(c,)) for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return [r for rs in results for r in rs]


class PeakRss:
    """Peak resident memory of this process plus the JVM, from the
    kernel's high-water mark, reset when the timed region starts."""

    def __init__(self, pids: list[int]):
        self.pids = pids

    def reset(self) -> None:
        for pid in self.pids:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")

    def peak_mb(self) -> float:
        kb = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return kb / 1024.0


# --------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--t0", type=float, required=True, help="time.monotonic() at process spawn")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(args.manifest) as f:
        manifest = json.load(f)

    from dataforge_spark import get_spark

    t = now()
    spark = get_spark("sparkbench")
    session_start = now() - t
    sc = spark.sparkContext
    spark.range(1).count()
    work = os.path.dirname(os.path.abspath(args.manifest))
    wl = WORKLOADS[manifest["workload"]](spark, manifest, work)
    closed_loop(wl.op, wl.clients, counts=[WARMUP_OPS] * wl.clients, first=-WARMUP_OPS)
    setup_s = time.monotonic() - args.t0

    rss = PeakRss([os.getpid(), int(spark._jvm.java.lang.ProcessHandle.current().pid())])
    rss.reset()
    j0, t0 = spans.total_jobs(sc), now()
    # A fixed number of operations per client, as many as fit in
    # --seconds at the reference host's speed. Starting operations until a
    # deadline instead made the count follow host speed: on a fast host a
    # service client fit a second, warmer cycle into the window, and runs
    # with one and two cycles differed by ~15%.
    per_client = max(1, round(args.seconds / wl.op_s))
    recs = closed_loop(wl.op, wl.clients, counts=[per_client] * wl.clients)
    wall = now() - t0
    jobs_untraced = spans.total_jobs(sc) - j0
    peak = rss.peak_mb()

    result: dict[str, Any] = {"workload": manifest["workload"], "trace": args.trace}
    problems: list[str] = []
    per_layer: dict[str, float] = {}
    if args.trace:
        counts = [sum(1 for r in recs if r["client"] == c) for c in range(wl.clients)]
        tracer = spans.Tracer(sc)
        with spans.instrumented(tracer, wl.server):
            j1, t1 = spans.total_jobs(sc), now()
            traced = closed_loop(wl.op, wl.clients, counts=counts, first=max(counts))
            wall_traced = now() - t1
        jobs = spans.read_jobs(sc, j1)
        n_ops = len(traced)
        per_layer = spans.layer_table(tracer.spans, jobs, n_ops, n_ops * wl.rows_per_op,
                                      wall_traced, int(os.environ["SPARK_GRAFT_CPUS"]))
        per_layer["session.start_s"] = session_start
        per_layer["http_server.overhead_s"] = wl.http_overhead(traced, tracer.spans)
        per_layer["trace.overhead_frac"] = wall_traced / wall - 1.0
        untraced_per_op = jobs_untraced / max(1, len(recs))
        if abs(per_layer["spark.jobs_per_op"] - untraced_per_op) > 1e-9:
            problems.append(f"traced run has {per_layer['spark.jobs_per_op']} jobs per op, "
                            f"untraced {untraced_per_op}")
        unattributed = sum(1 for j in jobs if j["span"] is None)
        result["trace_detail"] = {"jobs": jobs, "unattributed_jobs": unattributed,
                                  "untraced_jobs_per_op": untraced_per_op}
        with open(os.path.join(os.path.dirname(args.out), "spans.json"), "w") as f:
            json.dump(tracer.spans, f)
        recs_checked = recs + traced
    else:
        recs_checked = recs

    for r in recs_checked:
        if r["ok"]:
            found = wl.check(r)
            if found:
                r["ok"] = False
                r["errors"].extend(found)
    n_failed = sum(1 for r in recs_checked if not r["ok"])
    problems.extend(e for r in recs_checked for e in r["errors"])
    end_to_end = {"setup_s": setup_s, "peak_rss_mb": peak, **wl.end_to_end(recs)}
    result["info"] = wl.info(recs)
    wl.close()
    spark.stop()

    result.update({
        "correct": not problems,
        "attempted": len(recs_checked),
        "failed": n_failed,
        "problems": problems[:20],
        "end_to_end": end_to_end,
        "per_layer": per_layer,
        "timed_wall_s": wall,
        "jobs_untraced": jobs_untraced,
    })
    with open(args.out, "w") as f:
        json.dump(result, f, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
