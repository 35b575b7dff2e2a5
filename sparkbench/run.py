"""sparkforge benchmark: one command per workload and seed.

    python3 sparkbench/run.py --workload service_clean --seed 1 --seconds 9 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, starts the Spark worker with a pinned environment, and prints one
line per metric followed, as the last line, by one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` its per-layer metrics. Everything is written under
``.sparkbench/`` in the current directory; the inputs are removed at the
end and the run's result JSON (and, traced, its spans) are kept.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

# Input sizes. The service loop is bound by Spark job count (~100 small
# jobs per clean request), the corpus pass by its ~30 jobs; README.md says
# how they were sized to the benchmark's time budget.
SERVICE_CLIENTS = 2
SERVICE_ROWS = 1000
SERVICE_FILES_PER_CLIENT = 7  # three warm-up files, then four per timed phase
CORPUS_DOCS = 500
DRIVER_MEM = "1g"
DEADLINE_S = 175


def generate(workload: str, seed: int, inputs: str) -> dict:
    if workload == "service_clean":
        man = gen.service_inputs(seed, inputs, SERVICE_CLIENTS, SERVICE_FILES_PER_CLIENT, SERVICE_ROWS)
        man["clients"] = SERVICE_CLIENTS
        return man
    return gen.corpus_inputs(seed, inputs, CORPUS_DOCS)


def stop_group(proc: subprocess.Popen) -> None:
    """Kill the worker's whole process group (worker, JVM, Python UDF
    workers) and wait until every member has gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(100):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main() -> int:
    started = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM unwind through the finally below, which stops the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)
    if args.workload not in {w["name"] for w in declared["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(root, "dataforge_spark")):
        print("dataforge_spark is not in the current directory: run from the repository root",
              file=sys.stderr)
        return 2

    base = os.path.join(root, ".sparkbench")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(base, "work", f"{tag}-{os.getpid()}")
    results = os.path.join(base, "results", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    manifest = generate(args.workload, args.seed, os.path.join(work, "inputs"))
    manifest_path = os.path.join(work, "manifest.json")
    with open(manifest_path, "w") as f:
        json.dump(manifest, f)

    tmp = os.path.join(work, "tmp")
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join([root, env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
    })
    env.pop("SPARK_GRAFT_ON_CLUSTER", None)
    # A heap committed at its full size from the start makes the driver's
    # peak RSS repeatable; a growing heap's peak depends on GC timing.
    opts = [env.get("SPARK_SUBMIT_OPTS", ""), f"-Xms{DRIVER_MEM}"]
    if args.trace:
        # the traced phase reads every job of a run from the status store
        opts += ["-Dspark.ui.retainedJobs=100000", "-Dspark.ui.retainedStages=100000"]
    env["SPARK_SUBMIT_OPTS"] = " ".join(opts).strip()
    out = os.path.join(results, "result.json")
    if os.path.exists(out):
        os.remove(out)
    try:
        with open(os.path.join(results, "worker.log"), "w") as log:
            t0 = time.monotonic()
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), "--manifest", manifest_path,
                 "--t0", repr(t0), "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--out", out],
                cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
            try:
                code = proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - started)))
            except subprocess.TimeoutExpired:
                code = None
            finally:
                stop_group(proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        print(f"worker failed (exit {code}); see {os.path.join(results, 'worker.log')}",
              file=sys.stderr)
        return 1
    with open(out) as f:
        res = json.load(f)

    kind = "per_layer" if args.trace else "end_to_end"
    metrics, missing = {}, []
    for m in declared[kind]:
        if m["name"] in res[kind]:
            metrics[m["name"]] = {"value": res[kind][m["name"]], "unit": m["unit"]}
        else:
            missing.append(m["name"])
    problems = list(res["problems"]) + [f"metric {m} not measured" for m in missing]
    print(f"# {tag}: inputs {manifest['rows']} rows, {manifest['bytes']} bytes; "
          f"attempted {res['attempted']}, failed {res['failed']}, "
          f"error_rate {res['failed'] / max(1, res['attempted']):.4f}")
    for name, info in sorted(res.get("info", {}).items()):
        if not name.endswith("_samples"):
            print(f"# {name} {info}")
    for p in problems:
        print(f"# problem: {p}")
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": bool(res["correct"]) and not missing,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
