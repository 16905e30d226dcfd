"""Benchmark for the near-duplicate engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs from any working directory.  Each repetition is a fresh driver process
(worker.py, fresh JVM on ``local[nproc]``) that times the session set-up and
then one workload operation and checks its output, because a submitted
dedup job pays session build and first-job code generation every time.
Repetitions continue while another one is expected to finish within
``--seconds``; at least one always runs.  The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end metrics
(``--trace 0``) or the per-layer metrics of a traced repetition
(``--trace 1``).  The line before it is the run record, also appended to
``_cache/records.jsonl``.  See README.md for workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pyspark

import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "deduplication_challenge_spark")
CACHE = os.path.join(HERE, "_cache")
# driver heap pinned well below physical RAM: the session default is 16g
DRIVER_MEMORY = "3g"
# a run must end within 180 s; leave room for input generation and output
RUN_DEADLINE_S = 170.0

PAGES_DIGEST = "bcf93ff06186116437410a013d596b61147be62d1cd92b9854e8309d04e459b3"
WORKLOADS = {
    "sf0.1-pages": {"base_docs": 5000, "replicas": 0,
                    "expect": {"canonical": 4034, "digest": PAGES_DIGEST}},
    # The perturbation tokens depend on the seed, so the clustering does too.
    # The ranges hold every seed measured (see README.md) with a margin, and
    # catch a collapse into fewer, larger clusters as well as lost edges.
    "replicated": {"base_docs": 5000, "replicas": 8,
                   "expect": {"canonical": [2900, 3090], "max_members": [11500, 14200]}},
}
# size of the batch the traced run attaches to the finished pipeline workdir
TRACE_BATCH = 2000


def cores() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times() -> list[int]:
    """Aggregate /proc/stat cpu jiffies; field 7 is steal, the time a
    virtual machine waited for a host CPU."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def files_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for path in paths:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def engine_digest() -> str:
    """Digest of the engine sources, which identifies the code under test
    also outside a git checkout."""
    paths = []
    for d, dirs, files in sorted(os.walk(ENGINE)):
        dirs.sort()
        paths += [os.path.join(d, n) for n in sorted(files) if n.endswith(".py")]
    return files_digest(paths)


#: identifies the generated inputs: the generators and the base table
INPUTS_VERSION = files_digest([inputs.__file__, inputs.BASE_DOCUMENTS])


def source_stamp() -> dict:
    """Git commit when the tree is a checkout, the engine digest and the
    inputs version."""
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True)
        commit = out.stdout.strip() or None
    return {"git_commit": commit, "engine_digest": engine_digest(),
            "inputs_version": INPUTS_VERSION}


def make_inputs(w: dict, seed: int, batch: int) -> dict:
    """Cached inputs for (workload, seed, size, inputs version)."""
    n, r, v = w["base_docs"], w["replicas"], INPUTS_VERSION
    if r:
        input_dir = inputs.cached(CACHE, f"replicated-n{n}-r{r}-s{seed}-{v}",
                                  lambda: inputs.replicated_documents(n, r, seed))
    else:
        input_dir = inputs.cached(CACHE, f"pages-n{n}-s{seed}-{v}",
                                  lambda: inputs.permuted_documents(n, seed))
    batch_dir = inputs.cached(CACHE, f"batch-n{n}-b{batch}-s{seed}-{v}",
                              lambda: inputs.incremental_batch(n, batch, seed))
    return {"input_dir": input_dir, "input_docs": n * max(r, 1),
            "batch_dir": batch_dir, "batch_docs": batch}


def _env(scratch: str) -> dict:
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update({
        # Spark's Python workers import the engine too
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "spark-local"),
        "TMPDIR": os.path.join(scratch, "tmp"),
        # every JVM spark-submit starts keeps its scratch files in the cache
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')} -XX:-UsePerfData",
    })
    return env


def _spawn(spec_path: str, scratch: str, timeout: float) -> None:
    """Run a worker in its own process group and wait for it; on timeout
    kill the group (the worker, its JVM and Spark's Python workers)."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    with open(os.path.join(scratch, "worker.log"), "w") as log:
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"), spec_path],
                                cwd=scratch, env=_env(scratch), stdout=log, stderr=log,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            pass
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()


def _tail(path: str, n: int = 2000) -> str:
    try:
        with open(path, errors="replace") as f:
            return f.read()[-n:]
    except OSError:
        return ""


def one_rep(spec: dict, rep: int, timeout: float) -> dict:
    scratch = os.path.join(CACHE, "scratch", f"{spec['workload']}-s{spec['seed']}-{rep}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    spec = dict(spec, work=os.path.join(scratch, "work"),
                result=os.path.join(scratch, "result.json"))
    spec_path = os.path.join(scratch, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    t0 = time.monotonic()
    _spawn(spec_path, scratch, timeout)
    wall = time.monotonic() - t0
    try:
        with open(spec["result"]) as f:
            res = json.load(f)
    except (OSError, ValueError):
        res = {"ok": False, "error": "worker ended without a result (crash or timeout)",
               "log": _tail(os.path.join(scratch, "worker.log"))}
    if not res["ok"] and "log" not in res:
        res["log"] = _tail(os.path.join(scratch, "worker.log"))
    res["rep_wall_s"] = wall
    shutil.rmtree(scratch, ignore_errors=True)
    return res


def build_spec(workload: str, seed: int, trace: bool, w: dict, batch: int,
               stamp: dict) -> dict:
    # outputs are compared only between runs of the same code and inputs
    size = f"n{w['base_docs']}-r{w['replicas']}-b{batch}"
    code = f"{stamp['engine_digest']}-{stamp['inputs_version']}"
    return {
        "workload": workload, "seed": seed, "trace": trace, "cores": cores(),
        "replicas": w["replicas"], "expect": w.get("expect", {}),
        "expect_file": os.path.join(CACHE, "expect", f"{workload}-{size}-s{seed}-{code}.json"),
        "trace_file": os.path.join(CACHE, "traces", f"{workload}-s{seed}-{int(time.time())}.json"),
        **make_inputs(w, seed, batch),
    }


def declared_metrics() -> dict:
    """Metric names and units, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload: str, seed: int, seconds: float, trace: bool, w: dict | None = None,
        batch: int = TRACE_BATCH) -> tuple[dict, dict]:
    """All repetitions of one run -> (record, result line)."""
    start = time.monotonic()
    stamp = {"workload": workload, "seed": seed, "trace": trace, "seconds": seconds,
             "nproc": cores(), "loadavg_before": loadavg(), **source_stamp()}
    spec = build_spec(workload, seed, trace, w or WORKLOADS[workload], batch, stamp)
    cpu_before = cpu_times()
    stamp["pyspark"] = pyspark.__version__
    reps: list[dict] = []
    measure_start = time.monotonic()
    while True:
        reps.append(one_rep(spec, len(reps), RUN_DEADLINE_S - (time.monotonic() - start)))
        elapsed = time.monotonic() - measure_start
        per_rep = elapsed / len(reps)
        if elapsed + per_rep > seconds or per_rep > RUN_DEADLINE_S - (time.monotonic() - start):
            break
    stamp["loadavg_after"] = loadavg()
    delta = [b - a for a, b in zip(cpu_before, cpu_times())]
    stamp["cpu_steal_share"] = delta[7] / max(1, sum(delta))
    units = {m["name"]: m["unit"]
             for m in declared_metrics()["per_layer" if trace else "end_to_end"]}
    declared = list(units)
    for r in reps:
        if "e2e_s" in r:
            r["docs_per_s"] = spec["input_docs"] / r["e2e_s"]
        missing = [k for k in declared if k not in (r.get("metrics", {}) if trace else r)]
        if r["ok"] and missing:
            r.update(ok=False, error=f"metrics not measured: {missing}")
    failed = sum(not r["ok"] for r in reps)
    values = [r.get("metrics", {}) for r in reps] if trace else reps
    metrics = {k: {"value": statistics.median(v), "unit": units[k]}
               for k in declared if (v := [x[k] for x in values if k in x])}
    record = {**stamp, "input_docs": spec["input_docs"], "attempted": len(reps),
              "failed": failed, "fail_ratio": failed / len(reps), "reps": reps,
              "wall_s": time.monotonic() - start}
    result = {"correct": failed == 0, "attempted": len(reps), "failed": failed,
              "metrics": metrics}
    return record, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ENGINE, "__init__.py")):
        print(f"engine package not found at {ENGINE}", file=sys.stderr)
        return 2
    record, result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    os.makedirs(CACHE, exist_ok=True)
    with open(os.path.join(CACHE, "records.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    for r in record["reps"]:
        if not r["ok"]:
            print(r.get("log", ""), file=sys.stderr)
    print(json.dumps({k: v for k, v in record.items() if k != "reps"}
                     | {"reps": [{k: v for k, v in r.items() if k not in ("log", "metrics")}
                                 for r in record["reps"]]}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
