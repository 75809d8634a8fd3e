"""Benchmark entry point.

    python3 perfbench/run.py --workload market_live --seed 1 --seconds 10 --trace 0

Runs one workload in its own worker process (own Python, own JVM) with
the session shape pinned through environment variables, and prints as
its last stdout line one JSON object: {"correct", "attempted",
"failed", "metrics"}.  --trace 0 reports the end-to-end metrics of
BENCHMARK.json; --trace 1 reports its per-layer metrics from a traced
run, with the tracing overhead against an untraced run of the same seed,
and writes the span tree and all per-layer numbers to
.perfbench_out/<workload>-seed<n>-cpus<c>.trace.json.  --cpus 1 --trace 1
is the single-core reference.  perfbench/README.md describes the
workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "real_time_financial_market_data_pipeline_spark"
WORKLOADS = ("market_live", "corpus_curation")
DEADLINE_S = 172.0  # a run must end within 180 s, killing included

# Session shape, pinned from outside through the variables the package
# already reads.  A 2g heap fits a 15 GB host several times over; the
# package's own default (48g) would make the peak-RSS figure meaningless.
DRIVER_MEMORY = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def code_version() -> str:
    """Digest of BENCHMARK.json and every file of the package and the
    benchmark: an untraced report is reused only by the same code."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "BENCHMARK.json")]
    for top in (PACKAGE, os.path.basename(HERE)):
        for dirpath, dirnames, files in os.walk(os.path.join(ROOT, top)):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            paths += [os.path.join(dirpath, f) for f in sorted(files) if not f.endswith(".pyc")]
    for path in paths:
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def child_env(work: str, cpus: int, trace: bool) -> dict:
    tmp = os.path.join(work, "tmp")
    for d in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    conf = [f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if trace:
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir={os.path.join(work, 'eventlog')}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {shlex.quote(c)}" for c in conf) + " pyspark-shell",
        PERFBENCH_EVENT_LOG=os.path.join(work, "eventlog"),
        TMPDIR=tmp,
        # every JVM, spark-submit's launcher included, keeps its files in
        # the work dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        TZ="UTC",
        PYTHONDONTWRITEBYTECODE="1",
        # Python UDF workers unpickle package functions by import path
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


def run_child(workload: str, seed: int, seconds: float, trace: bool, cpus: int, deadline: float) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}-{int(trace)}-{cpus}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    log = os.path.join(work, "worker.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace)),
        "--work", os.path.join(work, "data"), "--result", result, "--t-spawn", repr(time.time()),
    ]
    try:
        with open(log, "w") as fh:
            proc = subprocess.Popen(cmd, cwd=work, env=child_env(work, cpus, trace), stdout=fh, stderr=subprocess.STDOUT, start_new_session=True)
            try:
                rc = proc.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                _kill_group(proc)
        if rc != 0 or not os.path.exists(result):
            kept = os.path.join(ROOT, ".perfbench_out", f"{workload}-seed{seed}.worker.log")
            os.makedirs(os.path.dirname(kept), exist_ok=True)
            shutil.copyfile(log, kept)
            why = "timed out" if rc is None else f"exited with {rc}"
            raise RuntimeError(f"{workload} worker {why}; its log is {kept}")
        with open(result) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _kill_group(proc: subprocess.Popen) -> None:
    """Stop the worker's whole session (its JVM included) and wait."""
    try:
        os.killpg(proc.pid, signal.SIGTERM)
    except ProcessLookupError:
        pass
    try:
        proc.wait(timeout=10)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    # the JVM may outlive the worker briefly in the same session
    for _ in range(50):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def e2e_values(res: dict) -> dict:
    return dict(res["e2e"], setup_s=res["setup_s"])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None,
                    help="SPARK_GRAFT_CPUS for the workers (default: nproc); "
                         "--cpus 1 --trace 1 gives the single-core reference")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"package {PACKAGE} not found beside {HERE}", file=sys.stderr)
        return 2
    spec = declared()
    deadline = time.time() + DEADLINE_S
    cpus = args.cpus or nproc()

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    report = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-cpus{cpus}.json")
    key = {"code": code_version(), "seconds": args.seconds}
    base = None
    if args.trace and os.path.exists(report):
        # an untraced run of this seed, code and length already ran in
        # this checkout: it is the untraced side of the overhead, and the
        # traced run keeps within the time a run may take
        with open(report) as fh:
            cached = json.load(fh)
        if cached.get("key") == key:
            base, runs = cached, []
    if base is None:
        base = run_child(args.workload, args.seed, args.seconds, False, cpus, deadline)
        runs = [base]
        with open(report, "w") as fh:
            json.dump(dict({k: base[k] for k in ("e2e", "setup_s", "timings", "detail")}, key=key), fh, default=str)
    if args.trace:
        traced = run_child(args.workload, args.seed, args.seconds, True, cpus, deadline)
        runs.append(traced)
        # the same seed must curate to the same output with and without
        # tracing (the traced run also serializes the index writes)
        digests = {r["detail"].get("digest") for r in (base, traced)}
        if len(digests) > 1:
            traced["correct"] = False
            traced["failed"] += 1
            traced["detail"]["checks"]["same_digest_as_untraced"] = f"digests differ: {sorted(digests)}"
        layers = dict(traced["layers"])
        e_base, e_tr = e2e_values(base), e2e_values(traced)
        overhead = {k: e_tr[k] - e_base[k] for k in e_base}
        layers["trace.overhead_latency_p50_s"] = overhead["latency_p50_s"]
        layers["trace.overhead_throughput_pct"] = 100.0 * (e_base["throughput_per_s"] - e_tr["throughput_per_s"]) / max(1e-9, e_base["throughput_per_s"])
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-cpus{cpus}.trace.json"), "w") as fh:
            json.dump({
                "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "cpus": cpus,
                "untraced": {"e2e": e_base, "detail": base["detail"]},
                "traced": {"e2e": e_tr, "layers": traced["layers"], "detail": traced["detail"],
                           "spans": traced.get("spans", []), "span_self_s": traced.get("span_self_s", {}),
                           "progress": traced.get("progress", [])},
                "tracing_overhead": overhead,
            }, fh, default=str)
        out = metrics.select(spec["per_layer"], layers)
    else:
        out = metrics.select(spec["end_to_end"], e2e_values(base))

    print(json.dumps({
        "correct": all(r["correct"] for r in runs),
        "attempted": int(sum(r["attempted"] for r in runs)),
        "failed": int(sum(r["failed"] for r in runs)),
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
