"""One workload in one Python process and one JVM.

    python3 perfbench/worker.py --workload market_live --seed 1 \
        --seconds 10 --trace 0 --work DIR --result FILE --t-spawn EPOCH

`run.py` starts this with the session shape pinned through the
environment (SPARK_GRAFT_CPUS, SPARK_LOCAL_DIRS, SPARK_DRIVER_MEMORY,
PYSPARK_SUBMIT_ARGS) and reads the JSON it writes to --result.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from common import Tracer, make_progress_listener, peak_rss_mb, read_event_log, spark_layer  # noqa: E402


class Context:
    def __init__(self, args, spark) -> None:
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = args.work
        self.tracer = Tracer(self.trace, spark.sparkContext if self.trace else None)
        self.timings: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.detail: dict = {}
        self.progress: list[dict] = []
        self.t_begin: float | None = None
        # idle wait inside set-up that is not set-up work (trigger-grid alignment)
        self.idle_s = 0.0

    def begin(self) -> float:
        """Set-up ends and timing begins."""
        self.t_begin = time.time()
        return self.t_begin


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--t-spawn", type=float, required=True)
    args = ap.parse_args()

    t_sess = time.time()
    from real_time_financial_market_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    ctx = Context(args, spark)
    ctx.timings["session.start_s"] = time.time() - t_sess
    if ctx.trace:
        spark.streams.addListener(make_progress_listener(ctx.progress))

    if args.workload == "market_live":
        import market as wl
    elif args.workload == "corpus_curation":
        import curation as wl
    else:
        raise SystemExit(f"unknown workload {args.workload!r}")

    res = wl.run(ctx)
    res["setup_s"] = ctx.t_begin - args.t_spawn - ctx.idle_s
    ctx.detail["peak_rss_mb"] = peak_rss_mb()
    res["timings"] = ctx.timings
    res["detail"] = ctx.detail
    lo, hi = res.pop("window")
    if ctx.trace:
        res["persisted_rdds_end"] = spark.sparkContext._jsc.getPersistentRDDs().size()
    spark.stop()
    layers = dict(ctx.layers)
    layers.update(ctx.timings)
    if ctx.trace:
        log = read_event_log(os.environ["PERFBENCH_EVENT_LOG"])
        for k, v in spark_layer(log, lo, hi).items():
            layers[f"spark.{k}"] = v
        pw = ctx.detail.get("panel_window")
        if pw:
            sv = spark_layer(log, pw[0], pw[1])
            layers["serving.jobs_per_query"] = sv["jobs"] / pw[2]
            layers["serving.tasks_per_query"] = sv["tasks"] / pw[2]
        layers["spark.persisted_rdds_end"] = res.pop("persisted_rdds_end")
        layers["spark.peak_rss_mb"] = ctx.detail["peak_rss_mb"]
        # attach each span's Spark jobs and tasks through its job group
        by_group: dict[str, list[int]] = {}
        for j, v in log["jobs"].items():
            by_group.setdefault(v["group"], []).append(j)
        tasks_by_job: dict[int, int] = {}
        for t in log["tasks"]:
            tasks_by_job[t["job"]] = tasks_by_job.get(t["job"], 0) + 1
        for s in ctx.tracer.spans:
            own = by_group.get(s["group"], [])
            s["spark_jobs"] = len(own)
            s["spark_tasks"] = sum(tasks_by_job.get(j, 0) for j in own)
        res["spans"] = ctx.tracer.spans
        res["span_self_s"] = ctx.tracer.self_times()
        res["progress"] = ctx.progress
    res["layers"] = layers
    with open(args.result, "w") as fh:
        json.dump(res, fh, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
