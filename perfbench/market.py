"""market_live: an open-loop trade feed through the chained medallion,
with a dashboard polling the live sinks.

One generator thread writes a feed file every tick on a fixed schedule
(hidden temp name, then rename), one dashboard thread refreshes on a
fixed period, and the main thread waits.  After the window the freshness
of every measured feed file is traced through the checkpoint logs, the
latest-prices job catches up on the feed, the outputs are checked
against the generator's manifest and against bars the benchmark computes
itself from the generator's rows, and a traced run compacts and
publishes the stopped layers and issues the serving panels.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import threading
import time

from ckptlog import commit_times, norm_path, sink_batches, source_batches, trace_files
from common import p50, p90, progress_phases, state_stats, union_length
from gen import FeedParams, ZipfDraw, make_feed, rows_digest, symbols

# The medallion triggers every 2 s so a file can cross its three chained
# layers in about the reference's 10 s trigger interval.  A feed file
# whose gold_5m commit comes later than FRESHNESS_LIMIT_S after its write
# is a failed operation; the 10 s target is not met on a 4-vCPU host
# (perfbench/README.md, "Rate sweep"), so the limit is 3x it and files
# over the target are counted in the run report.
TRIGGER_S = 2
TRIGGER = f"{TRIGGER_S} seconds"
TRIGGER_PHASE_S = 0.25
TARGET_S = 10.0
FRESHNESS_LIMIT_S = 30.0
REFRESH_PERIOD_S = 2.0
# A run whose generator fell further behind schedule than this is
# invalid: a stalled generator would otherwise read as good freshness.
SCHEDULE_LIMIT_S = 1.0
QUIESCE_TIMEOUT_S = 60.0
DRAIN_TIMEOUT_S = 120.0
PARAMS = FeedParams()
MEDALLION_QUERIES = ("bronze", "silver", "dead_letters", "gold_5m", "gold_1h")


def _write_feed_file(feed_dir: str, i: int, data: bytes) -> str:
    final = os.path.join(feed_dir, f"trades-{i:05d}.json")
    tmp = os.path.join(feed_dir, f".trades-{i:05d}.json.tmp")
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.rename(tmp, final)
    return final


class _Chain:
    """Checkpoint and sink-log locations of the chained medallion."""

    def __init__(self, out: str) -> None:
        ck = os.path.join(out, "_checkpoints")
        self.ckpt = {q: os.path.join(ck, f"chained_{q}") for q in MEDALLION_QUERIES}
        self.hops = [
            (self.ckpt["bronze"], os.path.join(out, "bronze", "_spark_metadata")),
            (self.ckpt["silver"], os.path.join(out, "silver", "_spark_metadata")),
        ]

    def gold_commit(self, files: list[str], layer: str = "gold_5m") -> dict:
        return trace_files(files, self.hops, self.ckpt[layer])

    def landed(self, files: list[str]) -> bool:
        return all(
            v is not None
            for layer in ("gold_5m", "gold_1h")
            for v in self.gold_commit(files, layer).values()
        )


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from real_time_financial_market_data_pipeline_spark.pipeline.validate import split_valid, with_validation_errors
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_trade_stream
    from real_time_financial_market_data_pipeline_spark.streaming.jobs import (
        LatestPricesStreamJob,
        MedallionStreamJob,
        gold_view,
        latest_prices_view,
    )

    spark, tr, seconds = ctx.spark, ctx.tracer, ctx.seconds
    n_ticks = max(1, int(round(seconds / PARAMS.tick_s)))

    # ---------------------------------------------------------- set-up
    t_in = time.time()
    feed = make_feed(ctx.seed, n_ticks, PARAMS)
    ctx.timings["session.inputs_s"] = time.time() - t_in
    t_warm = time.time()
    feed_dir = os.path.join(ctx.work, "feed")
    out = os.path.join(ctx.work, "medallion")
    lp_out = os.path.join(ctx.work, "latest")
    os.makedirs(feed_dir)
    chain = _Chain(out)
    # The deployment backfills the feed that is already there with the
    # draining form of the chained medallion, then goes live on the same
    # checkpoints.  A live start over an empty bronze dir writes a wrong
    # silver trade_date (README.md, "Known defects").
    warm = [_write_feed_file(feed_dir, i, feed.files[i]) for i in range(PARAMS.warmup_files)]
    job = MedallionStreamJob(out_dir=out, trigger={"processingTime": TRIGGER})
    lp_job = LatestPricesStreamJob(out_dir=lp_out)  # availableNow: a catch-up drain

    def latest_prices_drain(req: str, wait: bool = True):
        with tr.span("streaming.stateful.drain", req):
            valid, _dead = split_valid(with_validation_errors(read_trade_stream(spark, feed_dir)))
            return lp_job.start(valid, await_timeout_s=DRAIN_TIMEOUT_S if wait else 0)

    # the warm-up drain of the latest-prices job overlaps the backfill,
    # whose layers run one at a time; the backfill's batches are the cold
    # ones, so the live queries start warm
    lp_warm = latest_prices_drain("warmup", wait=False)
    with tr.span("streaming.jobs.backfill"):
        MedallionStreamJob(out_dir=out).start(read_trade_stream(spark, feed_dir), await_timeout_s=DRAIN_TIMEOUT_S)
    with tr.span("streaming.jobs.start"):
        mgr = job.start(read_trade_stream(spark, feed_dir), await_timeout_s=0)

    def wait_landed(files: list[str], timeout: float) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline:
            if chain.landed(files):
                return True
            for q in mgr.queries.values():
                if q.exception() is not None:
                    raise RuntimeError(f"streaming query {q.name} failed: {q.exception()}")
            time.sleep(0.1)
        return False

    if not wait_landed(warm, DRAIN_TIMEOUT_S) or not lp_warm.await_all(DRAIN_TIMEOUT_S):
        raise RuntimeError("warm-up files did not reach the gold layers and latest prices")

    sym_draw = ZipfDraw(symbols(PARAMS.n_symbols), PARAMS.zipf_s, random.Random(f"dash:{ctx.seed}"))

    def refresh(due: float, req: str) -> list[dict]:
        """One dashboard refresh: the latest bars of one symbol off the
        live gold_5m sink, then the latest-prices table."""
        sym = sym_draw()
        recs = []
        for panel in ("latest_bars", "latest_prices"):
            rec = {"panel": panel, "due": due, "ok": False}
            try:
                with tr.span(f"serving.{panel}", req):
                    b0 = time.time()
                    with tr.span("streaming.sinks.read_build", req):
                        if panel == "latest_bars":
                            df = (
                                gold_view(spark, out, "gold_5m")
                                .filter(F.col("symbol") == sym)
                                .orderBy(F.col("window_start").desc())
                                .limit(50)
                            )
                        else:
                            df = latest_prices_view(spark, lp_out)
                    b1 = time.time()
                    with tr.span("streaming.sinks.read_exec", req):
                        df.collect()
                    b2 = time.time()
                rec.update(ok=True, build_s=b1 - b0, exec_s=b2 - b1, end=b2)
            except Exception as exc:  # a failed panel counts as a failure
                rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
                rec["end"] = time.time()
            recs.append(rec)
        return recs

    if not all(r["ok"] for r in refresh(time.time(), "warmup")):
        raise RuntimeError("dashboard warm-up refresh failed")
    # Processing-time triggers fire on wall-clock multiples of their
    # interval; starting the window at a fixed phase of that grid gives
    # every run the same file-to-trigger timing.
    ctx.idle_s = (TRIGGER_PHASE_S - time.time()) % TRIGGER_S
    time.sleep(ctx.idle_s)
    ctx.timings["session.warmup_s"] = time.time() - t_warm

    # --------------------------------------------------------- measure
    late = {"generator": [], "dashboard": []}
    writes: list[tuple[str, float]] = []
    reads: list[dict] = []
    t0 = ctx.begin()
    t_end = t0 + seconds

    def generator() -> None:
        for k in range(n_ticks):
            due = t0 + k * PARAMS.tick_s
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            late["generator"].append(max(0.0, time.time() - due))
            path = _write_feed_file(feed_dir, PARAMS.warmup_files + k, feed.files[PARAMS.warmup_files + k])
            writes.append((path, time.time()))

    def dashboard() -> None:
        j = 0
        while t0 + j * REFRESH_PERIOD_S < t_end:
            due = t0 + j * REFRESH_PERIOD_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            late["dashboard"].append(max(0.0, time.time() - due))
            reads.extend(refresh(due, f"refresh-{j}"))
            j += 1

    threads = [threading.Thread(target=generator, name="generator"), threading.Thread(target=dashboard, name="dashboard")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    measured = [p for p, _ in writes]
    with tr.span("quiesce"):
        drained = wait_landed(measured, QUIESCE_TIMEOUT_S)
    mgr.stop_all()
    ctx.detail["gold_5m_live_dirs"] = _live_dirs(os.path.join(out, "gold_5m"))
    ctx.detail["silver_partitions"] = sorted(d for d in os.listdir(os.path.join(out, "silver")) if d.startswith("trade_date="))

    commits = chain.gold_commit(measured, "gold_5m")
    fresh = [commits[p] - wt for p, wt in writes if commits.get(p) is not None]
    over = sum(1 for p, wt in writes if commits.get(p) is None or commits[p] - wt > FRESHNESS_LIMIT_S)

    # silver rows committed after timing began, per second until the
    # last of those commits
    silver_dir = os.path.join(out, "silver")
    silver_df = spark.read.parquet(silver_dir)
    per_file = {
        norm_path(r["f"]): r["n"]
        for r in silver_df.groupBy(F.input_file_name().alias("f")).count().withColumnRenamed("count", "n").collect()
    }
    s_commit = {b: c for b, c in commit_times(chain.ckpt["silver"]).items() if c > t0}
    s_files = sink_batches(os.path.join(silver_dir, "_spark_metadata"))
    ingested = sum(per_file.get(f, 0) for b in s_commit for f in s_files.get(b, []))
    ingest_span = max(s_commit.values(), default=t_end) - t0

    # the latest-prices job catches up on the whole feed
    lp0 = time.time()
    latest_prices_drain("catch-up")
    ctx.detail["latest_prices_catch_up_s"] = time.time() - lp0

    # ---------------------------------------------------------- checks
    checks = {}
    silver_rows = [tuple(r) for r in silver_df.select("symbol", "timestamp", "price", "volume").collect()]
    checks["silver_rows"] = check_silver(silver_rows, feed.manifest)
    checks["silver_partitions"] = check_partitions(ctx.detail["silver_partitions"], feed.silver_rows)
    dead = spark.read.parquet(os.path.join(out, "dead_letters"))
    n_dead = dead.count()
    dead_counts = {
        r["e"]: r["n"]
        for r in dead.select(F.explode("errors").alias("e")).groupBy("e").count().withColumnRenamed("count", "n").collect()
    }
    checks["dead_letters"] = check_dead_letters(dead_counts, n_dead, feed.manifest)
    for layer, width_ms in (("gold_5m", 300_000), ("gold_1h", 3_600_000)):
        got = [tuple(r) for r in _bars(gold_view(spark, out, layer)).collect()]
        checks[layer] = check_bars(got, expected_bars(feed.silver_rows, width_ms))
    lp_rows = [
        (r["symbol"], r["last_price"], r["last_volume"], int(r["last_trade_time"].timestamp() * 1000 + 0.5))
        for r in latest_prices_view(spark, lp_out).collect()
    ]
    checks["latest_prices"] = check_latest(lp_rows, feed.valid_rows)

    if ctx.trace:
        # stream-stopped publish, then the serving layers, once per panel
        # over the published output; q8 reads the latest-prices job, whose
        # price_change counts the feed's duplicates, so check_latest
        # covers it instead
        import panels

        p0 = time.time()
        with tr.span("pipeline.materialize.publish"):
            job.compact_gold(spark)
            job.publish_gold_bucketed(spark)
            lp_job.publish_bucketed(spark)
        ctx.timings["pipeline.materialize.publish_s"] = time.time() - p0
        panels.register_views(spark, out, lp_out)
        pa = time.time()
        pan = panels.run_panels(
            ctx, silver_dir, "gold_5m_serving", symbols(1)[0], "2024-01-15", skip_check=("q8_latest_prices",)
        )
        ctx.detail["panel_window"] = (pa, time.time(), pan["n"])
        ctx.layers.update(pan["layers"])
        checks["serving_panels"] = True if not pan["wrong"] else f"panels differ from DuckDB: {pan['wrong']}"

    ok_reads = [r for r in reads if r["ok"]]
    gen_late = late["generator"] or [0.0]
    dash_late = late["dashboard"] or [0.0]
    schedule_ok = max(gen_late) <= SCHEDULE_LIMIT_S
    failed_checks = [k for k, v in checks.items() if v is not True]
    ctx.detail.update(
        schedule={
            "generator_late_max_s": max(gen_late), "generator_late_p90_s": p90(gen_late),
            "dashboard_late_max_s": max(dash_late), "dashboard_late_p90_s": p90(dash_late),
            "limit_s": SCHEDULE_LIMIT_S, "ok": schedule_ok,
        },
        checks=checks,
        feed_manifest=feed.manifest,
        freshness_s=fresh,
        files_over_limit=over,
        files_over_target=sum(1 for f in fresh if f > TARGET_S),
        drained=drained,
        read_errors=[r["error"] for r in reads if not r["ok"]][:5],
        read_s=[r["end"] - r["due"] for r in ok_reads],
    )
    if ctx.trace:
        n_bronze = spark.read.parquet(os.path.join(out, "bronze")).count()
        ctx.layers.update(_layers(ctx, chain, job, writes, reads, t0, t_end, n_dead, n_bronze))
    return {
        "e2e": {
            "latency_p50_s": p50(fresh),
            "latency_p90_s": p90(fresh),
            "throughput_per_s": ingested / ingest_span,
        },
        "attempted": len(writes) + len(reads) + len(checks),
        "failed": over + (len(reads) - len(ok_reads)) + len(failed_checks),
        "correct": not failed_checks and schedule_ok and drained,
        "window": (t0, t_end),
    }


def _bars(df):
    from pyspark.sql import functions as F

    return df.select(
        "symbol", F.col("window_start").cast("string"), "open", "high", "low", "close",
        "volume", "trade_count", "vwap",
    )


def check_silver(rows: list[tuple], manifest: dict) -> bool | str:
    want = manifest["counts"]["silver"]
    if len(rows) != want:
        return f"silver has {len(rows)} rows, generator implies {want}"
    if rows_digest(rows) != manifest["silver_digest"]:
        return "silver rows differ from the generator's valid, unique, on-time rows"
    return True


def check_partitions(dirs: list[str], silver_rows: list[tuple]) -> bool | str:
    """Silver is partitioned by each trade's UTC event date."""
    want = sorted({
        "trade_date=" + dt.datetime.fromtimestamp(ts / 1000, dt.timezone.utc).strftime("%Y-%m-%d")
        for _sym, ts, _p, _v in silver_rows
    })
    if dirs != want:
        return f"silver partitions {dirs[:5]}, the trades' event dates give {want}"
    return True


def check_dead_letters(by_class: dict, total: int, manifest: dict) -> bool | str:
    want = {c: n for c, n in manifest["dead_letters"].items() if n}
    got = {c: n for c, n in by_class.items() if n}
    if got != want or total != sum(want.values()):
        return f"dead letters {got} (total {total}), generator injected {want}"
    return True


def expected_bars(silver_rows: list[tuple], width_ms: int) -> list[tuple]:
    """OHLCV bars computed in plain Python from the rows silver must
    hold, in the column order of `_bars`: per (symbol, epoch-aligned
    window) open and close by event time, high, low, volume, trade
    count and volume-weighted average price."""
    groups: dict[tuple, list[tuple]] = {}
    for sym, ts, price, vol in silver_rows:
        groups.setdefault((sym, ts - ts % width_ms), []).append((ts, price, vol))
    bars = []
    for (sym, start), rows in groups.items():
        rows.sort()
        prices = [p for _t, p, _v in rows]
        volume = sum(v for _t, _p, v in rows)
        bars.append((
            sym,
            dt.datetime.fromtimestamp(start / 1000, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S"),
            prices[0], max(prices), min(prices), prices[-1],
            volume, len(rows), sum(p * v for _t, p, v in rows) / volume,
        ))
    return bars


def check_bars(got: list[tuple], want: list[tuple]) -> bool | str:
    """Bars keyed by (symbol, window_start) must match field for field;
    vwap, the last field, is a float sum whose value depends on the
    order rows were added, so it matches to a relative 1e-9."""

    def same(a, b) -> bool:
        return (
            a is not None and b is not None
            and a[:-1] == b[:-1]
            and abs(a[-1] - b[-1]) <= 1e-9 * max(1.0, abs(b[-1]))
        )

    g = {b[:2]: b for b in got}
    w = {b[:2]: b for b in want}
    bad = sorted(k for k in g.keys() | w.keys() if not same(g.get(k), w.get(k)))
    if len(got) != len(g) or len(want) != len(w) or bad:
        k = bad[0] if bad else None
        return f"{len(bad)} bars differ from the expected bars, e.g. streamed {g.get(k)} vs expected {w.get(k)}"
    return True


def check_latest(rows: list[tuple], valid_rows: list[tuple]) -> bool | str:
    want: dict[str, tuple] = {}
    for sym, ts, price, vol in valid_rows:
        if sym not in want or ts > want[sym][3]:
            want[sym] = (sym, price, vol, ts)
    if sorted(rows) != sorted(want.values()):
        return f"latest_prices differs from the feed's last valid trade per symbol ({len(rows)} vs {len(want)} symbols)"
    return True


def _live_dirs(layer_dir: str) -> int:
    """Batch dirs a reader of an update-mode sink must list right now."""
    import json

    try:
        with open(os.path.join(layer_dir, "_reader_manifest.json")) as fh:
            return len(json.load(fh)["dirs"])
    except (OSError, ValueError, KeyError):
        return 0


def _layers(ctx, chain, job, writes, reads, t0, t_end, n_dead, n_bronze) -> dict:
    """Per-layer metrics from the listener's progress events and the
    spans around the dashboard reads."""
    ev = ctx.progress
    live = [e for e in ev if e["start"] >= t0 - 1 and e["name"] != "latest_prices"]
    L: dict[str, float] = {}
    bronze = progress_phases(live, "chained_bronze")
    L["sources.streaming.latest_offset_ms"] = bronze["latest_offset"]
    L["sources.streaming.get_batch_ms"] = bronze["get_batch"]
    L["sources.streaming.input_rows"] = sum(e["numInputRows"] for e in live if e["name"] == "chained_bronze")
    # feed files written but not yet read, at each bronze trigger
    consumed: dict[int, int] = {}
    for b in source_batches(chain.ckpt["bronze"]).values():
        consumed[b] = consumed.get(b, 0) + 1
    lags = []
    for e in live:
        if e["name"] == "chained_bronze" and e["batchId"] is not None:
            read = sum(n for b, n in consumed.items() if b < e["batchId"])
            written = PARAMS.warmup_files + sum(1 for _p, wt in writes if wt <= e["start"])
            lags.append(max(0, written - read))
    L["sources.streaming.lag_files"] = p90(lags)
    L["pipeline.validate.rows_in"] = sum(e["numInputRows"] for e in live if e["name"] == "chained_silver")
    L["pipeline.validate.dead_letters"] = n_dead
    L["pipeline.validate.valid_ratio"] = 1.0 - n_dead / max(1, n_bronze)
    for q in MEDALLION_QUERIES:
        ph = progress_phases(live, f"chained_{q}")
        for k in ("trigger", "add_batch", "query_planning", "wal_commit", "commit_offsets"):
            L[f"streaming.jobs.{q}.{k}_ms_p50"] = ph[k]
        if q in ("silver", "gold_5m", "gold_1h"):
            for k, v in state_stats(live, f"chained_{q}").items():
                L[f"streaming.jobs.{q}.{k}"] = v
    catch_up = [e for e in ev if e["name"] == "latest_prices" and e["start"] >= t0]
    lp = progress_phases(catch_up, "latest_prices")
    L["streaming.stateful.latest_prices.batches"] = sum(1 for e in catch_up if e["numInputRows"] > 0)
    L["streaming.stateful.latest_prices.trigger_ms_p50"] = lp["trigger"]
    L["streaming.stateful.latest_prices.add_batch_ms_p50"] = lp["add_batch"]
    L["streaming.stateful.latest_prices.state_rows"] = state_stats(catch_up, "latest_prices")["state_rows"]
    L["streaming.sinks.live_dirs"] = ctx.detail["gold_5m_live_dirs"]
    last_gold = max((e["batchId"] for e in ev if e["name"] == "chained_gold_5m" and e["batchId"] is not None), default=0)
    L["streaming.sinks.compactions"] = last_gold // job.compact_every if job.compact_every else 0
    ok = [r for r in reads if r["ok"]]
    L["streaming.sinks.read_build_s"] = p50([r["build_s"] for r in ok])
    L["streaming.sinks.read_exec_s"] = p50([r["exec_s"] for r in ok])
    L["serving.read_p50_s"] = p50([r["end"] - r["due"] for r in ok])
    # wall time of the window covered by neither a span nor a trigger
    iv = [(s["start"], s["end"]) for s in ctx.tracer.spans]
    iv += [(e["start"], e["start"] + e["durationMs"].get("triggerExecution", 0) / 1000.0) for e in ev]
    L["trace.unattributed_s"] = (t_end - t0) - union_length(iv, t0, t_end)
    return L
