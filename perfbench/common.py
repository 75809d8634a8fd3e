"""Shared machinery of the workload processes: timing statistics, peak
RSS, spans, the streaming-progress listener and the Spark event-log
reader.  Tracing objects cost nothing when disabled: `Tracer.span`
returns a shared null context and no listener or event log is attached.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]); NaN-free inputs."""
    v = sorted(values)
    if not v:
        return 0.0
    if len(v) == 1:
        return float(v[0])
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return float(v[lo] + (v[hi] - v[lo]) * (pos - lo))


def p50(values) -> float:
    return quantile(values, 0.5)


def p90(values) -> float:
    return quantile(values, 0.9)


# ------------------------------------------------------------------- RSS


def _children(pid: int) -> list[int]:
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as fh:
                out += [int(x) for x in fh.read().split()]
        except OSError:
            pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip() == "java"
    except OSError:
        return False


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this Python process plus its JVM child.  The
    JVM's Python UDF workers come and go with their tasks, so whether
    one is alive when this is read is luck; they are left out."""
    me = os.getpid()
    return (_hwm_kb(me) + sum(_hwm_kb(c) for c in _children(me) if _is_jvm(c))) / 1024.0


# ----------------------------------------------------------------- spans


class Tracer:
    """In-memory span recorder.  Each span records name, start, end,
    parent, request id and the Spark job group it set, so the event log's
    jobs attach to the span that caused them.  Disabled tracers hand out
    a null context and record nothing."""

    def __init__(self, enabled: bool, sc=None) -> None:
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._null = contextlib.nullcontext()
        self._next = 0

    def span(self, name: str, req: str | None = None):
        if not self.enabled:
            return self._null
        return self._span(name, req)

    @contextlib.contextmanager
    def _span(self, name: str, req: str | None):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else None
        group = f"span-{sid}"
        prev_group = getattr(self._local, "group", None)
        if self.sc is not None:
            self.sc.setJobGroup(group, name, False)
        self._local.group = group
        stack.append(sid)
        rec = {"id": sid, "name": name, "parent": parent, "req": req,
               "thread": threading.current_thread().name, "group": group,
               "start": time.time(), "end": None}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)
            self._local.group = prev_group
            if self.sc is not None:
                if prev_group is not None:
                    self.sc.setJobGroup(prev_group, "", False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part covered by children."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            cover = union_length([(c["start"], c["end"]) for c in kids.get(s["id"], [])])
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - cover
        return out


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of [a, b] intervals, clipped to [lo, hi]."""
    iv = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            iv.append((a, b))
    iv.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ------------------------------------------------------ progress listener


def make_progress_listener(sink: list):
    """A StreamingQueryListener appending one dict per progress event:
    name, batchId, trigger start (epoch s), durationMs, stateOperators,
    sources and observedMetrics."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            sink.append({
                "name": p.get("name"),
                "batchId": p.get("batchId"),
                "start": _iso_epoch(p.get("timestamp")),
                "numInputRows": p.get("numInputRows", 0),
                "durationMs": p.get("durationMs", {}),
                "stateOperators": p.get("stateOperators", []),
                "sources": p.get("sources", []),
                "observedMetrics": p.get("observedMetrics", {}),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def _iso_epoch(ts: str | None) -> float:
    import datetime as dt

    if not ts:
        return 0.0
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def progress_phases(events: list[dict], name: str) -> dict[str, float]:
    """p50 of each trigger phase over the data-carrying batches of one query."""
    ev = [e for e in events if e["name"] == name and e["numInputRows"] > 0]
    keys = {
        "trigger": "triggerExecution",
        "add_batch": "addBatch",
        "query_planning": "queryPlanning",
        "wal_commit": "walCommit",
        "commit_offsets": "commitOffsets",
        "latest_offset": "latestOffset",
        "get_batch": "getBatch",
    }
    return {k: p50([e["durationMs"].get(v, 0) for e in ev]) for k, v in keys.items()}


def state_stats(events: list[dict], name: str) -> dict[str, float]:
    """Peak state rows and bytes, p50 state commit time over the
    data-carrying batches, and rows dropped by the watermark, summed over
    one query's stateful operators."""

    def total(e: dict, key: str) -> float:
        return sum(o.get(key, 0) for o in e["stateOperators"])

    ev = [e for e in events if e["name"] == name]
    return {
        "state_rows": max((total(e, "numRowsTotal") for e in ev), default=0),
        "state_bytes": max((total(e, "memoryUsedBytes") for e in ev), default=0),
        "state_commit_ms_p50": p50([total(e, "commitTimeMs") for e in ev if e["numInputRows"] > 0]),
        "dropped_by_watermark": sum(total(e, "numRowsDroppedByWatermark") for e in ev),
    }


# ------------------------------------------------------------ event log


def read_event_log(log_dir: str) -> dict:
    """Jobs and tasks of the (stopped) application's event log:
    {"jobs": {id: {group, start, stages}}, "tasks": [...]}."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for path in files:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev.get("Submission Time", 0) / 1000.0,
                        "stages": len(ev.get("Stage IDs", [])),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "job": stage_job.get(ev.get("Stage ID")),
                        "start": info.get("Launch Time", 0) / 1000.0,
                        "end": info.get("Finish Time", 0) / 1000.0,
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    })
    return {"jobs": jobs, "tasks": tasks}


def spark_layer(log: dict, lo: float, hi: float) -> dict[str, float]:
    """spark.* per-layer metrics over jobs submitted in [lo, hi]."""
    jobs = {j for j, v in log["jobs"].items() if lo <= v["start"] <= hi}
    tasks = [t for t in log["tasks"] if t["job"] in jobs]
    busy = union_length([(t["start"], t["end"]) for t in tasks], lo, hi)
    return {
        "jobs": len(jobs),
        "stages": sum(log["jobs"][j]["stages"] for j in jobs),
        "tasks": len(tasks),
        "task_busy_s": sum(t["run_s"] for t in tasks),
        "task_cpu_s": sum(t["cpu_s"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "shuffle_bytes": sum(t["shuffle_bytes"] for t in tasks),
        "spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "driver_gap_s": max(0.0, (hi - lo) - busy),
    }


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
