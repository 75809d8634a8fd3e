"""Read Structured Streaming's on-disk logs from outside the engine:
file-source logs (`<ckpt>/sources/0`), file-sink logs
(`<table>/_spark_metadata`) and commit logs (`<ckpt>/commits`).

These let the benchmark follow one feed file through the chained
medallion (bronze batch -> bronze files -> silver batch -> silver files
-> gold batch -> gold commit) after the run, without instrumenting the
package.
"""

from __future__ import annotations

import bisect
import json
import os
import re
from urllib.parse import unquote


def norm_path(p: str) -> str:
    p = unquote(p)
    if p.startswith("file:"):
        p = p[5:]
    return "/" + p.lstrip("/")


def _log_files(d: str) -> list[tuple[int, bool, str]]:
    out = []
    if not os.path.isdir(d):
        return out
    for f in os.listdir(d):
        m = re.fullmatch(r"(\d+)(\.compact)?", f)
        if m:
            out.append((int(m.group(1)), bool(m.group(2)), os.path.join(d, f)))
    return sorted(out)


def _entries(path: str) -> list[dict]:
    try:
        with open(path) as fh:
            lines = fh.read().splitlines()
    except OSError:
        return []
    return [json.loads(x) for x in lines[1:] if x.strip()]


def source_batches(ckpt: str) -> dict[str, int]:
    """Input path -> id of the query batch that consumed it.  The file
    source logs its own offsets (`batchId` in `sources/0` is the
    source's log offset); the query's offset log maps each query batch
    to the last source offset it read."""
    ends = []
    for n, _c, path in _log_files(os.path.join(ckpt, "offsets")):
        try:
            with open(path) as fh:
                lines = fh.read().splitlines()
            ends.append((json.loads(lines[2])["logOffset"], n))
        except (OSError, IndexError, ValueError, KeyError, TypeError):
            continue
    ends.sort()
    out: dict[str, int] = {}
    for n, _compact, path in _log_files(os.path.join(ckpt, "sources", "0")):
        for e in _entries(path):
            off = e.get("batchId", n)
            i = bisect.bisect_left(ends, (off, -1))
            if i < len(ends):
                out.setdefault(norm_path(e["path"]), ends[i][1])
    return out


def sink_batches(sink_log: str) -> dict[int, list[str]]:
    """File-sink log: batch id -> data files it added.  A `.compact`
    file holds every entry up to its batch, so its own batch's files
    are those no earlier log file named."""
    out: dict[int, list[str]] = {}
    seen: set[str] = set()
    for n, compact, path in _log_files(sink_log):
        files = [norm_path(e["path"]) for e in _entries(path) if e.get("action", "add") == "add"]
        if compact:
            files = [f for f in files if f not in seen]
        out[n] = files
        seen.update(files)
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    """Commit log: batch id -> commit time (file mtime, epoch s)."""
    out = {}
    for n, _c, path in _log_files(os.path.join(ckpt, "commits")):
        out[n] = os.stat(path).st_mtime
    return out


def trace_files(feed_files: list[str], hops: list[tuple[str, str]], final_ckpt: str) -> dict[str, float | None]:
    """Commit time of the first final-layer batch by which every row
    derived from each feed file has been read, or None when some of it
    has not reached the final layer yet.

    `hops` lists (checkpoint dir, sink log) per intermediate layer in
    chain order; `final_ckpt` is the final layer's checkpoint dir.  A
    downstream file source that lists its input directly (instead of
    through the upstream sink log) can split one upstream batch's files
    over several of its own batches, so every hop follows all of them."""
    layers = [(source_batches(c), sink_batches(k)) for c, k in hops]
    final_src = source_batches(final_ckpt)
    final_commit = commit_times(final_ckpt)
    out: dict[str, float | None] = {}
    for f in feed_files:
        paths = {norm_path(f)}
        for src, sink in layers:
            if not paths or any(p not in src for p in paths):
                paths = set()
                break
            paths = {q for b in {src[p] for p in paths} for q in sink.get(b, [])}
        if not paths or any(p not in final_src for p in paths):
            out[f] = None
            continue
        out[f] = final_commit.get(max(final_src[p] for p in paths))
    return out
