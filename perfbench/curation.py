"""corpus_curation: a document backlog drained by CuratedCorpusPipeline.

The repository's sf0.1 documents table with seeded exact copies,
one-word near-duplicates and benchmark spans planted in it is split
into equal files and drained one file per trigger.  Then the first
finalize cut, one delta file of held-back table documents, and the
delta finalize.  Checks: every clear original is kept (and a
contaminated one with its span excised), no two kept documents share a
token-set fingerprint, no injected copy of a kept document survives,
and no benchmark 13-gram survives in the curated text.  The curated
output's digest is recorded so two runs of one seed can be compared.
"""

from __future__ import annotations

import hashlib
import os
import re
import time
from collections import Counter, defaultdict

from common import dir_bytes, p50, p90, progress_phases, union_length
from gen import CorpusParams, make_corpus
from metrics import SEGMENTS

PARAMS = CorpusParams()
DRAIN_TIMEOUT_S = 150
READS = 5  # curated_view reads after the delta cut; their median is reported


def _drain(q) -> None:
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"curation drain did not finish within {DRAIN_TIMEOUT_S} s")
    if q.exception() is not None:
        raise RuntimeError(f"curation drain failed: {q.exception()}")


def run(ctx) -> dict:
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream
    from real_time_financial_market_data_pipeline_spark.streaming.curation import CuratedCorpusPipeline, curated_view
    from real_time_financial_market_data_pipeline_spark.streaming.incremental import (
        StageTimer,
        build_benchmark_span_index,
        corpus_view,
    )

    spark, tr = ctx.spark, ctx.tracer

    # ---------------------------------------------------------- set-up
    t_in = time.time()
    corpus = make_corpus(ctx.seed, PARAMS)
    feed = os.path.join(ctx.work, "docs")
    os.makedirs(feed)
    base = time.time() - 100
    for i, data in enumerate(corpus.batches):
        path = os.path.join(feed, f"docs-{i:03d}.json")
        with open(path, "wb") as fh:
            fh.write(data)
        os.utime(path, (base + i, base + i))  # drain in file order
    ctx.timings["session.inputs_s"] = time.time() - t_in
    t_warm = time.time()
    bench_dir = os.path.join(ctx.work, "benchmark_fp")
    with tr.span("streaming.incremental.build_benchmark_span_index"):
        build_benchmark_span_index(
            spark.createDataFrame(corpus.benchmark, "doc_id long, text string"), bench_dir, k=13
        )
    ctx.timings["session.warmup_s"] = time.time() - t_warm

    out = os.path.join(ctx.work, "curated")
    timer = StageTimer() if ctx.trace else None
    pipe = CuratedCorpusPipeline(out_dir=out, benchmark_fp_dir=bench_dir, compact_every=4, stage_timer=timer)

    # --------------------------------------------------------- measure
    t0 = ctx.begin()
    with tr.span("streaming.curation.drain"):
        q = pipe.start(read_doc_stream(spark, feed, max_files_per_trigger=1))
        _drain(q)
    drain_s = time.time() - t0
    batches = [p["batchDuration"] / 1000.0 for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    f0 = time.time()
    with tr.span("streaming.curation.finalize"):
        pipe.finalize(spark)
    finalize_s = time.time() - f0

    delta_path = os.path.join(feed, "docs-delta.json")
    with open(delta_path, "wb") as fh:
        fh.write(corpus.delta)
    with tr.span("streaming.curation.delta_drain"):
        q2 = pipe.start(read_doc_stream(spark, feed, max_files_per_trigger=1))
        _drain(q2)
    batches += [p["batchDuration"] / 1000.0 for p in q2.recentProgress if p.get("numInputRows", 0) > 0]
    d0 = time.time()
    with tr.span("streaming.curation.delta_finalize"):
        pipe.finalize(spark)
    delta_finalize_s = time.time() - d0
    reads = []
    for i in range(READS):
        r0 = time.time()
        with tr.span("streaming.curation.read", f"read-{i}"):
            curated_view(spark, out).count()
        reads.append(time.time() - r0)
    t_end = time.time()

    # ---------------------------------------------------------- checks
    m = corpus.manifest
    kept_rows = corpus_view(spark, out).select("doc_id", "text", "decontam_excised_tokens").collect()
    kept = {r["doc_id"] for r in kept_rows}
    curated = [
        (r["doc_id"], r["chunk_idx"], r["split"], r["text"])
        for r in curated_view(spark, out).select("doc_id", "chunk_idx", "split", "text").collect()
    ]
    must_keep = clear_originals(corpus.drain)
    checks = {
        "originals_kept": check_originals_kept(kept, must_keep, {d for _b, d, _t in corpus.drain}),
        "exact_dedup": check_exact_dedup({r["doc_id"]: r["text"] for r in kept_rows}, m["exact_copies"], must_keep),
        "decontaminated": check_decontaminated(
            {r["doc_id"]: r["decontam_excised_tokens"] for r in kept_rows}, m["contaminated_ids"], must_keep
        ),
        "no_benchmark_13gram": check_no_benchmark_ngrams([t for *_x, t in curated], [t for _i, t in corpus.benchmark]),
    }
    digest = hashlib.sha256(repr(sorted(curated)).encode()).hexdigest()
    failed_checks = [k for k, v in checks.items() if v is not True]
    ctx.detail.update(
        checks=checks, digest=digest,
        manifest={k: v for k, v in m.items() if k not in ("exact_copies", "near_dup_ids", "contaminated_ids")},
        batch_s=batches, drain_s=drain_s, delta_finalize_s=delta_finalize_s, read_s=reads, kept_docs=len(kept),
        clear_originals=len(must_keep),
    )
    if ctx.trace:
        L = ctx.layers
        ph = progress_phases(ctx.progress, "incremental_dedup")
        for k in ("trigger", "add_batch", "query_planning", "wal_commit"):
            L[f"streaming.curation.{k}_ms_p50"] = ph[k]
        for seg in SEGMENTS:
            L[f"streaming.incremental.{seg}_s"] = timer.times.get(seg, 0.0)
        n_in = m["n_docs"]
        L["streaming.curation.kept_ratio"] = len(kept) / n_in
        L["streaming.curation.exact_dups"] = sum(1 for d, _src in m["exact_copies"] if d not in kept)
        L["streaming.curation.near_dups"] = sum(1 for d in m["near_dup_ids"] if d not in kept)
        L["streaming.curation.decontam_docs"] = sum(1 for r in kept_rows if r["decontam_excised_tokens"] > 0)
        L["streaming.curation.index_bytes"] = sum(
            dir_bytes(os.path.join(out, d)) for d in os.listdir(out) if d.startswith("index_")
        )
        L["streaming.curation.finalize_s"] = finalize_s
        L["streaming.curation.delta_finalize_s"] = delta_finalize_s
        L["serving.read_p50_s"] = p50(reads)
        iv = [(s["start"], s["end"]) for s in ctx.tracer.spans]
        L["trace.unattributed_s"] = (t_end - t0) - union_length(iv, t0, t_end)
    n_docs_drained = m["n_docs"] - PARAMS.delta_docs
    return {
        "e2e": {
            "latency_p50_s": p50(batches),
            "latency_p90_s": p90(batches),
            "throughput_per_s": n_docs_drained / drain_s,
        },
        "attempted": len(batches) + 2 + len(reads) + len(checks),
        "failed": len(failed_checks),
        "correct": not failed_checks,
        "window": (t0, t_end),
    }


# The pipeline drops a document as a near duplicate when LSH (4 bands of
# 4 of 16 MinHashes over word 3-shingles) pairs it with an earlier one
# and their estimated Jaccard is at least 0.5.  Below a true Jaccard of
# 0.1 the chance of that is under 1e-5 per pair, so a document whose
# every earlier document is further away than this must be kept.
NEAR_MARGIN = 0.1


def tokens(text: str) -> list[str]:
    """The package's tokenizer: lowercase runs of [a-z0-9]."""
    return [w for w in re.split(r"[^a-z0-9]+", text.lower()) if w]


def fingerprint(text: str) -> tuple[str, ...]:
    """The package's exact-dedup key: the sorted distinct token set."""
    return tuple(sorted(set(tokens(text))))


def shingles(text: str, n: int = 3) -> set[str]:
    tk = tokens(text)
    return {" ".join(tk[i : i + n]) for i in range(max(len(tk) - n, 0) + 1)}


def clear_originals(drain: list[tuple[int, int, str]]) -> set[int]:
    """Documents the pipeline must keep, computed without it from the
    input: in drain order (file, then doc_id) the first of its token-set
    fingerprint group, with no earlier document at word 3-shingle
    Jaccard NEAR_MARGIN or more.  Texts are the documents without their
    planted benchmark span, which the pipeline excises before dedup."""
    seen_fp: set[tuple[str, ...]] = set()
    postings: dict[str, list[int]] = defaultdict(list)
    sizes: list[int] = []
    out: set[int] = set()
    for _b, doc_id, text in sorted(drain):
        sh = shingles(text)
        shared = Counter(j for g in sh for j in postings[g])
        near = any(c / (len(sh) + sizes[j] - c) >= NEAR_MARGIN for j, c in shared.items())
        fp = fingerprint(text)
        if fp not in seen_fp and not near:
            out.add(doc_id)
        seen_fp.add(fp)
        for g in sh:
            postings[g].append(len(sizes))
        sizes.append(len(sh))
    return out


def check_originals_kept(kept: set, must_keep: set, inputs: set) -> bool | str:
    lost = sorted(must_keep - kept)
    if lost:
        return f"{len(lost)} of {len(must_keep)} clear originals were dropped (e.g. doc {lost[0]})"
    phantom = sorted(kept - inputs)
    if phantom:
        return f"{len(phantom)} kept documents are not in the input (e.g. doc {phantom[0]})"
    return True


def check_exact_dedup(kept_text: dict, exact_copies: list, must_keep: set) -> bool | str:
    """No two kept documents share a token-set fingerprint, and no
    injected exact copy of a clear original is kept."""
    by_fp: dict[tuple[str, ...], int] = {}
    for d in sorted(kept_text):
        fp = fingerprint(kept_text[d] or "")
        if fp in by_fp:
            return f"docs {by_fp[fp]} and {d} are both kept with one token set"
        by_fp[fp] = d
    left = sorted(c for c, src in exact_copies if src in must_keep and c in kept_text)
    if left:
        return f"{len(left)} injected exact copies survived (e.g. doc {left[0]})"
    return True


def check_decontaminated(excised: dict, contaminated_ids: list, must_keep: set) -> bool | str:
    """A contaminated clear original is kept, and every kept contaminated
    document had tokens excised."""
    lost = sorted(d for d in contaminated_ids if d in must_keep and d not in excised)
    if lost:
        return f"{len(lost)} contaminated originals were dropped instead of excised (e.g. doc {lost[0]})"
    bare = sorted(d for d in contaminated_ids if d in excised and not excised[d])
    if bare:
        return f"{len(bare)} kept contaminated documents had no tokens excised (e.g. doc {bare[0]})"
    return True


def check_no_benchmark_ngrams(texts: list[str], benchmark: list[str], k: int = 13) -> bool | str:
    grams = set()
    for b in benchmark:
        w = b.split()
        grams.update(tuple(w[i : i + k]) for i in range(len(w) - k + 1))
    for t in texts:
        w = (t or "").split()
        for i in range(len(w) - k + 1):
            if tuple(w[i : i + k]) in grams:
                return f"a benchmark {k}-gram survives in curated text: {' '.join(w[i:i + k])!r}"
    return True
