"""Seeded input generators for the benchmark workloads.

Pure Python (no Spark): every byte a workload feeds the package comes
from here, derived only from the seed, the traffic parameters and, for
the corpus, the documents table in data/, so one seed always yields
byte-identical inputs and the expected-count manifests the output checks
compare against.
"""

from __future__ import annotations

import bisect
import functools
import hashlib
import json
import os
import random
from dataclasses import dataclass

# 2024-01-15 09:30:00 UTC: the serving queries' reference date, so the
# market feed lands on the day the serving panels ask about.
EPOCH_MS = 1_705_311_000_000
DAY_MS = 86_400_000

# Invalid-row classes of FIXTURES.md section 1, each row carrying exactly
# one error.  The feed injects no future_timestamp rows: a dead-lettered
# future row still advances the silver watermark and every later valid
# row is dropped (README.md, "Known defects").  Late rows are only
# injected into measured files, which follow warm-up files that already
# moved the watermark, so every late row is dropped deterministically.
INVALID_CLASSES = (
    "missing_field",
    "negative_price",
    "price_too_high",
    "negative_volume",
    "volume_zero",
    "future_timestamp",
)


def zipf_weights(n: int, s: float) -> list[float]:
    w = [1.0 / (k**s) for k in range(1, n + 1)]
    tot = sum(w)
    return [x / tot for x in w]


def symbols(n: int) -> list[str]:
    return [f"S{k:03d}" for k in range(n)]


class ZipfDraw:
    """Seeded draws from a fixed Zipf distribution over `items`."""

    def __init__(self, items: list, s: float, rng: random.Random) -> None:
        self.items = items
        self.rng = rng
        acc, self.cum = 0.0, []
        for w in zipf_weights(len(items), s):
            acc += w
            self.cum.append(acc)

    def __call__(self):
        i = bisect.bisect_left(self.cum, self.rng.random() * self.cum[-1])
        return self.items[min(i, len(self.items) - 1)]


# ---------------------------------------------------------------- market


@dataclass(frozen=True)
class FeedParams:
    rate: int = 1000  # wire rows per wall second, injected rows included
    tick_s: float = 0.5  # one feed file per tick
    n_symbols: int = 40
    zipf_s: float = 1.1
    invalid_share: float = 0.02  # split evenly over the injected classes
    dup_share: float = 0.01  # exact copies of a row of the same tick
    ooo_share: float = 0.05  # 1-5 event-minutes behind the tick
    late_share: float = 0.005  # 30-60 event-minutes before the feed start
    speed: float = 600.0  # event seconds per wall second
    warmup_files: int = 2  # written and backfilled in set-up, before the live queries start


@dataclass
class Feed:
    files: list[bytes]  # index 0..warmup_files-1 are warm-up files
    manifest: dict
    valid_rows: list[tuple]  # (symbol, ts_ms, price, volume) of every valid wire row
    silver_rows: list[tuple]  # the subset silver must hold (late and dup dropped)


def _price(rng: random.Random, sym_idx: int) -> float:
    return round(20.0 + 7.5 * sym_idx + rng.uniform(-2.0, 2.0), 2)


def make_feed(seed: int, n_ticks: int, p: FeedParams = FeedParams()) -> Feed:
    """The market feed: `p.warmup_files` warm-up files then `n_ticks`
    measured files, one per tick.  Event time starts at EPOCH_MS and
    advances p.speed event-ms per wall-ms, so the watermark passes 5-min
    and 1-h windows within a short run while every row stays far in the
    past of wall time (no valid row trips the +5 min future check)."""
    rng = random.Random(f"feed:{seed}")
    syms = symbols(p.n_symbols)
    draw = ZipfDraw(list(range(p.n_symbols)), p.zipf_s, rng)
    per_file = max(1, round(p.rate * p.tick_s))
    span_ms = int(p.tick_s * p.speed * 1000)
    used: set[tuple[str, int]] = set()
    files: list[bytes] = []
    valid_rows: list[tuple] = []
    silver_rows: list[tuple] = []
    counts = {c: 0 for c in INVALID_CLASSES}
    counts.update(rows=0, valid=0, silver=0, dups=0, ooo=0, late=0)
    classes = [c for c in INVALID_CLASSES if c != "future_timestamp"]

    def fresh_ts(sym: str, lo: int, hi: int) -> int:
        while True:
            ts = rng.randrange(lo, hi)
            if (sym, ts) not in used:
                used.add((sym, ts))
                return ts

    for i in range(p.warmup_files + n_ticks):
        base = EPOCH_MS + i * span_ms
        measured = i >= p.warmup_files
        rows: list[dict] = []
        normal: list[dict] = []
        for _ in range(per_file):
            k = draw()
            sym = syms[k]
            u = rng.random()
            row = {"s": sym, "p": _price(rng, k), "v": rng.randint(1, 500)}
            if measured and u < p.invalid_share:
                cls = classes[rng.randrange(len(classes))]
                row["t"] = fresh_ts(sym, base, base + span_ms)
                if cls == "missing_field":
                    row = {"s": sym}
                elif cls == "negative_price":
                    row["p"] = -round(rng.uniform(1, 50), 2)
                elif cls == "price_too_high":
                    row["p"] = 2_000_000.0
                elif cls == "negative_volume":
                    row["v"] = -rng.randint(1, 50)
                else:
                    row["v"] = 0
                counts[cls] += 1
                rows.append(row)
                continue
            u -= p.invalid_share if measured else 0.0
            late = measured and u < p.late_share
            ooo = measured and not late and u < p.late_share + p.ooo_share
            if late:
                row["t"] = fresh_ts(sym, EPOCH_MS - 3_600_000, EPOCH_MS - 1_800_000)
                counts["late"] += 1
            elif ooo:
                row["t"] = fresh_ts(sym, base - 300_000, base - 60_000)
                counts["ooo"] += 1
            else:
                row["t"] = fresh_ts(sym, base, base + span_ms)
            row["c"] = ["1", "12"] if rng.random() < 0.3 else []
            rows.append(row)
            normal.append(row)
            tup = (sym, row["t"], row["p"], row["v"])
            valid_rows.append(tup)
            if not late:
                silver_rows.append(tup)
        if measured:
            n_dup = sum(1 for _ in range(len(normal)) if rng.random() < p.dup_share)
            for _ in range(n_dup):
                src = normal[rng.randrange(len(normal))]
                rows.insert(rng.randrange(len(rows) + 1), dict(src))
                valid_rows.append((src["s"], src["t"], src["p"], src["v"]))
            counts["dups"] += n_dup
        counts["rows"] += len(rows)
        files.append(("\n".join(json.dumps(r, separators=(",", ":")) for r in rows) + "\n").encode())
    counts["valid"] = len(valid_rows)
    counts["silver"] = len(silver_rows)
    manifest = {
        "seed": seed,
        "n_files": len(files),
        "warmup_files": p.warmup_files,
        "counts": counts,
        "dead_letters": {c: counts[c] for c in INVALID_CLASSES},
        "silver_digest": rows_digest(silver_rows),
        "files_sha256": hashlib.sha256(b"".join(files)).hexdigest(),
    }
    return Feed(files, manifest, valid_rows, silver_rows)


def rows_digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()


# ---------------------------------------------------------------- corpus

# The repository's sf0.1 `documents` table (TESTDATA.md), copied beside
# the benchmark because a run reads nothing outside its checkout: 5000
# bag-of-words documents over a 31-word vocabulary, 44-577 characters.
DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")
COPY_ID0 = 1_000_000  # ids of injected copies, above every table id


@functools.lru_cache(maxsize=1)
def base_documents() -> tuple[tuple[int, str], ...]:
    """(doc_id, text) of the documents table, in doc_id order."""
    import pyarrow.parquet as pq

    t = pq.read_table(DOCUMENTS, columns=["doc_id", "text"])
    return tuple(sorted(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())))


@dataclass(frozen=True)
class CorpusParams:
    exact_share: float = 0.05  # exact copies of an earlier document
    near_share: float = 0.05  # one-word perturbations of an earlier document
    contam_share: float = 0.03  # table documents given a benchmark span
    n_bench: int = 5  # benchmark questions
    n_batches: int = 2  # equal backlog files, one per trigger
    delta_docs: int = 100  # table documents held back for the delta file


@dataclass
class Corpus:
    batches: list[bytes]
    delta: bytes
    benchmark: list[tuple[int, str]]
    manifest: dict
    # (file index, doc_id, text without its planted span) of every input
    # document in drain order; the delta file is the last index
    drain: list[tuple[int, int, str]]


def make_corpus(seed: int, p: CorpusParams = CorpusParams()) -> Corpus:
    """The documents table with seeded injections, split into
    `p.n_batches` equal backlog files plus one delta file of held-back
    table documents.  Copies take ids from COPY_ID0 up and follow their
    source in drain order."""
    rng = random.Random(f"corpus:{seed}")
    # benchmark questions use words outside the table's vocabulary so
    # their 13-grams can only appear in the documents they were planted in
    bench_vocab = [f"q{w}" for w in range(200)]
    benchmark = [
        (i, " ".join(bench_vocab[rng.randrange(200)] for _ in range(20)))
        for i in range(p.n_bench)
    ]
    base = base_documents()
    held = set(rng.sample(range(len(base)), p.delta_docs))
    docs: list[dict] = []
    clean: dict[int, str] = {}
    exact, near_ids, contam_ids = [], [], []
    next_copy = COPY_ID0
    for i, (doc_id, text) in enumerate(base):
        if i in held:
            continue
        clean[doc_id] = text
        if rng.random() < p.contam_share:
            words = text.split()
            q = benchmark[rng.randrange(p.n_bench)][1].split()
            at = rng.randrange(len(words) + 1)
            text = " ".join(words[:at] + q[:15] + words[at:])
            contam_ids.append(doc_id)
        docs.append({"doc_id": doc_id, "text": text})
        u = rng.random()
        if u < p.exact_share + p.near_share:
            src = docs[rng.randrange(len(docs))]
            if u < p.exact_share:
                text = src["text"]
                exact.append([next_copy, src["doc_id"]])
            else:
                # one word of the source's table text gets a suffix, so
                # the copy's token set differs from its source's
                w = clean[src["doc_id"]].split()
                w[rng.randrange(len(w))] += "x"
                text = " ".join(w)
                near_ids.append(next_copy)
            clean[next_copy] = clean[src["doc_id"]] if u < p.exact_share else text
            docs.append({"doc_id": next_copy, "text": text})
            next_copy += 1
    delta_rows = [{"doc_id": d, "text": t} for i, (d, t) in enumerate(base) if i in held]

    def enc(rows: list[dict]) -> bytes:
        return ("\n".join(json.dumps(r, separators=(",", ":")) for r in rows) + "\n").encode()

    per = -(-len(docs) // p.n_batches)
    chunks = [docs[i : i + per] for i in range(0, len(docs), per)]
    drain = [(b, r["doc_id"], clean[r["doc_id"]]) for b, rows in enumerate(chunks) for r in rows]
    drain += [(len(chunks), r["doc_id"], r["text"]) for r in delta_rows]
    batches = [enc(rows) for rows in chunks]
    manifest = {
        "seed": seed,
        "n_docs": len(docs) + len(delta_rows),
        "n_table_docs": len(base),
        "n_batches": len(batches),
        "exact_copies": exact,  # [copy id, source id]
        "near_dup_ids": near_ids,
        "contaminated_ids": contam_ids,
        "sha256": hashlib.sha256(b"".join(batches) + enc(delta_rows)).hexdigest(),
    }
    return Corpus(batches, enc(delta_rows), benchmark, manifest, drain)
