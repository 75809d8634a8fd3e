"""Fast tests of the benchmark itself (no Spark):

    python -m pytest perfbench/tests -q

- inputs are a pure function of the seed;
- every output check rejects a deliberately corrupted output;
- every metric name is well formed and declared in BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import curation  # noqa: E402
import gen  # noqa: E402
import market  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
from panels import normalize  # noqa: E402


# ------------------------------------------------------------- determinism


def test_same_seed_gives_byte_identical_feed_and_manifest():
    a, b = gen.make_feed(7, 6), gen.make_feed(7, 6)
    assert a.files == b.files
    assert json.dumps(a.manifest, sort_keys=True) == json.dumps(b.manifest, sort_keys=True)


def test_different_seeds_give_different_feeds():
    a, b = gen.make_feed(7, 6), gen.make_feed(8, 6)
    assert a.files != b.files
    assert a.manifest["files_sha256"] != b.manifest["files_sha256"]


def test_corpus_follows_the_seed():
    c1, c2, c3 = gen.make_corpus(3), gen.make_corpus(3), gen.make_corpus(4)
    assert c1.batches == c2.batches and c1.delta == c2.delta and c1.manifest == c2.manifest
    assert c1.manifest["sha256"] != c3.manifest["sha256"]


def test_feed_manifest_accounts_for_every_row():
    f = gen.make_feed(11, 8)
    c = f.manifest["counts"]
    rows = [json.loads(x) for data in f.files for x in data.decode().splitlines()]
    assert len(rows) == c["rows"]
    invalid = sum(f.manifest["dead_letters"].values())
    assert c["rows"] == c["valid"] + invalid
    assert c["valid"] == c["silver"] + c["late"] + c["dups"]
    assert all(c[k] > 0 for k in ("missing_field", "negative_price", "price_too_high",
                                  "negative_volume", "volume_zero", "dups", "ooo", "late"))
    # silver keys are unique, so open/close and the dedup are deterministic
    assert len({(s, t) for s, t, _p, _v in f.silver_rows}) == len(f.silver_rows)


def test_no_valid_row_is_in_the_future_and_late_rows_precede_the_feed():
    f = gen.make_feed(5, 10)
    last = gen.EPOCH_MS + (f.manifest["n_files"] + 1) * int(gen.FeedParams().tick_s * gen.FeedParams().speed * 1000)
    assert max(t for _s, t, _p, _v in f.valid_rows) < last < 1_800_000_000_000
    late = {(s, t) for s, t, _p, _v in f.valid_rows if t < gen.EPOCH_MS - 20 * 60_000}
    assert len(late) == f.manifest["counts"]["late"]


# ------------------------------------------------------ output checks fail


@pytest.fixture(scope="module")
def feed():
    return gen.make_feed(2, 4)


def test_silver_check_fails_on_a_dropped_row(feed):
    assert market.check_silver(list(feed.silver_rows), feed.manifest) is True
    assert market.check_silver(list(feed.silver_rows[1:]), feed.manifest) is not True


def test_silver_check_fails_on_a_kept_duplicate_or_altered_row(feed):
    rows = list(feed.silver_rows)
    assert market.check_silver(rows + [rows[0]], feed.manifest) is not True
    s, t, p, v = rows[0]
    assert market.check_silver([(s, t, p + 0.01, v)] + rows[1:], feed.manifest) is not True


def test_partition_check_fails_on_a_wrong_trade_date(feed):
    assert market.check_partitions(["trade_date=2024-01-15"], feed.silver_rows) is True
    assert market.check_partitions(["trade_date=+4183639-10-16"], feed.silver_rows) is not True
    assert market.check_partitions(["trade_date=2024-01-15", "trade_date=2024-01-16"], feed.silver_rows) is not True


def test_dead_letter_check_fails_on_a_lost_error_row(feed):
    want = {k: v for k, v in feed.manifest["dead_letters"].items() if v}
    assert market.check_dead_letters(dict(want), sum(want.values()), feed.manifest) is True
    short = dict(want)
    short["volume_zero"] -= 1
    assert market.check_dead_letters(short, sum(short.values()), feed.manifest) is not True


def test_expected_bars_order_open_and_close_by_event_time():
    rows = [("S000", 1_705_311_060_000, 11.0, 2), ("S000", 1_705_311_000_000, 10.0, 1),
            ("S000", 1_705_311_299_999, 9.0, 3), ("S000", 1_705_311_300_000, 12.0, 4)]
    bars = sorted(market.expected_bars(rows, 300_000))
    assert bars == [
        ("S000", "2024-01-15 09:30:00", 10.0, 11.0, 9.0, 9.0, 6, 3, (10.0 + 22.0 + 27.0) / 6),
        ("S000", "2024-01-15 09:35:00", 12.0, 12.0, 12.0, 12.0, 4, 1, 12.0),
    ]


def test_gold_check_fails_on_one_altered_bar_of_the_feed(feed):
    want = market.expected_bars(feed.silver_rows, 300_000)
    got = [tuple(b) for b in want]
    assert market.check_bars(got, want) is True
    got[0] = got[0][:2] + (got[0][2] + 0.01,) + got[0][3:]
    assert market.check_bars(got, want) is not True


def test_gold_check_fails_on_one_altered_bar():
    bars = [("S000", "2024-01-15 09:30:00", 1.0, 2.0, 0.5, 1.5, 10, 3, 1.2),
            ("S001", "2024-01-15 09:30:00", 3.0, 3.0, 3.0, 3.0, 1, 1, 3.0)]
    assert market.check_bars(list(bars), list(bars)) is True
    altered = [bars[0][:6] + (11,) + bars[0][7:], bars[1]]
    assert market.check_bars(altered, bars) is not True
    assert market.check_bars(bars[:1], bars) is not True
    assert market.check_bars(bars + bars[:1], bars) is not True


def test_gold_check_allows_float_summation_order_in_vwap_only():
    bar = ("S026", "2024-01-15 11:00:00", 216.42, 216.75, 213.13, 215.68, 4000, 15, 215.0645975)
    reordered = bar[:-1] + (bar[-1] * (1 + 1e-15),)
    assert market.check_bars([reordered], [bar]) is True
    assert market.check_bars([bar[:-1] + (bar[-1] + 1e-3,)], [bar]) is not True


def test_latest_prices_check_fails_on_a_stale_price(feed):
    want = {}
    for s, t, p, v in feed.valid_rows:
        if s not in want or t > want[s][3]:
            want[s] = (s, p, v, t)
    rows = list(want.values())
    assert market.check_latest(rows, feed.valid_rows) is True
    s, p, v, t = rows[0]
    assert market.check_latest([(s, p + 1, v, t)] + rows[1:], feed.valid_rows) is not True


@pytest.fixture(scope="module")
def corpus():
    c = gen.make_corpus(1)
    return c, curation.clear_originals(c.drain)


def _texts(c) -> dict:
    return {json.loads(x)["doc_id"]: json.loads(x)["text"]
            for b in c.batches + [c.delta] for x in b.decode().splitlines()}


def test_corpus_is_the_documents_table_with_injections(corpus):
    c, must_keep = corpus
    m = c.manifest
    table = dict(gen.base_documents())
    assert m["n_table_docs"] == len(table) == 5000
    texts = _texts(c)
    assert len(texts) == m["n_docs"] == len(c.drain)
    assert all(texts[d] == t for d, t in table.items() if d not in m["contaminated_ids"])
    assert m["exact_copies"] and m["near_dup_ids"] and m["contaminated_ids"]
    assert all(texts[cp] == texts[src] for cp, src in m["exact_copies"])
    # most table documents are clear originals; the rest share a token set
    # or a near-duplicate with an earlier document
    assert 0.6 * len(table) < len(must_keep) < len(table)
    assert any(d in must_keep for d in m["contaminated_ids"])


def test_originals_check_fails_when_one_original_is_dropped(corpus):
    c, must_keep = corpus
    inputs = {d for _b, d, _t in c.drain}
    assert curation.check_originals_kept(set(must_keep), must_keep, inputs) is True
    assert curation.check_originals_kept(set(must_keep) - {min(must_keep)}, must_keep, inputs) is not True
    assert curation.check_originals_kept(set(must_keep) | {-1}, must_keep, inputs) is not True


def test_exact_dedup_check_fails_when_one_copy_is_kept(corpus):
    c, must_keep = corpus
    texts = _texts(c)
    kept = {d: texts[d] for d in must_keep}
    copies = c.manifest["exact_copies"]
    assert curation.check_exact_dedup(kept, copies, must_keep) is True
    cp = next(cp for cp, src in copies if src in must_keep)
    # a kept copy shares its source's token set; a copy of a document
    # that was rightly dropped may be kept
    assert curation.check_exact_dedup({**kept, cp: texts[cp]}, [], must_keep) is not True
    assert curation.check_exact_dedup({**kept, cp: "fresh words"}, copies, set()) is True
    assert curation.check_exact_dedup({**kept, cp: "fresh words"}, copies, must_keep) is not True


def test_decontamination_check_fails_on_a_dropped_or_unexcised_document(corpus):
    c, must_keep = corpus
    contam = c.manifest["contaminated_ids"]
    excised = {d: 15 for d in contam if d in must_keep}
    assert curation.check_decontaminated(excised, contam, must_keep) is True
    d = next(iter(excised))
    assert curation.check_decontaminated({k: v for k, v in excised.items() if k != d}, contam, must_keep) is not True
    assert curation.check_decontaminated({**excised, d: 0}, contam, must_keep) is not True


def test_benchmark_ngram_check_fails_on_a_surviving_span():
    c = gen.make_corpus(1)
    bench = [t for _i, t in c.benchmark]
    q = bench[0].split()
    assert curation.check_no_benchmark_ngrams(["a b c " + " ".join(q[:12]) + " d"], bench) is True
    assert curation.check_no_benchmark_ngrams(["a b " + " ".join(q[2:15]) + " c"], bench) is not True


def test_contaminated_docs_carry_benchmark_spans():
    c = gen.make_corpus(1)
    assert c.manifest["contaminated_ids"]
    bench = [t for _i, t in c.benchmark]
    docs = _texts(c)
    for d in c.manifest["contaminated_ids"]:
        assert curation.check_no_benchmark_ngrams([docs[d]], bench) is not True


def test_panel_answers_compare_order_and_float_noise_insensitively():
    import datetime as dt

    a = [("S1", 1.0000001, dt.datetime(2024, 1, 15, 9, 30)), ("S0", 2.0, None)]
    b = [("S0", 2.0, None), ("S1", 1.00000012, dt.datetime(2024, 1, 15, 9, 30))]
    assert normalize(a) == normalize(b)
    assert normalize(a) != normalize([("S0", 2.0, None), ("S1", 1.1, dt.datetime(2024, 1, 15, 9, 30))])


# ------------------------------------------------------------------ metrics


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_are_well_formed_and_declared():
    spec = _benchmark_json()
    declared = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(declared) == len(set(declared))
    for name in declared:
        assert metrics.NAME_RE.fullmatch(name), name
        assert len(name) <= 64
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["better"] in ("lower", "higher") and m["unit"]
    # the metric families the workloads build names from are declared
    for p in metrics.PANELS:
        assert {f"serving.{p}.plan_s_p50", f"serving.{p}.exec_s_p50"} <= set(declared)
    for seg in metrics.SEGMENTS:
        assert f"streaming.incremental.{seg}_s" in declared


def test_emitted_metrics_must_be_declared():
    spec = _benchmark_json()
    out = metrics.select(spec["end_to_end"], {"setup_s": 1.5})
    assert list(out) == [m["name"] for m in spec["end_to_end"]]
    assert out["setup_s"] == {"value": 1.5, "unit": "s"}
    with pytest.raises(KeyError):
        metrics.select(spec["end_to_end"], {"setup_s": 1.5, "not_declared": 1.0})


def test_workload_names_match_the_runner():
    assert tuple(w["name"] for w in _benchmark_json()["workloads"]) == run.WORKLOADS
