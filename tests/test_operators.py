"""Unit tests for core operators on tiny in-memory frames (SURVEY §5
testing blueprint: per-operator golden checks)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from real_time_financial_market_data_pipeline_spark.operators.asof import asof_join
from real_time_financial_market_data_pipeline_spark.operators.dedup import exact_dedup
from real_time_financial_market_data_pipeline_spark.operators.latest import latest_prices
from real_time_financial_market_data_pipeline_spark.pipeline.validate import (
    split_valid,
    with_validation_errors,
)


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def test_asof_join_backward_with_tolerance(spark):
    trades = spark.createDataFrame(
        [
            ("AAPL", ts("2024-01-01 10:00:05"), 150.0),
            ("AAPL", ts("2024-01-01 10:00:30"), 151.0),
            ("MSFT", ts("2024-01-01 10:00:10"), 380.0),
        ],
        "symbol string, event_time timestamp, price double",
    )
    quotes = spark.createDataFrame(
        [
            ("AAPL", ts("2024-01-01 10:00:00"), 149.9, 150.1),
            ("AAPL", ts("2024-01-01 10:00:20"), 150.8, 151.2),
            ("MSFT", ts("2024-01-01 09:00:00"), 379.0, 381.0),  # stale: >10s old
        ],
        "symbol string, event_time timestamp, bid double, ask double",
    )
    out = asof_join(trades, quotes, on=["symbol"], tolerance="10 SECONDS")
    rows = {(r["symbol"], r["price"]): (r["bid"], r["ask"]) for r in out.collect()}
    assert rows[("AAPL", 150.0)] == (149.9, 150.1)  # latest quote <= trade
    assert rows[("AAPL", 151.0)] == (150.8, 151.2)
    assert rows[("MSFT", 380.0)] == (None, None)  # out of tolerance → nulled

    # without tolerance the stale quote matches
    out2 = asof_join(trades, quotes, on=["symbol"])
    rows2 = {(r["symbol"], r["price"]): r["bid"] for r in out2.collect()}
    assert rows2[("MSFT", 380.0)] == 379.0


def test_asof_join_same_timestamp_inclusive(spark):
    left = spark.createDataFrame(
        [(1, ts("2024-01-01 10:00:00"), "L")], "k int, event_time timestamp, lv string"
    )
    right = spark.createDataFrame(
        [(1, ts("2024-01-01 10:00:00"), "R")], "k int, event_time timestamp, rv string"
    )
    out = asof_join(left, right, on=["k"]).collect()
    assert out[0]["rv"] == "R"  # right row at exactly t matches (<=)


def test_exact_dedup_deterministic_survivor(spark):
    df = spark.createDataFrame(
        [("A", 1, 10.0, 100), ("A", 1, 99.0, 5), ("B", 2, 20.0, 7)],
        "symbol string, timestamp long, price double, event_id long",
    )
    out = exact_dedup(df, ["symbol", "timestamp"], tiebreaker_col="event_id")
    rows = {(r["symbol"], r["timestamp"]): r["price"] for r in out.collect()}
    assert rows[("A", 1)] == 99.0  # survivor = min event_id (5)
    assert rows[("B", 2)] == 20.0


def test_latest_prices_change_vs_previous(spark):
    df = spark.createDataFrame(
        [
            ("AAPL", 100.0, 10, ts("2024-01-01 10:00:00"), 1),
            ("AAPL", 110.0, 20, ts("2024-01-01 11:00:00"), 2),
            ("MSFT", 50.0, 5, ts("2024-01-01 10:30:00"), 3),
        ],
        "symbol string, price double, volume long, event_time timestamp, event_id long",
    )
    out = {r["symbol"]: r for r in latest_prices(df, tiebreaker_col="event_id").collect()}
    assert out["AAPL"]["last_price"] == 110.0
    assert out["AAPL"]["price_change"] == 10.0
    assert abs(out["AAPL"]["price_change_pct"] - 10.0) < 1e-9
    assert out["MSFT"]["price_change"] is None  # no previous trade


def test_embedding_near_dup_lsh_subset_of_exact(spark):
    from real_time_financial_market_data_pipeline_spark.operators.similarity import embedding_near_dup_pairs
    from real_time_financial_market_data_pipeline_spark.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").limit(200)
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(emb, threshold=0.3).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            emb, threshold=0.3, n_planes=4, n_tables=8, dim=64
        ).collect()
    }
    assert lsh <= exact  # bucketing may lose pairs, never invent them
    if exact:
        # theory: p=1-θ/π≈0.60 at cos 0.3, recall=1-(1-p^4)^8≈0.67
        assert len(lsh) / len(exact) > 0.5


def test_validation_split(spark):
    df = spark.createDataFrame(
        [
            ("ok", 10.0, 5, ts("2024-01-01 00:00:00")),
            ("zero_vol", 10.0, 0, ts("2024-01-01 00:00:00")),
            ("neg_price", -1.0, 5, ts("2024-01-01 00:00:00")),
            ("future", 10.0, 5, ts("2031-01-01 00:00:00")),
            ("null_price", None, 5, ts("2024-01-01 00:00:00")),
        ],
        "symbol string, price double, volume long, event_time timestamp",
    )
    checked = with_validation_errors(df, now=F.lit("2030-01-01").cast("timestamp"))
    valid, dead = split_valid(checked)
    assert {r["symbol"] for r in valid.collect()} == {"ok"}
    errs = {r["symbol"]: set(r["errors"]) for r in dead.collect()}
    assert errs["zero_vol"] == {"volume_zero"}
    assert errs["neg_price"] == {"negative_price"}
    assert errs["future"] == {"future_timestamp"}
    assert errs["null_price"] == {"missing_field"}


def test_new_operators_empty_and_degenerate_inputs(spark):
    """Empty/degenerate inputs: no crashes, empty (or identity) outputs."""
    from datetime import datetime

    from real_time_financial_market_data_pipeline_spark.operators.dedup import connected_components
    from real_time_financial_market_data_pipeline_spark.operators.rangejoin import interval_join
    from real_time_financial_market_data_pipeline_spark.operators.topk import bounded_ordered_path

    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty_pairs).count() == 0

    left = spark.createDataFrame(
        [(1, datetime(2024, 1, 15, 12, 0, 0))], "lid int, event_time timestamp"
    )
    empty_right = spark.createDataFrame([], "rid int, event_time timestamp")
    assert interval_join(left, empty_right, max_gap_seconds=60).count() == 0

    empty_df = spark.createDataFrame([], "grp int, seq int, val double")
    assert bounded_ordered_path(empty_df, ["grp"], ["seq"], "val", cap=5).count() == 0

    # self-pair edge (a,a) must not corrupt clustering
    loops = spark.createDataFrame([(7, 7), (7, 8)], "id_a long, id_b long")
    got = {r["node"]: r["cluster_id"] for r in connected_components(loops).collect()}
    assert got == {7: 7, 8: 7}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        interval_join(left, empty_right, max_gap_seconds=0)
    with _pytest.raises(ValueError):
        bounded_ordered_path(empty_df, ["grp"], ["seq"], "val", cap=0)


def test_connected_components_warns_on_non_convergence(spark):
    """A component whose diameter exceeds max_iters gets split; the loop
    must not exit silently in that case."""
    import pytest as _pytest

    from real_time_financial_market_data_pipeline_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    with _pytest.warns(RuntimeWarning, match="max_iters"):
        connected_components(chain, max_iters=2).collect()
    # with enough iterations: converges, labels complete, no warning
    import warnings as _warnings

    with _warnings.catch_warnings():
        _warnings.simplefilter("error", RuntimeWarning)
        got = {
            r["node"]: r["cluster_id"]
            for r in connected_components(chain, max_iters=12).collect()
        }
    assert set(got.values()) == {0}


def test_approx_sketches_within_error_bounds(spark):
    """The rows-only sketch query family still has testable accuracy:
    HLL++ within its configured relative error, approx_percentile within
    rank tolerance of the exact percentile — checked on real testdata."""
    from tests.conftest import SF_DIR

    from real_time_financial_market_data_pipeline_spark.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    approx = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.05).alias("n"))
        .collect()
    }
    for k, n_exact in exact.items():
        assert abs(approx[k] - n_exact) <= max(3, 0.15 * n_exact), (k, n_exact, approx[k])

    med_exact = ev.agg(F.expr("percentile(value, 0.5)").alias("m")).collect()[0]["m"]
    med_approx = ev.agg(F.expr("approx_percentile(value, 0.5, 1000)").alias("m")).collect()[0]["m"]
    # rank tolerance: the approx median must sit between p45 and p55
    lo, hi = ev.agg(
        F.expr("percentile(value, 0.45)").alias("lo"), F.expr("percentile(value, 0.55)").alias("hi")
    ).collect()[0]
    assert lo <= med_approx <= hi, (med_exact, med_approx, lo, hi)


def test_random_projection_preserves_cosine(spark):
    """JL projection 64 -> 16: pairwise cosines approximately preserved
    (loose tolerance — JL is probabilistic), exactly deterministic
    across runs/partitionings, and shape/norm contracts hold."""
    from tests.conftest import SF_DIR

    from real_time_financial_market_data_pipeline_spark.functions.vectors import cosine_similarity
    from real_time_financial_market_data_pipeline_spark.operators.similarity import random_projection
    from real_time_financial_market_data_pipeline_spark.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 40)
    proj = random_projection(emb, out_dim=16, in_dim=64)
    assert proj.select(F.size("embedding")).first()[0] == 16

    a0 = emb.alias("a")
    b0 = emb.alias("b")
    orig = {
        (r["ia"], r["ib"]): r["c"]
        for r in a0.join(b0, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("ia"),
            F.col("b.vec_id").alias("ib"),
            cosine_similarity(F.col("a.embedding"), F.col("b.embedding")).alias("c"),
        )
        .collect()
    }
    def mean_err(out_dim):
        p = random_projection(emb, out_dim=out_dim, in_dim=64)
        a1, b1 = p.alias("a"), p.alias("b")
        low = {
            (r["ia"], r["ib"]): r["c"]
            for r in a1.join(b1, F.col("a.vec_id") < F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("ia"),
                F.col("b.vec_id").alias("ib"),
                cosine_similarity(F.col("a.embedding"), F.col("b.embedding")).alias("c"),
            )
            .collect()
        }
        errs = [abs(orig[k] - low[k]) for k in orig]
        return sum(errs) / len(errs)

    # the JL law: distortion shrinks ~1/sqrt(out_dim) (measured on this
    # data: 0.28 @ 8, 0.20 @ 16, 0.13 @ 32)
    e8, e16, e32 = mean_err(8), mean_err(16), mean_err(32)
    assert e8 > e16 > e32
    assert e32 < 0.2

    # deterministic under repartitioning
    again = random_projection(emb.repartition(7), out_dim=16, in_dim=64)
    v1 = {r["vec_id"]: r["embedding"] for r in proj.collect()}
    v2 = {r["vec_id"]: r["embedding"] for r in again.collect()}
    assert v1 == v2


def test_redact_pii(spark):
    from real_time_financial_market_data_pipeline_spark.functions.text import pii_counts, redact_pii

    rows = [
        (1, "contact bob.smith+x@example.co.uk or call +1 (415) 555-0123 now"),
        (2, "see https://example.com/a?b=c#d and HTTP://X.IO/p for details"),
        (3, "no pii here, just the number 42 and year 2024"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["red"], r["pc"])
        for r in df.select(
            "doc_id",
            redact_pii(F.col("text")).alias("red"),
            pii_counts(F.col("text")).alias("pc"),
        ).collect()
    }
    assert "<EMAIL>" in out[1][0] and "@" not in out[1][0]
    assert "<PHONE>" in out[1][0] and "555" not in out[1][0]
    assert out[1][1]["n_emails"] == 1 and out[1][1]["n_phoneish"] == 1
    assert out[2][0].count("<URL>") == 2 and "example.com" not in out[2][0]
    assert out[3][0] == rows[2][1]  # short numbers / years untouched
    assert tuple(out[3][1]) == (0, 0, 0)


def test_cross_corpus_decontamination(spark):
    """Training docs near-matching benchmark docs are found by the
    cross-corpus minhash join (exact copies always collide — identical
    hash seeds both sides) and removed by decontaminate()."""
    from real_time_financial_market_data_pipeline_spark.operators.dedup import (
        decontaminate,
        minhash_cross_corpus_pairs,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while seven wizards "
        "brew strong potions beneath the ancient oak tree near the river"
    )
    train = spark.createDataFrame(
        [
            (1, base),                                  # exact benchmark copy
            (2, base.replace("river", "stream")),       # near copy
            (3, "completely unrelated text about databases and shuffles "
                "partitions joins aggregates and columnar storage engines"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, base)], "doc_id long, text string")

    pairs = minhash_cross_corpus_pairs(train, bench, threshold=0.5)
    matched = {r["left_id"] for r in pairs.collect()}
    assert 1 in matched          # exact copy always collides
    assert 3 not in matched
    clean = decontaminate(train, bench, threshold=0.5)
    kept = {r["doc_id"] for r in clean.collect()}
    assert 3 in kept and 1 not in kept
    assert kept <= {2, 3}        # doc 2 may or may not clear the threshold


def test_repetition_metrics(spark):
    """Intra-document repetition profile (Gopher/RefinedWeb-style
    quality rules): duplicate-line, dominant-line, and duplicate-2gram
    ratios — exact values on crafted docs, zero on too-short docs."""
    from real_time_financial_market_data_pipeline_spark.functions.text import repetition_metrics

    import pandas as pd
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3],
                "text": [
                    "home | products\nhome | products\nactual content here",
                    "buy now buy now buy now",
                    "",
                    "one line of perfectly normal prose",
                ],
            }
        )
    )
    rows = {
        r["doc_id"]: r["m"]
        for r in docs.select("doc_id", repetition_metrics(F.col("text")).alias("m")).collect()
    }
    # doc 0: 3 lines, one repeated → dup 1/3, top 2/3; the repeated line
    # also repeats one of the 6 bigrams (home-products twice) → 1/6
    assert abs(rows[0]["dup_line_ratio"] - 1 / 3) < 1e-9
    assert abs(rows[0]["top_line_ratio"] - 2 / 3) < 1e-9
    assert abs(rows[0]["dup_2gram_ratio"] - 1 / 6) < 1e-9
    # doc 1: single spammy line → line ratios trivial, but 2gram dup high:
    # tokens [buy now x3] → 5 bigrams, 2 distinct → 0.6
    assert rows[1]["dup_line_ratio"] == 0.0
    assert rows[1]["top_line_ratio"] == 1.0
    assert abs(rows[1]["dup_2gram_ratio"] - 0.6) < 1e-9
    # doc 2: empty → all zeros (measurable-domain contract)
    assert tuple(rows[2]) == (0.0, 0.0, 0.0)
    # doc 3: clean prose → no repetition signal beyond the 1-line top ratio
    assert rows[3]["dup_line_ratio"] == 0.0 and rows[3]["dup_2gram_ratio"] == 0.0


def test_repetition_metrics_linear_on_50k_line_doc(spark):
    """The top-line count is a single sorted run-length pass — O(L log L)
    per doc.  The previous aggregate-over-distinct x filter-scan form was
    O(lines x distinct_lines): on this 50k-line / 40k-distinct document
    that is 2e9 lambda evaluations and effectively never finishes, so
    completing AT ALL here pins the linear formulation (round-6 VERDICT
    item 2); the exact ratios pin its correctness at size."""
    from real_time_financial_market_data_pipeline_spark.functions.text import repetition_metrics

    from pyspark.sql import functions as F

    # 10k copies of one spammed line interleaved with 40k unique lines
    uniq = [f"unique line number {i}" for i in range(40_000)]
    lines = []
    for i, u in enumerate(uniq):
        lines.append(u)
        if i % 4 == 0:
            lines.append("subscribe to our newsletter")
    text = "\n".join(lines)  # 50_000 lines, 40_001 distinct
    m = (
        spark.createDataFrame([(text,)], "text string")
        .select(repetition_metrics(F.col("text")).alias("m"))
        .collect()[0]["m"]
    )
    assert abs(m["dup_line_ratio"] - (1 - 40_001 / 50_000)) < 1e-9
    assert abs(m["top_line_ratio"] - 10_000 / 50_000) < 1e-9


def test_repeated_span_pairs_exact(spark):
    """Substring-level dedup (Lee et al. 2022 span family, Spark-native:
    window fingerprints -> fp equi-join -> diagonal run-merge): exact
    maximal spans on crafted docs, including a block repeated TWICE in
    one doc (two diagonal runs against each partner)."""
    from real_time_financial_market_data_pipeline_spark.operators.dedup import common_spans, repeated_span_pairs

    block = "the quick brown fox jumps over the lazy dog again and again"  # 12 tokens
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + block + " delta epsilon"),
            (2, "one two three four " + block + " five six"),
            (3, "completely different text with no shared content at all here"),
            (4, "prefix " + block + " middle stuff " + block + " suffix"),
        ],
        "doc_id long, text string",
    )
    rows = sorted(
        map(tuple, repeated_span_pairs(docs, k=4).collect())
    )
    assert rows == [
        (1, 2, 4, 5, 12),     # block at token 4 of doc1, token 5 of doc2
        (1, 4, 4, 2, 12),     # ...vs doc4's first occurrence (token 2)
        (1, 4, 4, 16, 12),    # ...and its second (token 16)
        (2, 4, 5, 2, 12),
        (2, 4, 5, 16, 12),
    ]

    # min_span_tokens prunes; doc 3 never appears anywhere
    assert repeated_span_pairs(docs, k=4, min_span_tokens=13).count() == 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="window size k"):
        repeated_span_pairs(docs, k=0).count()

    # the aggregate (non-pair) form: the full block fp spans 3 docs with
    # 4 occurrences, deterministic representative, text re-extracted
    cs = common_spans(docs, k=12, min_docs=2).collect()
    full = [r for r in cs if r["span_text"] == block]
    assert len(full) == 1
    assert full[0]["n_docs"] == 3 and full[0]["n_occurrences"] == 4
    assert full[0]["rep_id"] == 1 and full[0]["rep_pos"] == 4


def test_repeated_span_pairs_leaves_no_cached_frame(spark):
    """The fingerprint frame shared by the pair self-join is materialized
    for the call only: nothing stays registered in the session's
    CacheManager to be substituted into later queries."""
    from real_time_financial_market_data_pipeline_spark.operators.dedup import repeated_span_pairs

    block = "the quick brown fox jumps over the lazy dog again"
    docs = spark.createDataFrame(
        [(1, "alpha " + block), (2, "beta " + block), (3, "gamma " + block)],
        "doc_id long, text string",
    )
    spark.catalog.clearCache()
    assert repeated_span_pairs(docs, k=4, max_fp_docs=2).count() == 0
    assert repeated_span_pairs(docs, k=4).count() == 3
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_repeated_span_pairs_max_fp_docs_cap(spark):
    """The pair-enumeration frequency cap: a window present in more
    documents than max_fp_docs is excluded from PAIR generation (the
    O(f²) blowup guard); common_spans still reports it."""
    from real_time_financial_market_data_pipeline_spark.operators.dedup import common_spans, repeated_span_pairs

    boiler = "subscribe to our newsletter now"  # 5 tokens, in every doc
    docs = spark.createDataFrame(
        [(i, f"document number {i} body text {i} " + boiler) for i in range(6)],
        "doc_id long, text string",
    )
    uncapped = repeated_span_pairs(docs, k=5, min_span_tokens=5)
    assert uncapped.count() == 15  # all C(6,2) pairs share the block
    capped = repeated_span_pairs(docs, k=5, min_span_tokens=5, max_fp_docs=3)
    assert capped.count() == 0     # excluded from pair enumeration
    cs = common_spans(docs, k=5, min_docs=4).collect()
    assert any(r["span_text"] == boiler and r["n_docs"] == 6 for r in cs)


def test_merged_common_spans_reports_maximal_blocks(spark):
    """merged_common_spans (round-8 VERDICT task 2): a 16-token
    boilerplate block shared by every doc comes back as ONE maximal row
    whose span_text is the whole block — not 12 overlapping k-window
    fragments — with fragment bookkeeping (n_windows, sharing range)
    preserved, via the diagonal run-merge over rep positions (still
    aggregate-only, no pair enumeration)."""
    from real_time_financial_market_data_pipeline_spark.operators.dedup import (
        common_spans,
        merged_common_spans,
    )

    boiler = (
        "copyright notice all rights reserved by the example company "
        "and its subsidiaries worldwide"
    )  # 13 tokens
    docs = spark.createDataFrame(
        [(i, f"doc {i} unique body w{i * 11} " + boiler) for i in range(6)],
        "doc_id long, text string",
    )
    k = 5
    frags = common_spans(docs, k=k, min_docs=6).collect()
    merged = merged_common_spans(docs, k=k, min_docs=6).collect()
    assert len(merged) == 1
    m = merged[0]
    assert m["rep_id"] == 0
    assert m["span_text"].endswith(boiler)
    assert m["n_windows"] == len(frags)
    assert m["span_tokens"] == m["n_windows"] + k - 1
    assert m["n_docs_min"] == 6 and m["n_docs_max"] == 6
    # coverage identity with the fragment form
    frag_cover = set()
    for r in frags:
        frag_cover.update(range(r["rep_pos"], r["rep_pos"] + k))
    assert frag_cover == set(range(m["span_start"], m["span_start"] + m["span_tokens"]))


def test_excise_common_spans_keeps_one_occurrence(spark):
    """The span-dedup TREATMENT: every occurrence of a corpus-common
    span is removed except the canonical representative (min (id, pos))
    — the rep doc keeps the block verbatim, the others lose exactly it,
    untouched docs pass through with excised_tokens=0."""
    from real_time_financial_market_data_pipeline_spark.operators.dedup import common_spans, excise_common_spans

    block = "standard legal disclaimer text block here"  # 6 tokens
    docs = spark.createDataFrame(
        [
            (1, "intro words then " + block + " and a tail"),
            (2, "different document start " + block + " different end"),
            (3, block + " leading this one"),
            (4, "nothing shared in this document at all"),
        ],
        "doc_id long, text string",
    )
    spans = common_spans(docs, k=6, min_docs=2)
    out = {r["doc_id"]: r for r in excise_common_spans(docs, spans, k=6).collect()}

    assert len(out) == 4  # every input row preserved
    # representative = min (id, pos) = doc 1 → keeps the block
    assert out[1]["text"] == "intro words then " + block + " and a tail"
    assert out[1]["excised_tokens"] == 0
    # the other carriers lose exactly the 6 block tokens
    assert out[2]["text"] == "different document start different end"
    assert out[2]["excised_tokens"] == 6
    assert out[3]["text"] == "leading this one"
    assert out[3]["excised_tokens"] == 6
    # untouched doc passes through (token-space normalization)
    assert out[4]["text"] == "nothing shared in this document at all"
    assert out[4]["excised_tokens"] == 0

    # null text stays null (not coerced to "")
    with_null = docs.unionByName(
        docs.sparkSession.createDataFrame([(9, None)], "doc_id long, text string")
    )
    out9 = {
        r["doc_id"]: r
        for r in excise_common_spans(with_null, spans, k=6).collect()
    }[9]
    assert out9["text"] is None and out9["excised_tokens"] == 0


def test_internal_repeated_spans_and_keep_first_excision(spark):
    """Within-document half of the span-dedup family (round 8):
    internal_repeated_spans locates maximal within-doc repeats;
    excise_internal_repeats keeps each repeated window's FIRST
    occurrence and drops the rest — the repair treatment for
    copy-paste-degenerate documents (a 'same text n times' doc comes
    back as one copy).  max_fp_occurrences caps pair enumeration for
    pathological repetition; excision needs no pairs and is unaffected."""
    from real_time_financial_market_data_pipeline_spark.operators.dedup import (
        excise_internal_repeats,
        internal_repeated_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta one two alpha beta gamma delta three"),
            (2, "aa aa aa aa aa aa aa"),
            (3, "unique words only in this one document here"),
        ],
        "doc_id long, text string",
    )
    spans = sorted(
        (r["doc_id"], r["start_a"], r["start_b"], r["span_tokens"])
        for r in internal_repeated_spans(docs, k=3).collect()
    )
    assert (1, 1, 7, 4) in spans            # the repeated 4-token block
    assert all(s[0] != 3 for s in spans)    # unique doc reports nothing

    out = {r["doc_id"]: r for r in excise_internal_repeats(docs, k=3).collect()}
    assert out[1]["text"] == "alpha beta gamma delta one two three"
    assert out[1]["excised_tokens"] == 4
    assert out[2]["text"] == "aa aa aa"      # first window kept intact
    assert out[2]["excised_tokens"] == 4
    assert out[3]["text"] == "unique words only in this one document here"
    assert out[3]["excised_tokens"] == 0

    # the pair-enumeration cap: doc 2's window occurs 5x -> excluded
    capped = internal_repeated_spans(docs, k=3, max_fp_occurrences=4).collect()
    assert all(r["doc_id"] != 2 for r in capped)
    assert any(r["doc_id"] == 1 for r in capped)


def test_split_excise_common_spans_is_splice_safe(spark):
    """The splice-safe treatment (round-8 VERDICT task 1), pinned on the
    concatenating form's own docstring counterexample: excising the
    middle occurrence of 'aa aa bb' from 'aa aa aa aa bb bb' by
    cut-and-concatenate RE-FORMS the excised span; the split form emits
    the flanks as separate chunks and provably cannot."""
    from real_time_financial_market_data_pipeline_spark.operators.dedup import (
        common_spans,
        excise_common_spans,
        split_excise_common_spans,
    )

    docs = spark.createDataFrame(
        [(0, "aa aa bb"), (1, "aa aa aa aa bb bb")], "doc_id long, text string"
    )
    spans = common_spans(docs, k=3, min_docs=2)
    assert [r["span_text"] for r in spans.collect()] == ["aa aa bb"]

    # the concatenating form exhibits the documented artifact
    concat = {r["doc_id"]: r["text"] for r in excise_common_spans(docs, spans, k=3).collect()}
    assert concat[1] == "aa aa bb"  # excised span re-formed across the seam

    # the split form cannot: flanks stay separate rows with provenance
    out = [
        (r["doc_id"], r["chunk_idx"], r["token_start"], r["text"], r["n_tokens"])
        for r in split_excise_common_spans(docs, spans, k=3)
        .orderBy("doc_id", "chunk_idx")
        .collect()
    ]
    assert out == [
        (0, 0, 1, "aa aa bb", 3),  # rep doc: whole doc one chunk, span intact
        (1, 0, 1, "aa aa", 2),
        (1, 1, 6, "bb", 1),
    ]

    # keep_representative=False: the span's content survives nowhere
    none_kept = [
        (r["doc_id"], r["text"])
        for r in split_excise_common_spans(
            docs, spans, k=3, keep_representative=False
        )
        .orderBy("doc_id", "chunk_idx")
        .collect()
    ]
    assert none_kept == [(1, "aa aa"), (1, "bb")]  # doc 0 fully excised

    # untouched / empty / null docs: one whole-doc chunk / no rows
    extra = spark.createDataFrame(
        [(5, "zz yy xx ww"), (6, None), (7, "")], "doc_id long, text string"
    )
    rows = split_excise_common_spans(extra, spans, k=3).collect()
    assert [(r["doc_id"], r["text"], r["token_start"]) for r in rows] == [
        (5, "zz yy xx ww", 1)
    ]


def test_span_level_decontamination(spark):
    """GPT-3-style n-gram-overlap decontamination: a benchmark question
    embedded VERBATIM inside an otherwise-unrelated training page is
    flagged and dropped — partial contamination doc-level near-dup
    matching cannot see (the page's shingle set barely overlaps the
    benchmark doc's)."""
    from real_time_financial_market_data_pipeline_spark.operators.dedup import (
        decontaminate_spans,
        minhash_cross_corpus_pairs,
        span_contaminated_ids,
    )

    question = (
        "what is the capital city of the country directly north of the "
        "river that flows through the oldest bridge in europe"
    )  # 21 tokens
    filler = " ".join(f"filler{i} content{i*3} words{i*7}" for i in range(40))
    train = spark.createDataFrame(
        [
            (1, filler + " " + question + " " + filler),  # embedded verbatim
            (2, "a perfectly clean training document about cooking pasta "
                "with tomatoes and basil in a large pot of salted water"),
        ],
        "doc_id long, text string",
    )
    benchmark = spark.createDataFrame(
        [(100, question + " answer choices follow below")],
        "doc_id long, text string",
    )

    flagged = span_contaminated_ids(train, benchmark, k=13).collect()
    assert [r["doc_id"] for r in flagged] == [1]
    assert flagged[0]["matched_windows"] >= 21 - 13 + 1 - 4  # most windows hit
    assert flagged[0]["matched_benchmark_docs"] == 1

    kept = {r["doc_id"] for r in decontaminate_spans(train, benchmark, k=13).collect()}
    assert kept == {2}

    # the doc-level near-dup rule does NOT see this contamination: the
    # embedding is a tiny fraction of doc 1's shingles, far below any
    # usable Jaccard threshold — which is exactly why the span rule exists
    doclevel = minhash_cross_corpus_pairs(train, benchmark, threshold=0.5)
    assert doclevel.count() == 0

    # surgical alternative (round 8): excise JUST the benchmark text,
    # keep the page — and a verification pass confirms the output is
    # clean by the same detection rule
    from real_time_financial_market_data_pipeline_spark.operators.dedup import (
        excise_contaminated_spans,
        span_contaminated_ids as detect,
    )

    out = {r["doc_id"]: r for r in excise_contaminated_spans(train, benchmark, k=13).collect()}
    assert len(out) == 2                      # every row preserved
    assert out[2]["excised_tokens"] == 0      # clean page untouched
    assert out[1]["excised_tokens"] >= 21     # the whole question went
    assert question not in out[1]["text"]
    assert "filler0 content0 words0" in out[1]["text"]   # page content kept
    assert "filler39" in out[1]["text"]
    cleaned = spark.createDataFrame(
        [(k, v["text"]) for k, v in out.items()], "doc_id long, text string"
    )
    assert detect(cleaned, benchmark, k=13).count() == 0
