"""Metric helpers.  BENCHMARK.json declares every metric's name, unit
and direction; `select` builds the result's "metrics" object from it and
refuses a value under a name it does not declare."""

from __future__ import annotations

import re

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

# the serving panels and StageTimer segments the per-layer names are built from
PANELS = (
    "q1_pipeline_status", "q2_trades_today", "q3_total_volume", "q4_last_update",
    "q5_latest_bars", "q6_volume_by_symbol", "q7_trades_by_symbol", "q8_latest_prices",
    "q9_avg_latency_alert", "q10_point_lookup",
    "latest_bars_bucketed", "volume_by_symbol_bucketed", "day_over_day_bucketed",
)
SEGMENTS = (
    "repair_decontam_checkpoint", "minhash_signatures", "dedup_joins_corpus_write",
    "spanfp_partial_write", "spanpostings_write", "bands_sigs_write", "inline_compact",
)


def select(declared: list[dict], values: dict[str, float]) -> dict:
    """The result's "metrics" object: every declared metric, in declared
    order, with its unit.  A value the run produced under a name that is
    not declared is an error, so no metric can be emitted undeclared;
    a declared metric the workload does not exercise reads 0."""
    names = {m["name"] for m in declared}
    extra = sorted(k for k in values if k not in names)
    if extra:
        raise KeyError(f"undeclared metrics emitted: {extra}")
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in declared}
