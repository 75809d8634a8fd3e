"""Dump `.explain("formatted")` for declared queries into plans/r<round>/.

Optimization-round evidence: one file per query per tag so before/after
plan diffs are committed artifacts a reviewer can check without running
Spark.

    python scripts/dump_round_plans.py <round> <tag> [sf_dir] [query ...]

round is the optimization round number (plans/r21/ for 21); tag is
`before` or `after`; with no query names, every declared query is
dumped.  Plans are rendered with maxMetadataStringLength raised so
ReadSchema / PushedFilters are untruncated.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

from real_time_financial_market_data_pipeline_spark.plans.inspect import physical_plan
from real_time_financial_market_data_pipeline_spark.serving.queries import QUERIES
from real_time_financial_market_data_pipeline_spark.session import get_spark


def main() -> None:
    if len(sys.argv) < 2 or not sys.argv[1].isdigit():
        sys.exit(__doc__)
    rnd = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    names = sys.argv[4:] or list(QUERIES)
    out_dir = REPO_ROOT / "plans" / f"r{rnd}"
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name=f"dump_r{rnd}_plans")
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    failed: list[str] = []
    for name in names:
        try:
            plan = physical_plan(QUERIES[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — keep dumping the rest
            failed.append(f"{name}: {type(exc).__name__}: {exc}")
            continue
        path = out_dir / f"{name}_{tag}.txt"
        path.write_text(
            f"# query: {name}\n# tag: {tag}\n# sf_dir: {sf_dir}\n\n{plan}"
        )
        print(f"wrote {path.relative_to(REPO_ROOT)}")
    if failed:
        print("FAILED:\n" + "\n".join(failed), file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
