"""The Q1-Q10 serving panels and the bucketed-table readers, issued over
a stopped medallion's output, each answer checked against DuckDB
recomputing the panel from the on-disk silver table.

Serving views are registered on the job's own output tables:
trades_silver over the silver sink, trades_gold_5m over gold_view,
latest_prices_v over latest_prices_view, and the bucketed readers of
pipeline.materialize over the table publish_gold_bucketed registered.
"""

from __future__ import annotations

import os

from metrics import PANELS

REF_SYMBOL, REF_DATE_LITERAL = "'purchase'", "2024-01-15"


def register_views(spark, out: str, lp_out: str) -> None:
    from real_time_financial_market_data_pipeline_spark.streaming.jobs import gold_view, latest_prices_view

    silver = spark.read.parquet(os.path.join(out, "silver"))
    silver.withColumnRenamed("timestamp", "ts_ms").createOrReplaceTempView("trades_silver")
    gold_view(spark, out).createOrReplaceTempView("trades_gold_5m")
    latest_prices_view(spark, lp_out).createOrReplaceTempView("latest_prices_v")


def build(spark, gold_table: str, panel: str, sym: str, day: str):
    """The panel's DataFrame with its symbol and date literals bound."""
    from real_time_financial_market_data_pipeline_spark.pipeline.materialize import (
        day_over_day_from_bucketed,
        latest_bars_from_bucketed,
        volume_by_symbol_from_bucketed,
    )
    from real_time_financial_market_data_pipeline_spark.serving.views import SERVING_SQL

    if panel == "latest_bars_bucketed":
        return latest_bars_from_bucketed(spark, gold_table)
    if panel == "volume_by_symbol_bucketed":
        return volume_by_symbol_from_bucketed(spark, gold_table, on_date=day)
    if panel == "day_over_day_bucketed":
        return day_over_day_from_bucketed(spark, gold_table)
    sql = SERVING_SQL[panel].replace(REF_DATE_LITERAL, day).replace(REF_SYMBOL, f"'{sym}'")
    return spark.sql(sql)


def run_panels(ctx, silver_dir: str, gold_table: str, sym: str, day: str, skip_check=()) -> dict:
    """Issue every panel once; per-layer plan/exec times, Exchange count,
    and the panels whose answer differs from DuckDB's."""
    import time

    spark, tr = ctx.spark, ctx.tracer
    ref = DuckRef(silver_dir)
    layers, wrong, exchanges = {}, [], 0
    try:
        for panel in PANELS:
            with tr.span(f"serving.{panel}", f"panel-{panel}"):
                a = time.time()
                with tr.span("serving.plan"):
                    df = build(spark, gold_table, panel, sym, day)
                    plan = df._jdf.queryExecution().executedPlan()
                b = time.time()
                with tr.span("serving.exec"):
                    rows = df.collect()
                c = time.time()
            layers[f"serving.{panel}.plan_s_p50"] = b - a
            layers[f"serving.{panel}.exec_s_p50"] = c - b
            exchanges += plan.toString().count("Exchange")
            if panel not in skip_check:
                try:
                    if normalize(rows) != ref.answer(panel, sym, day):
                        wrong.append(panel)
                except Exception as exc:  # an answer DuckDB cannot compute is a wrong one
                    wrong.append(f"{panel} ({type(exc).__name__}: {exc})"[:200])
    finally:
        ref.close()
    layers["serving.exchanges"] = exchanges
    return {"layers": layers, "wrong": wrong, "n": len(PANELS)}


def _norm_value(v):
    import datetime as dt
    import decimal

    if isinstance(v, float | decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, dt.datetime | dt.date):
        return v.isoformat()
    return v


def normalize(rows) -> list[tuple]:
    return sorted((tuple(_norm_value(x) for x in r) for r in rows), key=repr)


class DuckRef:
    """The panels recomputed by DuckDB from the silver parquet files.  A
    trade's date is taken from its event time, not from the trade_date
    partition directory the writer chose, so a wrong partition value
    shows as a wrong panel answer."""

    def __init__(self, silver_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        glob_path = os.path.join(silver_dir, "**", "*.parquet")
        self.con.execute(f"""
            CREATE VIEW s AS SELECT symbol, price, volume, "timestamp" AS ts_ms, event_time,
                   CAST(event_time AS DATE) AS trade_date
            FROM read_parquet('{glob_path}', hive_partitioning = false)""")
        self.con.execute("""
            CREATE VIEW g AS SELECT symbol, time_bucket(INTERVAL 5 MINUTE, event_time) AS window_start,
                   arg_min(price, event_time) AS open, max(price) AS high, min(price) AS low,
                   arg_max(price, event_time) AS close, CAST(sum(volume) AS BIGINT) AS volume,
                   count(*) AS trade_count
            FROM s GROUP BY ALL""")
        self.con.execute("""
            CREATE VIEW lp AS SELECT symbol, max(price) FILTER (WHERE rn = 1) AS last_price,
                   max(volume) FILTER (WHERE rn = 1) AS last_volume,
                   max(event_time) FILTER (WHERE rn = 1) AS last_trade_time,
                   max(price) FILTER (WHERE rn = 2) AS prev_price
            FROM (SELECT *, row_number() OVER (PARTITION BY symbol ORDER BY ts_ms DESC) AS rn FROM s)
            WHERE rn <= 2 GROUP BY symbol""")

    def close(self) -> None:
        self.con.close()

    def answer(self, panel: str, sym: str, day: str) -> list[tuple]:
        d = f"DATE '{day}'"
        sql = {
            "q1_pipeline_status": f"SELECT count(*) FROM s WHERE trade_date = {d} LIMIT 1",
            "q2_trades_today": f"SELECT count(*) FROM s WHERE trade_date = {d}",
            "q3_total_volume": f"SELECT CAST(sum(volume) AS BIGINT) FROM g WHERE CAST(window_start AS DATE) = {d}",
            "q4_last_update": f"SELECT max(window_start) FROM g WHERE CAST(window_start AS DATE) = {d}",
            "q5_latest_bars": f"""SELECT window_start, open, high, low, close, volume FROM g
                WHERE symbol = '{sym}' AND CAST(window_start AS DATE) = {d} ORDER BY window_start DESC LIMIT 50""",
            "q6_volume_by_symbol": f"""SELECT symbol, CAST(sum(volume) AS BIGINT) FROM g
                WHERE CAST(window_start AS DATE) = {d} GROUP BY symbol""",
            "q7_trades_by_symbol": f"""SELECT symbol, CAST(sum(trade_count) AS BIGINT) FROM g
                WHERE CAST(window_start AS DATE) = {d} GROUP BY symbol""",
            "q8_latest_prices": """SELECT symbol, last_price, last_volume, last_trade_time,
                   round(last_price - prev_price, 10), round(100.0 * (last_price - prev_price) / prev_price, 10)
                FROM lp""",
            "q9_avg_latency_alert": f"""SELECT avg(epoch_ms(event_time) - ts_ms) / 1000.0 FROM s
                WHERE trade_date = {d}""",
            "q10_point_lookup": f"""SELECT symbol, price, volume, event_time FROM s
                WHERE symbol = '{sym}' AND trade_date = {d} ORDER BY event_time DESC LIMIT 100""",
            "latest_bars_bucketed": """SELECT symbol, window_start, open, high, low, close, volume FROM
                (SELECT *, rank() OVER (PARTITION BY symbol ORDER BY window_start DESC) AS r FROM g) WHERE r <= 50""",
            "volume_by_symbol_bucketed": f"""SELECT symbol, CAST(sum(volume) AS BIGINT), CAST(sum(trade_count) AS BIGINT)
                FROM g WHERE CAST(window_start AS DATE) = {d} GROUP BY symbol""",
            "day_over_day_bucketed": """SELECT symbol, trade_date, day_volume, prev_volume,
                   round(100.0 * (day_volume - prev_volume) / prev_volume, 6) FROM
                (SELECT symbol, trade_date, day_volume,
                        lag(day_volume) OVER (PARTITION BY symbol ORDER BY trade_date) AS prev_volume
                 FROM (SELECT symbol, CAST(window_start AS DATE) AS trade_date,
                              CAST(sum(volume) AS BIGINT) AS day_volume FROM g GROUP BY ALL))""",
        }[panel]
        return normalize(self.con.execute(sql).fetchall())
