"""Entry point 1 as an oracle-checked query: seed a damaged
warehouse (missing days + a stale current day), run one
`pipeline.run_daily` cron cycle, and return the repaired table.
The oracle is a clean full recompute from the source — equality
proves the gap scan found every hole and the partition overwrite
repaired exactly them (idempotence of U3+U6 composed).
"""

from __future__ import annotations

import os
import shutil
from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from innercircle_etl_spark.pipeline import run_daily, write_daily_partitioned
from innercircle_etl_spark.plans.registry import (
    SCRATCH,
    dsum,
    duck_dsum,
    load,
    register,
)

_START, _END = "2001-06-01", "2001-06-30"
_RUN_DATE = "2001-06-25"  # the stale "current" day
_MISSING = ("2001-06-05", "2001-06-12", "2001-06-29")

_EP1_ORACLE = f"""
SELECT CAST(o_orderdate AS DATE) AS d, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {duck_dsum('o_totalprice')} AS total
FROM orders
WHERE o_orderdate >= TIMESTAMP '{_START} 00:00:00'
  AND o_orderdate < TIMESTAMP '2001-07-01 00:00:00'
GROUP BY d, o_orderstatus
"""


def seed_damaged_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """Build the month aggregate with planted damage (three missing
    days + a half-loaded run date); returns the warehouse path.
    Split out so tests can run repair cycles against it directly."""
    wh = f"{SCRATCH}/ep1_{os.path.basename(sf_dir)}"
    shutil.rmtree(wh, ignore_errors=True)
    month = _month(spark, sf_dir)
    seed_src = month.filter(
        ~F.col("d").cast("string").isin(list(_MISSING))
    ).filter(
        (F.col("d") != F.lit(_RUN_DATE).cast("date"))
        | (F.col("o_orderkey") % 2 == 0)
    )
    write_daily_partitioned(
        _day_agg(seed_src).select("o_orderstatus", "n_orders", "total", "d"),
        wh,
    )
    return wh


def repair_cycle(spark: SparkSession, sf_dir: str, wh: str) -> DataFrame:
    """One `run_daily` cron cycle against an existing warehouse.
    Idempotent: a second cycle recomputes the (already-correct) run
    date and finds no gaps — the table is unchanged (property-tested).
    """
    month = _month(spark, sf_dir)

    def build_days(days) -> DataFrame:
        # ONE filtered recompute for the whole repair set — the plan
        # is the same size for 3 missing days or 300 (typed date
        # literals so the IN-list prunes against the date column
        # directly, no implicit string casts)
        wanted = [date.fromisoformat(x) for x in days]
        return _day_agg(month.filter(F.col("d").isin(wanted))).select(
            "o_orderstatus", "n_orders", "total", "d"
        )

    return run_daily(
        spark,
        wh,
        build_days,
        run_date=_RUN_DATE,
        lookback_start=_START,
        lookback_end=_END,
    )


def _month(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        "o_orderstatus",
        "o_totalprice",
        "o_orderkey",
    )
    return orders.filter(
        (F.col("d") >= F.lit(_START).cast("date"))
        & (F.col("d") <= F.lit(_END).cast("date"))
    )


def _day_agg(df: DataFrame) -> DataFrame:
    return df.groupBy("d", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total"),
    )


@register("ep1_daily_pipeline", oracle=_EP1_ORACLE)
def ep1_daily_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry point 1 end-to-end (daily_update_script.py:1-80): a
    month-long daily aggregate warehouse is seeded with three missing
    days (the gap scan's job, etl_utls.py:340-357) and a stale
    half-loaded current day (the delete+reload's job,
    etl_utls.py:303-313); one `run_daily` cycle gap-scans, recomputes
    exactly the damaged days from source, and repairs them via
    dynamic partition overwrite. Output = the repaired table; oracle
    = clean recompute. The untouched 26 partitions are never
    rewritten — at 100 TB the repair cost is O(damage), not O(table).
    """
    wh = seed_damaged_warehouse(spark, sf_dir)
    repaired = repair_cycle(spark, sf_dir, wh)
    return repaired.select(
        F.col("d").cast("date").alias("d"),
        "o_orderstatus",
        "n_orders",
        "total",
    )
