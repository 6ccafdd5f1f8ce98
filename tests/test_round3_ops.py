"""Round-3 operator properties beyond the oracle gate:
- u11 dynamic partition overwrite really leaves untouched partitions'
  files alone (the I/O claim, not just the logical state);
- graph_pagerank3 conserves rank mass up to truncation loss and is
  partitioning-invariant (the fixed-point-integer determinism claim).
"""

from __future__ import annotations

import glob
import os

from innercircle_etl_spark.plans.graph_queries import _SCALE
from innercircle_etl_spark.plans.registry import QUERIES, SCRATCH


def test_u11_rewrites_only_touched_partition(spark, sf_dir):
    """Run u11, snapshot per-partition file listings, run only the
    dynamic-overwrite step again: every partition except 2024-01-07
    must keep identical (path, mtime) file sets."""
    QUERIES["u11_dynamic_partition_overwrite"](spark, sf_dir).collect()
    path = f"{SCRATCH}/dyn_overwrite_{os.path.basename(sf_dir)}"

    def listing():
        out = {}
        for d in glob.glob(f"{path}/dt=*"):
            out[os.path.basename(d)] = {
                (f, os.path.getmtime(f"{d}/{f}"))
                for f in os.listdir(d)
                if f.endswith(".parquet")
            }
        return out

    before = listing()
    assert "dt=2024-01-07" in before
    # second run: the full-table baseline write rewrites everything,
    # so re-run ONLY the dynamic overwrite of the one day
    from pyspark.sql import functions as F

    from innercircle_etl_spark.plans.registry import load

    ev = (
        load(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("dt", F.to_date("ts"))
    )
    fresh = ev.filter(F.col("dt") == F.lit("2024-01-07")).withColumn(
        "value", F.col("value") + 200
    )
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        fresh.write.mode("overwrite").partitionBy("dt").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)

    after = listing()
    changed = {
        d
        for d in before
        if before[d] != after.get(d, set())
    }
    assert changed == {"dt=2024-01-07"}, changed


def test_pagerank_mass_conserved_and_partition_invariant(spark, sf_dir):
    """Total rank stays within the truncation budget of SCALE, and a
    different shuffle-partition count yields the identical result
    (the whole point of fixed-point integer arithmetic)."""
    df = QUERIES["graph_pagerank3"](spark, sf_dir)
    rows = {r.node: r.rank_fp for r in df.collect()}
    total = sum(rows.values())
    n = len(rows)
    # every div truncates < 1 unit per node per term, 3 iterations,
    # plus the initial SCALE div N loss: generous linear budget
    assert 0 < _SCALE - total < 25 * n * 3 + n
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        rows2 = {
            r.node: r.rank_fp
            for r in QUERIES["graph_pagerank3"](spark, sf_dir).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert rows == rows2
