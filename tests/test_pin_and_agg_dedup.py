"""Round-16 optimization internals: pin_concurrently scheduling and
the max_by aggregate form of latest-per-key.

Both changes must be OUTPUT-INVISIBLE: pin_concurrently only
reorders job submission (contents identical to serial pins), and
latest_per_key_agg keeps exactly the window form's rank-1 row when
the (order_col, *tiebreakers) chain is row-unique — the precondition
every caller satisfies (w1: orderkey+linenumber is the table key).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from innercircle_etl_spark.operators.window_dedup import (
    first_per_key,
    first_per_key_agg,
    latest_per_key,
    latest_per_key_agg,
)
from innercircle_etl_spark.plans.registry import pin_concurrently


def _rows(df, *order_cols):
    return [tuple(r) for r in df.orderBy(*order_cols).collect()]


def test_latest_per_key_agg_matches_window_form(spark):
    # 500 rows, 40 keys (~12 dup factor), unique (ts, seq) tiebreak
    # chain with deliberate ts TIES inside keys so the tiebreaker is
    # load-bearing in both forms.
    df = (
        spark.range(500)
        .select(
            (F.col("id") % 40).alias("k"),
            (F.col("id") % 7).alias("ts"),  # ties within key groups
            F.col("id").alias("seq"),  # unique -> total order
            (F.col("id") * 3 % 101).alias("payload"),
        )
    )
    win = latest_per_key(df, ["k"], "ts", tiebreakers=["seq"])
    agg = latest_per_key_agg(df, ["k"], "ts", tiebreakers=["seq"])
    # column order + types preserved (nullability may widen through
    # the struct round-trip; the driver's schema gate compares names
    # and types, not nullability)
    assert [(f.name, f.dataType) for f in agg.schema] == [
        (f.name, f.dataType) for f in win.schema
    ]
    assert _rows(agg, "k") == _rows(win, "k")


def test_first_per_key_agg_matches_window_form(spark):
    df = (
        spark.range(500)
        .select(
            (F.col("id") % 40).alias("k"),
            (F.col("id") % 7).alias("ts"),
            F.col("id").alias("seq"),
            (F.col("id") * 3 % 101).alias("payload"),
        )
    )
    win = first_per_key(df, ["k"], "ts", tiebreakers=["seq"])
    agg = first_per_key_agg(df, ["k"], "ts", tiebreakers=["seq"])
    assert [(f.name, f.dataType) for f in agg.schema] == [
        (f.name, f.dataType) for f in win.schema
    ]
    assert _rows(agg, "k") == _rows(win, "k")


def test_agg_forms_match_window_forms_with_null_order_fields(spark):
    # Round-17 (verdict item 6 / advice item 2): the ordering expr is
    # a STRUCT, which is never NULL even when its fields are — so
    # max_by/min_by never skip a row; null order fields compare
    # lowest, which coincides with the window form's default
    # desc-nulls-last / asc-nulls-first placement. Pin that equality
    # over every null shape a caller could feed: null order values,
    # all-null groups, null tiebreak fields.
    rows = [
        (1, 10, 1, "a"), (1, None, 2, "b"),   # null ord among non-null
        (2, None, 1, "c"), (2, None, 2, "d"),  # all-null ord group
        (3, 5, None, "e"), (3, 5, 7, "f"),     # null tiebreak field
        (4, 1, 1, "g"),                        # singleton group
    ]
    df = spark.createDataFrame(rows, "k int, o int, tb int, p string")
    for w_form, a_form in (
        (latest_per_key, latest_per_key_agg),
        (first_per_key, first_per_key_agg),
    ):
        win = w_form(df, ["k"], "o", tiebreakers=["tb"])
        agg = a_form(df, ["k"], "o", tiebreakers=["tb"])
        assert _rows(agg, "k") == _rows(win, "k")


def test_agg_form_handles_dotted_column_names(spark):
    # Advice item 3: non-key columns are re-extracted from the
    # aggregate struct with getField, so names containing dots must
    # round-trip (dotted F.col paths would throw UNRESOLVED_COLUMN).
    df = (
        spark.range(20)
        .select(
            (F.col("id") % 4).alias("k"),
            F.col("id").alias("ts"),
            (F.col("id") * 7 % 11).alias("pay.load"),
        )
    )
    agg = latest_per_key_agg(df, ["k"], "ts")
    assert agg.columns == ["k", "ts", "pay.load"]
    win = latest_per_key(df, ["k"], "ts")
    assert _rows(agg, "k") == _rows(win, "k")


def test_window_forms_handle_dotted_key_order_and_tiebreaker_names(spark):
    # Advice item 3, window half: keys, order column and tiebreakers
    # are all quoted, so dotted names are taken verbatim (an unquoted
    # name would parse as a struct path and fail to resolve). Each
    # window form must keep the same rows as its aggregate twin.
    df = spark.range(60).select(
        (F.col("id") % 6).alias("k.ey"),
        (F.col("id") % 4).alias("t.s"),  # ties within key groups
        F.col("id").alias("s.eq"),  # unique -> total order
        (F.col("id") * 7 % 11).alias("pay.load"),
    )
    for w_form, a_form in (
        (latest_per_key, latest_per_key_agg),
        (first_per_key, first_per_key_agg),
    ):
        win = w_form(df, ["k.ey"], "t.s", tiebreakers=["s.eq"])
        agg = a_form(df, ["k.ey"], "t.s", tiebreakers=["s.eq"])
        assert win.columns == df.columns
        got = sorted(tuple(r) for r in win.collect())
        assert len(got) == 6
        assert got == sorted(tuple(r) for r in agg.collect())


def test_agg_form_input_named_row_does_not_collide(spark):
    # collision-checked temp name: a column literally named __row
    df = spark.range(10).select(
        (F.col("id") % 3).alias("k"),
        F.col("id").alias("ts"),
        (F.col("id") + 100).alias("__row"),
    )
    agg = latest_per_key_agg(df, ["k"], "ts")
    win = latest_per_key(df, ["k"], "ts")
    assert agg.columns == ["k", "ts", "__row"]
    assert _rows(agg, "k") == _rows(win, "k")


def test_latest_per_key_agg_plan_has_partial_aggregation(spark):
    df = spark.range(100).select(
        (F.col("id") % 5).alias("k"),
        F.col("id").alias("ts"),
        (F.col("id") % 13).alias("v"),
    )
    plan = (
        latest_per_key_agg(df, ["k"], "ts")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # map-side partial before the exchange (guide §2.3), and the
    # window operator is gone entirely
    assert "partial_max_by" in plan
    assert "Window" not in plan


def test_pin_concurrently_matches_serial_pins(spark):
    a = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("x"))
    b = spark.range(50).select(F.col("id"), F.md5(F.col("id").cast("string")).alias("h"))
    c = spark.range(10).groupBy((F.col("id") % 3).alias("g")).count()
    pa, pb, pc = pin_concurrently(a, b, c)
    # argument order preserved, schemas intact
    assert pa.schema == a.schema
    assert pb.schema == b.schema
    assert pc.schema == c.schema
    # contents identical to the unpinned frames
    assert _rows(pa, "id") == _rows(a, "id")
    assert _rows(pb, "id") == _rows(b, "id")
    assert _rows(pc, "g") == _rows(c, "g")
    # each result really is a materialization boundary: the plan
    # reads pinned blocks, not the original lineage
    for pinned in (pa, pb, pc):
        plan = pinned._jdf.queryExecution().optimizedPlan().toString()
        assert "ExistingRDD" in plan or "LogicalRDD" in plan


def test_pin_concurrently_releases_siblings_on_failure(spark):
    # Advice item 1: if one pin raises, siblings that already
    # materialized must not leak pinned blocks (the caller never
    # receives their handles to release them).
    import pytest

    from innercircle_etl_spark.plans.registry import pinned_rdd_ids

    good = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("x"))
    bad = spark.range(3).select(
        F.expr("raise_error('pin boom')").alias("e")
    )
    before = set(pinned_rdd_ids(spark))
    with pytest.raises(Exception, match="pin boom"):
        pin_concurrently(good, bad)
    leaked = set(pinned_rdd_ids(spark)) - before
    assert not leaked, f"leaked pinned RDDs: {leaked}"


def test_pin_concurrently_single_frame_fast_path(spark):
    a = spark.range(7).select((F.col("id") + 1).alias("n"))
    (pa,) = pin_concurrently(a)
    assert _rows(pa, "n") == _rows(a, "n")


def _pin_id(pinned):
    """RDD id of the pin a localCheckpoint frame reads."""
    return int(pinned._jdf.queryExecution().analyzed().rdd().id())


def test_pin_concurrently_failure_spares_a_concurrent_callers_pin(
    spark, tmp_path
):
    # A group whose member fails LATE, while another thread eagerly
    # pins an unrelated frame: the failure path must release exactly
    # the group's own pins. The member's UDF and the other thread
    # hand off through files, so the unrelated pin always lands
    # while the group is running.
    import os
    import threading
    import time

    import pytest
    from pyspark.sql.types import LongType

    from innercircle_etl_spark.plans.registry import pinned_rdd_ids

    started, pinned = str(tmp_path / "started"), str(tmp_path / "pinned")

    def wait_for(path):
        deadline = time.time() + 60
        while not os.path.exists(path) and time.time() < deadline:
            time.sleep(0.05)

    def late_boom(x):
        open(started, "w").close()
        wait_for(pinned)
        raise RuntimeError("late pin boom")

    good = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("x"))
    bad = spark.range(1).select(F.udf(late_boom, LongType())("id").alias("e"))
    other = {}

    def pin_other():
        wait_for(started)
        other["df"] = spark.range(10).toDF("y").localCheckpoint(eager=True)
        open(pinned, "w").close()

    before = set(pinned_rdd_ids(spark))
    t = threading.Thread(target=pin_other)
    t.start()
    try:
        with pytest.raises(Exception, match="late pin boom"):
            pin_concurrently(good, bad)
    finally:
        t.join()
    other_id = _pin_id(other["df"])
    after = set(pinned_rdd_ids(spark))
    assert other_id in after
    assert other["df"].count() == 10
    assert after - before == {other_id}, f"group leaked: {after - before}"


def test_pin_concurrently_failed_single_pin_leaves_nothing(spark):
    import pytest

    from innercircle_etl_spark.plans.registry import pinned_rdd_ids

    bad = spark.range(3).select(F.expr("raise_error('solo boom')").alias("e"))
    before = set(pinned_rdd_ids(spark))
    with pytest.raises(Exception, match="solo boom"):
        pin_concurrently(bad)
    assert not set(pinned_rdd_ids(spark)) - before


def test_release_frees_exactly_the_pins_a_frame_reads(spark):
    from innercircle_etl_spark.plans.registry import pinned_rdd_ids, release

    a = spark.range(10).localCheckpoint(eager=True)
    b = spark.range(5).toDF("j").localCheckpoint(eager=True)
    unrelated = spark.range(3).toDF("u").localCheckpoint(eager=True)
    derived = a.crossJoin(b)
    made = derived.localCheckpoint(eager=True)
    release(derived)
    live = set(pinned_rdd_ids(spark))
    assert _pin_id(a) not in live and _pin_id(b) not in live
    assert {_pin_id(made), _pin_id(unrelated)} <= live
    assert made.count() == 50
    assert unrelated.count() == 3


def test_only_the_registry_reads_the_global_pin_map():
    # Query code releases its pins by frame (registry.release); the
    # session-wide persistent-RDD map is for runners only.
    import pathlib

    import innercircle_etl_spark

    pkg = pathlib.Path(innercircle_etl_spark.__file__).parent
    repo = pkg.parent
    for path in sorted((pkg / "plans").glob("*.py")):
        if path.name == "registry.py":
            continue
        src = path.read_text()
        for name in ("getPersistentRDDs", "pinned_rdd_ids"):
            assert name not in src, f"{path.name} references {name}"
    program = [*pkg.rglob("*.py"), *(repo / "tools").glob("*.py")]
    program += [repo / "bench.py", repo / "__spark_entry__.py"]
    for path in program:
        assert "release_pins" not in path.read_text(), path
