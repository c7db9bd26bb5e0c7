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
    # The second input puts the dots in the order column and the
    # tiebreaker, which both forms must take verbatim too.
    payload_dotted = spark.range(20).select(
        (F.col("id") % 4).alias("k"),
        F.col("id").alias("ts"),
        (F.col("id") * 7 % 11).alias("pay.load"),
    )
    order_dotted = spark.range(20).select(
        (F.col("id") % 4).alias("k"),
        (F.col("id") % 3).alias("t.s"),  # ties within key groups
        F.col("id").alias("tie.b"),  # unique -> total order
        (F.col("id") * 7 % 11).alias("pay.load"),
    )
    for df, order_col, tiebreakers in (
        (payload_dotted, "ts", []),
        (order_dotted, "t.s", ["tie.b"]),
    ):
        agg = latest_per_key_agg(df, ["k"], order_col, tiebreakers)
        assert agg.columns == df.columns
        win = latest_per_key(df, ["k"], order_col, tiebreakers)
        assert _rows(agg, "k") == _rows(win, "k")


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

    def pinned_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(j.id()) for j in jmap.values()}

    good = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("x"))
    bad = spark.range(3).select(
        F.expr("raise_error('pin boom')").alias("e")
    )
    before = pinned_ids()
    with pytest.raises(Exception, match="pin boom"):
        pin_concurrently(good, bad)
    leaked = pinned_ids() - before
    assert not leaked, f"leaked pinned RDDs: {leaked}"


def test_pin_concurrently_failure_spares_concurrent_pins(spark, tmp_path):
    # A failed group releases exactly its OWN pins: a pin another
    # thread makes while the group is in flight must survive. The
    # failing member (one partition, so it cannot hold every slot)
    # marks itself started, then waits for the release flag file.
    import os
    import threading
    import time

    from pyspark.sql.types import LongType

    started = str(tmp_path / "started")
    release = str(tmp_path / "release")

    def wait_then_fail(x):
        import os
        import time

        open(started, "w").close()
        deadline = time.time() + 120
        while not os.path.exists(release) and time.time() < deadline:
            time.sleep(0.01)
        raise ValueError("pin boom")

    def persisted():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(j.id()) for j in jmap.values()}

    good = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("x"))
    bad = spark.range(1, numPartitions=1).select(
        F.udf(wait_then_fail, LongType())("id").alias("e")
    )
    before = persisted()
    errors = []

    def run_group():
        try:
            pin_concurrently(good, bad)
        except Exception as e:  # noqa: BLE001 — asserted below
            errors.append(e)

    group = threading.Thread(target=run_group)
    group.start()
    try:
        deadline = time.time() + 120
        while not os.path.exists(started) and time.time() < deadline:
            time.sleep(0.01)
        assert os.path.exists(started), "failing member never started"
        other = spark.range(10, numPartitions=1).localCheckpoint(eager=True)
        other_id = int(other._jdf.queryExecution().analyzed().rdd().id())
    finally:
        open(release, "w").close()
        group.join(120)
    assert not group.is_alive()
    assert errors and "pin boom" in str(errors[0]), errors
    assert persisted() - before == {other_id}


def test_pin_concurrently_single_frame_fast_path(spark):
    a = spark.range(7).select((F.col("id") + 1).alias("n"))
    (pa,) = pin_concurrently(a)
    assert _rows(pa, "n") == _rows(a, "n")
