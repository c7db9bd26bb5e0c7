"""Upsert/merge-family queries (SURVEY §2.2 U1-U6) exercising
operators/upsert.py against the synthetic tables.

Each query stages a 'target' and 'source' from deterministic slices
of one table, applies the merge operator, and returns the post-merge
state (or a compact aggregate of it) so the oracle can recompute the
same state in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from innercircle_etl_spark.operators.window_dedup import latest_per_key_agg

from innercircle_etl_spark.operators.upsert import (
    conditional_flag_update,
    date_gaps,
    insert_if_absent,
    merge_update,
    partition_delete_reload,
)
from innercircle_etl_spark.plans.registry import (
    dsum,
    duck_dsum,
    load,
    register,
    scratch_dir,
)


@register(
    "u1_insert_if_absent",
    oracle=f"""
    WITH target AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 3 = 0
    ),
    source AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
    ),
    merged AS (
        SELECT * FROM target
        UNION ALL
        SELECT s.* FROM source s
        WHERE NOT EXISTS (
            SELECT 1 FROM target t WHERE t.o_orderkey = s.o_orderkey)
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {duck_dsum('o_totalprice')} AS total
    FROM merged GROUP BY o_orderstatus
    """,
)
def u1_insert_if_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: insert-if-absent upsert — staging + anti-join insert
    (etl_utls.py:141-155). Idempotent: re-applying the same source is
    a no-op (tests assert this property)."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    target = orders.filter(F.col("o_orderkey") % 3 == 0)
    source = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    merged = insert_if_absent(target, source, ["o_orderkey"])
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice").alias("total"),
    )


@register(
    "u2_merge_update",
    oracle="""
    WITH source AS (
        SELECT c_custkey, c_acctbal * 2 AS c_acctbal
        FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    SELECT t.c_custkey,
           coalesce(s.c_acctbal, t.c_acctbal) AS c_acctbal,
           t.c_mktsegment
    FROM customer t LEFT JOIN source s ON t.c_custkey = s.c_custkey
    """,
)
def u2_merge_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: merge-update — `UPDATE t SET c = s.c FROM s WHERE key=key`
    with columns discovered dynamically (etl_utls.py:157-175)."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    source = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", (F.col("c_acctbal") * 2).alias("c_acctbal"))
    )
    return merge_update(cust, source, ["c_custkey"], ["c_acctbal"])


@register(
    "u3_partition_delete_reload",
    oracle=f"""
    WITH reloaded AS (
        SELECT event_id, ts, user_id, event_type, value + 100 AS value
        FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-05'
    ),
    merged AS (
        SELECT event_id, ts, user_id, event_type, value FROM events
        WHERE NOT (CAST(ts AS DATE) = DATE '2024-01-05')
        UNION ALL
        SELECT * FROM reloaded
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {duck_dsum('value')} AS total_value
    FROM merged GROUP BY event_type
    """,
)
def u3_partition_delete_reload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: day-partition delete+reload, the idempotent re-run
    primitive (etl_utls.py:303-313, update_etl.py:306). At scale this
    is `partitionOverwriteMode=dynamic` + insertInto — only the
    touched date directory rewrites; this query checks the resulting
    state."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    fresh = ev.filter(F.to_date("ts") == F.lit("2024-01-05")).withColumn(
        "value", F.col("value") + 100
    )
    merged = partition_delete_reload(
        ev, fresh, F.to_date(F.col("ts")), "2024-01-05"
    )
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
    )


@register(
    "u5_conditional_flag",
    oracle="""
    SELECT c.c_custkey,
           CASE WHEN EXISTS (
               SELECT 1 FROM orders o
               WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000
           ) THEN TRUE ELSE FALSE END AS is_whale
    FROM customer c
    """,
)
def u5_conditional_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5: conditional flag update — `UPDATE ... SET is_nft = true
    FROM (subquery)` (update_etl.py:150-174)."""
    cust = (
        load(spark, sf_dir, "customer")
        .select("c_custkey")
        .withColumn("is_whale", F.lit(False))
    )
    matches = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 250000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return conditional_flag_update(
        cust, matches, ["c_custkey"], "is_whale", True
    )


@register(
    "u6_date_gaps",
    oracle="""
    SELECT CAST(d AS DATE) AS missing_date
    FROM (SELECT unnest(generate_series(
            DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY)) AS d)
    WHERE CAST(d AS DATE) NOT IN (
        SELECT DISTINCT CAST(ts AS DATE) FROM events
        WHERE day(CAST(ts AS DATE)) % 3 != 0
    )
    ORDER BY missing_date
    """,
)
def u6_date_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6: gap detection — expected dates EXCEPT loaded dates
    (etl_utls.py:340-357, dim_dates.csv driver). 'Loaded' is a
    deterministic subset (days not divisible by 3) so gaps exist in
    the fixture."""
    ev = load(spark, sf_dir, "events").filter(
        F.dayofmonth(F.to_date("ts")) % 3 != 0
    )
    return date_gaps(ev, "ts", "2024-01-01", "2024-01-30")


@register(
    "u4_truncate_rebuild",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {duck_dsum('o_totalprice')} AS total
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def u4_truncate_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4: truncate + rebuild (update_etl.py:929-945,948-985) — the
    full-overwrite write mode. A real round-trip: the derived table
    is written to scratch twice (second write replaces the first —
    stale rows from run 1 must not survive), then read back. Both
    writes go through the crash-safe directory swap
    (operators/atomic_swap.write_replace): a plain
    mode('overwrite') deletes the live table BEFORE the new files
    land, so a crash mid-rebuild loses the table; the swap keeps one
    complete copy alive at every crash point — the real TRUNCATE
    discipline at 100TB."""
    from innercircle_etl_spark.operators.atomic_swap import write_replace

    path = scratch_dir("u4_rebuild", sf_dir)
    orders = load(spark, sf_dir, "orders")

    # run 1: a stale build (wrong filter) that must be fully replaced
    write_replace(
        orders.filter(F.col("o_orderstatus") == "O")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total"),
        ),
        path,
        "run1",
    )

    # run 2: the rebuild under test
    write_replace(
        orders.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total"),
        ),
        path,
        "run2",
    )

    return spark.read.parquet(path)


@register(
    "u7_merge_into",
    oracle="""
    WITH cust AS (
        SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
    ),
    t AS (SELECT * FROM cust WHERE c_custkey % 2 = 0),
    s AS (
        SELECT c_custkey, c_acctbal + 100 AS c_acctbal, c_mktsegment,
               CASE WHEN c_custkey % 12 = 0 THEN 'D' ELSE 'U' END AS op
        FROM cust WHERE c_custkey % 3 = 0
    ),
    updated AS (
        SELECT t.c_custkey, s.c_acctbal, s.c_mktsegment
        FROM t JOIN s ON t.c_custkey = s.c_custkey
        WHERE s.op <> 'D'
    ),
    kept AS (
        SELECT t.* FROM t WHERE NOT EXISTS (
            SELECT 1 FROM s WHERE s.c_custkey = t.c_custkey)
    ),
    inserted AS (
        SELECT s.c_custkey, s.c_acctbal, s.c_mktsegment FROM s
        WHERE NOT EXISTS (
            SELECT 1 FROM t WHERE t.c_custkey = s.c_custkey)
    )
    SELECT * FROM updated
    UNION ALL SELECT * FROM kept
    UNION ALL SELECT * FROM inserted
    """,
)
def u7_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U7 (unifier): Delta-style MERGE INTO over plain DataFrames —
    WHEN MATCHED AND op='D' DELETE / WHEN MATCHED UPDATE / WHEN NOT
    MATCHED INSERT, as ONE full-outer join (operators/merge.py). U1,
    U2 and U5 are each a degenerate call of this; the oracle spells
    the same semantics as three set branches. Every branch is
    populated by the fixture: evens are the target, multiples of 3
    the source, multiples of 12 deletes, odd multiples of 3 inserts.
    """
    from innercircle_etl_spark.operators.merge import merge_into

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    target = cust.filter(F.col("c_custkey") % 2 == 0)
    source = cust.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") + 100).alias("c_acctbal"),
        "c_mktsegment",
        F.when(F.col("c_custkey") % 12 == 0, "D")
        .otherwise("U")
        .alias("op"),
    )
    return merge_into(
        target,
        source,
        keys=["c_custkey"],
        update_cols=["c_acctbal", "c_mktsegment"],
        delete_cond=F.col("op") == "D",
    )


@register(
    "u9_scd2_ranges",
    oracle="""
    SELECT user_id,
           event_type AS segment,
           CAST(ts AS TIMESTAMP) AS valid_from,
           lead(CAST(ts AS TIMESTAMP)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS valid_to,
           (lead(CAST(ts AS TIMESTAMP)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) IS NULL) AS is_current
    FROM events WHERE event_id % 5 = 0
    """,
)
def u9_scd2_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U9 (beyond-parity): full SCD Type-2 with half-open validity
    ranges — each segment change opens an interval closed by the
    NEXT change's timestamp (NULL = current), derived in one lead()
    pass instead of the reference's flag-flip UPDATE (i5 keeps that
    parity form). Half-open [from, to) means point-in-time lookups
    are a simple BETWEEN — the j7b backward as-of composes directly
    on this shape."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") % 5 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.col("event_type").alias("segment"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "u10_incremental_agg",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
           MAX(event_id) AS last_event_id
    FROM events
    GROUP BY user_id
    """,
)
def u10_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U10 (beyond-parity): incremental aggregate-view maintenance —
    the warehouse pattern that updates a per-user rollup from ONLY
    the new day's delta instead of recomputing history: partials
    (count/decimal-sum/max all re-merge associatively) from the
    existing view union the delta's partials, one combine groupBy.
    Here the 'existing view' is the aggregate over events below the
    watermark and the delta is everything after — the oracle proves
    merged-incremental == full recompute exactly (decimal sums make
    the equality bit-level, not approximate)."""
    ev = load(spark, sf_dir, "events")
    hw = 5000  # the high watermark the previous run left behind

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("sum_dec"),
            F.max("event_id").alias("last_event_id"),
        )

    existing = partials(ev.filter(F.col("event_id") <= hw))
    delta = partials(ev.filter(F.col("event_id") > hw))
    return (
        existing.unionByName(delta)
        .groupBy("user_id")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_dec").cast("double").alias("total_value"),
            F.max("last_event_id").alias("last_event_id"),
        )
    )


_U11_ORACLE = f"""
WITH reloaded AS (
    SELECT event_id, ts, user_id, event_type, value + 200 AS value
    FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-07'
),
merged AS (
    SELECT event_id, ts, user_id, event_type, value FROM events
    WHERE NOT (CAST(ts AS DATE) = DATE '2024-01-07')
    UNION ALL
    SELECT * FROM reloaded
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {duck_dsum('value')} AS total_value
FROM merged GROUP BY event_type
"""


@register("u11_dynamic_partition_overwrite", oracle=_U11_ORACLE)
def u11_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """U3's write pattern made PHYSICAL: a date-partitioned parquet
    warehouse overwritten with ``partitionOverwriteMode=dynamic`` —
    mode('overwrite') + partitionBy with only one day's rows deletes
    and rewrites exactly that day's directory, leaving every other
    partition's files untouched (the reference's daily delete+reload,
    etl_utls.py:303-313, as Spark's native incremental write — at
    100TB the overwrite I/O is one partition, not the table).

    The read-back aggregate proves both halves: the touched day
    carries the +200 values, the untouched days survived the
    overwrite byte-for-byte.

    Crash-window note: the native committer deletes a matched
    partition before its staged files rename in, so a crash inside
    the commit can lose the day being overwritten. This query keeps
    the native form on purpose (it IS the feature being
    demonstrated); the production write path (pipeline.py
    ``write_daily_partitioned`` → atomic_swap.
    ``overwrite_partitions_atomic``) closes that window with the
    rename protocol and is what ep1 runs."""
    path = scratch_dir("dyn_overwrite", sf_dir)
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).withColumn("dt", F.to_date("ts"))

    # fresh baseline each run (self-contained determinism)
    ev.write.mode("overwrite").partitionBy("dt").parquet(path)

    fresh = ev.filter(F.col("dt") == F.lit("2024-01-07")).withColumn(
        "value", F.col("value") + 200
    )
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        fresh.write.mode("overwrite").partitionBy("dt").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)

    back = spark.read.parquet(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
    )


# ------------------------------------------------ CDC changelog apply

_U12_ORACLE = """
WITH snapshot AS (
    SELECT c_custkey AS k, c_acctbal AS bal FROM customer
),
changelog AS (
    SELECT user_id AS k, ts, event_id,
           CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
           value AS new_bal
    FROM events
),
latest AS (
    SELECT k, op, new_bal FROM (
        SELECT *, row_number() OVER (
            PARTITION BY k ORDER BY ts DESC, event_id DESC) AS rn
        FROM changelog
    ) WHERE rn = 1
)
SELECT s.k AS c_custkey,
       CASE WHEN l.op = 'U' THEN l.new_bal ELSE s.bal END AS acctbal,
       (l.k IS NOT NULL) AS touched
FROM snapshot s LEFT JOIN latest l ON s.k = l.k
WHERE l.op IS NULL OR l.op <> 'D'
UNION ALL
SELECT l.k, l.new_bal, TRUE
FROM latest l LEFT JOIN snapshot s ON s.k = l.k
WHERE s.k IS NULL AND l.op = 'U'
"""


@register("u12_cdc_apply", oracle=_U12_ORACLE)
def u12_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U12 (beyond-parity): apply an ordered CDC changelog (a
    Debezium/binlog-shaped feed of upserts and deletes) to a
    snapshot — LAST-writer-wins per key, deletes drop the row,
    unseen keys insert. This is the standard lakehouse ingestion
    pattern the reference's per-table staging upserts approximate
    one table at a time (etl_utls.py:285-357), composed here from
    the engine's own primitives: W1 latest-per-key over the
    changelog (one shuffle on the key; the event-time order column
    is the NTZ event ts with the unique event id as tiebreak), then
    a single full-outer merge against the snapshot.

    Scale shape: changelog compaction is the W1 shuffle; the merge
    is one join keyed on the entity id. At 100TB the snapshot side
    is date/bucket-partitioned and the join co-locates on the key.
    (Spark cannot broadcast a FULL OUTER equi-join — both sides must
    stream — so the merge is a sort-merge join by construction; a
    broadcastable variant would be the U2 left-merge + U1 anti-insert
    pair.) Idempotent by construction: re-applying the same changelog
    yields the same table (no row versions outside the feed)."""
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("bal")
    ).withColumn("in_snap", F.lit(True))
    ev = load(spark, sf_dir, "events")
    changelog = ev.select(
        F.col("user_id").alias("k"),
        "ts",
        "event_id",
        F.when(F.col("event_id") % 10 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("value").alias("new_bal"),
    )
    # max_by aggregate form of the rank-1 window (guide §2.3, round
    # 17): (ts, event_id) is row-unique, so the aggregate keeps
    # exactly the window's rank-1 row while the changelog collapses
    # per key on the MAP side — the shuffle carries ~|keys| rows
    # instead of every change row, and the per-partition sort is gone.
    latest = latest_per_key_agg(
        changelog, ["k"], "ts", tiebreakers=["event_id"]
    ).select("k", "op", "new_bal")
    merged = cust.join(latest, "k", "full_outer")
    # Presence must come from an explicit flag, not a payload column:
    # a snapshot row whose bal is NULL would make bal.isNotNull()
    # evaluate NULL and silently drop the row the oracle keeps.
    kept = merged.filter(
        (F.col("op").isNull() | (F.col("op") != "D"))
        & (F.col("in_snap").isNotNull() | (F.col("op") == "U"))
    )
    return kept.select(
        F.col("k").alias("c_custkey"),
        F.when(F.col("op") == "U", F.col("new_bal"))
        .otherwise(F.col("bal"))
        .alias("acctbal"),
        F.col("op").isNotNull().alias("touched"),
    )
