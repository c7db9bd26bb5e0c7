"""Data-quality invariant checks — the reference's validation corpus
as runnable operators (SURVEY §5/§7 ``quality.py``).

The reference has no unit tests; its quality net is a set of ad-hoc
assertion queries run against production tables:

- payment-token distribution sanity
  (`adhoc queries/validation_query.sql:17-40`): the blessed currency
  set should dominate; everything else is decode noise.
- eth_value == calculated price consistency
  (`adhoc queries/validation_query.sql:52-63`): two independent
  derivations of the trade price agree on ~all rows.
- transfers ⊇ trx_union reconciliation
  (`adhoc queries/exclude_payment_tokens.sql:83-142`): every trade
  seen by the trx-union pipeline must exist in the token-transfer
  feed; missing rows must be explained.
- date-gap audit (`etl_utls.py:340-357`, run before every ingest by
  `daily_update_script.py`): no missing days in a loaded range.

Each check returns a small metrics/violations DataFrame (never a
boolean — the caller decides thresholds; tests pin them). The checks
compose the SAME fixture derivations the decode queries use, so a
regression in decode surfaces here too.

Scale: every check is a groupBy/anti-join over the fact table —
map-side combinable, no windows, no driver state; the outputs are
metric-sized (rows = #metrics or #violations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from innercircle_etl_spark.functions import decode as DEC
from innercircle_etl_spark.operators.upsert import date_gaps
from innercircle_etl_spark.plans.decode_queries import (
    _atomic_match_calldata,
    _orders_matched_logs,
    d1_decode_log_price,
    d12_trade_decode_pipeline,
)
from innercircle_etl_spark.plans.registry import load, register


def payment_token_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-token trade counts, descending — the distribution the
    reference eyeballs in validation_query.sql:17-40. Returns
    (payment_token, n) with the '<error>' sentinel bucket included
    so its share is visible."""
    calls = _atomic_match_calldata(spark, sf_dir)
    tokens = calls.select(
        DEC.atomic_match_payment_token(F.col("input_data")).alias(
            "payment_token"
        )
    )
    return (
        tokens.groupBy("payment_token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("payment_token"))
    )


def price_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eth_value == price cross-check (validation_query.sql:52-63):
    the kernel-decoded per-trx price against an independent SQL-side
    recomputation from the raw event values. Returns one row per
    trx with both values and a match flag; aggregate in the caller."""
    decoded = d1_decode_log_price(spark, sf_dir)
    ev = load(spark, sf_dir, "events")
    expected = (
        ev.select(
            F.concat(
                F.lit("tx"), F.expr("event_id div 4").cast("string")
            ).alias("trx_hash"),
            (
                (F.round(F.col("value") * 100).cast("long") * F.lit(10000000000))
                / F.lit(1e18)
            )
            .cast("decimal(38,18)")
            .alias("p"),
        )
        .groupBy("trx_hash")
        .agg(F.sum("p").cast("double").alias("expected_price"))
    )
    return decoded.join(expected, "trx_hash").select(
        "trx_hash",
        "price",
        "expected_price",
        (F.col("price") == F.col("expected_price")).alias("consistent"),
    )


def reconciliation_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transfers ⊇ trx_union (exclude_payment_tokens.sql:83-142):
    anti-join the full per-trx transfer set against the decode
    pipeline's output and attach WHY each miss happened. Returns
    (trx_id, explained) — explained misses are trx whose currency
    decode errored (planted % 97 rows) or that have no currency row
    at all; anything else is a real reconciliation failure."""
    transfers = (
        _orders_matched_logs(spark, sf_dir)
        .select(
            F.regexp_replace("trx_hash", "^tx", "").cast("long").alias(
                "trx_id"
            )
        )
        .distinct()
    )
    trx_union = (
        d12_trade_decode_pipeline(spark, sf_dir)
        .select(
            F.regexp_replace("trx_hash", "^tx", "").cast("long").alias(
                "trx_id"
            )
        )
        .distinct()
    )
    missing = transfers.join(trx_union, "trx_id", "left_anti")
    currency_ids = (
        load(spark, sf_dir, "events")
        .select(F.col("event_id").alias("trx_id"))
        .distinct()
    )
    return (
        missing.join(currency_ids.withColumn("has_currency", F.lit(True)),
                     "trx_id", "left")
        .select(
            "trx_id",
            (
                (F.col("trx_id") % 97 == 0)
                | F.col("has_currency").isNull()
            ).alias("explained"),
        )
    )


def date_gap_audit(
    spark: SparkSession, sf_dir: str, start: str, end: str
) -> DataFrame:
    """The pre-ingest gap scan (etl_utls.py:340-357) over the events
    fixture: expected calendar anti-join loaded days."""
    ev = load(spark, sf_dir, "events")
    return date_gaps(ev, "ts", start, end)


_Q1_ORACLE = """
WITH tok AS (
    SELECT CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END AS is_err
    FROM events
),
m1 AS (
    SELECT 'payment_token_decode' AS metric,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(is_err) AS BIGINT) AS n_bad
    FROM tok
),
expected AS (
    SELECT 'tx' || CAST(event_id // 4 AS VARCHAR) AS trx_hash,
           CAST(SUM(CAST((CAST(round(value * 100) AS BIGINT)
                          * 10000000000) / 1e18
                     AS DECIMAL(38,18))) AS DOUBLE) AS expected_price
    FROM events GROUP BY 1
),
decoded AS (
    SELECT 'tx' || CAST(event_id // 4 AS VARCHAR) AS trx_hash,
           CAST(SUM(CAST(('0x' || substr(
                '0x' || lower(lpad(hex(event_id), 64, '0'))
                     || lower(lpad(hex(user_id), 64, '0'))
                     || lower(lpad(hex(CAST(round(value * 100) AS BIGINT)
                                       * 10000000000), 64, '0')),
                3 + 128, 64))::BIGINT / 1e18 AS DECIMAL(38,18)))
             AS DOUBLE) AS price
    FROM events GROUP BY 1
),
m2 AS (
    SELECT 'price_consistency' AS metric,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN d.price = e.expected_price THEN 0 ELSE 1 END)
                AS BIGINT) AS n_bad
    FROM decoded d JOIN expected e ON d.trx_hash = e.trx_hash
),
transfers AS (SELECT DISTINCT event_id // 4 AS trx_id FROM events),
unioned AS (
    SELECT DISTINCT t.trx_id
    FROM transfers t JOIN events e ON t.trx_id = e.event_id
    WHERE e.event_id % 97 <> 0
),
missing AS (
    SELECT t.trx_id FROM transfers t
    LEFT JOIN unioned u ON t.trx_id = u.trx_id
    WHERE u.trx_id IS NULL
),
currency_ids AS (SELECT DISTINCT event_id AS trx_id FROM events),
m3 AS (
    SELECT 'transfers_reconciliation' AS metric,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM transfers) AS n_total,
           CAST(COALESCE(SUM(CASE WHEN m.trx_id % 97 <> 0
                              AND c.trx_id IS NOT NULL
                         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_bad
    FROM missing m LEFT JOIN currency_ids c ON m.trx_id = c.trx_id
),
m4 AS (
    SELECT 'zero_price_trades' AS metric,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN price <= 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bad
    FROM decoded
)
SELECT metric, n_total, n_bad,
       CAST(n_bad AS DOUBLE) / n_total AS bad_rate
FROM (SELECT * FROM m1 UNION ALL SELECT * FROM m2
      UNION ALL SELECT * FROM m3 UNION ALL SELECT * FROM m4)
"""


@register("q1_quality_report", oracle=_Q1_ORACLE)
def q1_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three validation invariants as one metrics frame
    (metric, n_total, n_bad, bad_rate) — the reference's manual
    quality pass turned into a checkable operator."""
    tokens = payment_token_distribution(spark, sf_dir)
    m1 = tokens.agg(
        F.lit("payment_token_decode").alias("metric"),
        F.sum("n").alias("n_total"),
        F.sum(
            F.when(
                F.col("payment_token").startswith("<error>"), F.col("n")
            ).otherwise(F.lit(0))
        ).alias("n_bad"),
    )
    cons = price_consistency(spark, sf_dir)
    m2 = cons.agg(
        F.lit("price_consistency").alias("metric"),
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("consistent"), 0).otherwise(1)).alias("n_bad"),
    )
    miss = reconciliation_missing(spark, sf_dir)
    n_transfers = (
        _orders_matched_logs(spark, sf_dir)
        .select(F.regexp_replace("trx_hash", "^tx", "").cast("long"))
        .distinct()
    )
    m3 = n_transfers.agg(
        F.lit("transfers_reconciliation").alias("metric"),
        F.count(F.lit(1)).alias("n_total"),
    ).crossJoin(
        miss.agg(
            F.coalesce(
                F.sum(F.when(F.col("explained"), 0).otherwise(1)), F.lit(0)
            ).alias("n_bad")
        )
    )
    # the reference's zero-price-trade rate (validation_query.sql:
    # 63-82 — its own verdict: "less than 1% ... weird but fine")
    decoded = d1_decode_log_price(spark, sf_dir)
    m4 = decoded.agg(
        F.lit("zero_price_trades").alias("metric"),
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("price") <= 0, 1).otherwise(0)).alias("n_bad"),
    )
    out = (
        m1.unionByName(m2)
        .unionByName(m3.select("metric", "n_total", "n_bad"))
        .unionByName(m4)
    )
    return out.select(
        "metric",
        "n_total",
        "n_bad",
        (F.col("n_bad").cast("double") / F.col("n_total")).alias("bad_rate"),
    )


_Q2_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderpriority",
    "o_orderdate",
)

_Q2_ORACLE = "\nUNION ALL\n".join(
    f"""
SELECT '{c}' AS col_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       MIN(CAST({c} AS VARCHAR)) AS min_str,
       MAX(CAST({c} AS VARCHAR)) AS max_str
FROM orders"""
    for c in _Q2_COLS
)


@register("q2_column_profile", oracle=_Q2_ORACLE)
def q2_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling — the pre-flight every ingest runs: per
    column, null count, exact distinct count, and lexicographic
    min/max (string-rendered so one schema fits all types).

    ONE pass over the table computes every column's profile
    (count/min/max partial-aggregate map-side; the distincts expand
    per-column but stay inside the same scan), then a unpivot-shaped
    union emits one row per column. At 100TB swap the exact distinct
    for approx_count_distinct (a1b) and the shape is unchanged.
    Profile drift between loads is the cheapest schema-regression
    alarm a pipeline gets (cf. schemas.schema_drift for the typed
    contract check)."""
    orders = load(spark, sf_dir, "orders")
    profiled = orders.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            a
            for c in _Q2_COLS
            for a in (
                F.count(c).alias(f"{c}__nn"),
                F.countDistinct(c).alias(f"{c}__nd"),
                F.min(F.col(c).cast("string")).alias(f"{c}__mn"),
                F.max(F.col(c).cast("string")).alias(f"{c}__mx"),
            )
        ],
    )
    rows = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("__n").alias("n_rows"),
            (F.col("__n") - F.col(f"{c}__nn")).alias("n_nulls"),
            F.col(f"{c}__nd").alias("n_distinct"),
            F.col(f"{c}__mn").alias("min_str"),
            F.col(f"{c}__mx").alias("max_str"),
        )
        for c in _Q2_COLS
    ]
    return profiled.select(
        F.explode(F.array(*rows)).alias("p")
    ).select("p.*")


# -------------------------------------------------- z-score outliers

_Z_T = 3.0

_Q3_ORACLE = f"""
WITH cents AS (
    SELECT l_returnflag AS flag,
           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
    FROM lineitem
),
stats AS (
    SELECT flag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(c) AS BIGINT) AS s,
           CAST(SUM(c * c) AS BIGINT) AS ssq
    FROM cents GROUP BY flag
),
m AS (
    SELECT flag, n, s, ssq,
           CAST(s AS DOUBLE) / n AS mean_c,
           sqrt((ssq - (CAST(s AS DOUBLE) * s) / n) / (n - 1)) AS sd_c
    FROM stats
)
SELECT m.flag,
       m.n,
       CAST(COUNT(CASE WHEN abs(c.c - m.mean_c) > {_Z_T} * m.sd_c
                       THEN 1 END) AS BIGINT) AS n_outliers,
       MAX(abs(c.c - m.mean_c) / m.sd_c) AS max_abs_z
FROM cents c JOIN m ON c.flag = m.flag
GROUP BY m.flag, m.n
"""


@register("q3_outlier_zscores", oracle=_Q3_ORACLE)
def q3_outlier_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 (beyond-parity): per-group z-score outlier audit — the
    distribution-shift tripwire a daily load runs before publishing
    (a decode regression that 100x-es some prices moves max_abs_z
    long before a human notices).

    Cross-engine exactness discipline, end to end: prices quantize
    to integer CENTS first (floor(x*100 + 0.5) — floor is
    deterministic where a round() half-tie is not), so every sum is
    EXACT int64 arithmetic (ssq tops out ~1e17 < 2^63) and the only
    int→double conversions are single correctly-rounded casts —
    avoiding the >2^53 decimal→double divergence w10 documented.
    mean/variance use the textbook one-pass identity on those exact
    sums; sqrt is IEEE-correctly-rounded in both engines, so the
    z-scores are bit-identical. Two-pass shape: a metrics-sized
    stats aggregate broadcast back onto the cents stream — two
    map-side-combinable passes over the scan, no window, no
    driver state."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("c"),
    )
    stats = li.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ssq"),
    )
    m = stats.select(
        "flag",
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("mean_c"),
        F.sqrt(
            (
                F.col("ssq")
                - (F.col("s").cast("double") * F.col("s")) / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("sd_c"),
    )
    z_hit = F.abs(F.col("c") - F.col("mean_c")) > _Z_T * F.col("sd_c")
    return (
        li.join(F.broadcast(m), "flag")
        .groupBy("flag", "n")
        .agg(
            F.count(F.when(z_hit, 1)).alias("n_outliers"),
            F.max(
                F.abs(F.col("c") - F.col("mean_c")) / F.col("sd_c")
            ).alias("max_abs_z"),
        )
        .select("flag", "n", "n_outliers", "max_abs_z")
    )


# ---------------------------------------------------- key-skew report

_Q4_ORACLE = """
SELECT * FROM (
    SELECT 'l_partkey' AS key_col,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(cnt) AS BIGINT) AS max_cnt,
           CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) AS top1_share,
           CAST(SUM(cnt * cnt) AS DOUBLE)
             / (CAST(SUM(cnt) AS DOUBLE) * SUM(cnt)) AS hhi
    FROM (SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM lineitem GROUP BY 1)
    UNION ALL
    SELECT 'l_suppkey',
           CAST(SUM(cnt) AS BIGINT),
           CAST(COUNT(*) AS BIGINT),
           CAST(MAX(cnt) AS BIGINT),
           CAST(MAX(cnt) AS DOUBLE) / SUM(cnt),
           CAST(SUM(cnt * cnt) AS DOUBLE)
             / (CAST(SUM(cnt) AS DOUBLE) * SUM(cnt))
    FROM (SELECT l_suppkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM lineitem GROUP BY 1)
)
"""


@register("q4_key_skew_report", oracle=_Q4_ORACLE)
def q4_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 (beyond-parity): join-key skew profile — the diagnostic a
    planner runs BEFORE sizing salt factors (x11/x12) or trusting
    AQE's skew split: per candidate key column, the distinct-key
    count, the hottest key's row count and share, and the
    Herfindahl concentration (hhi = sum over keys of share² — 1/hhi
    is the effective number of keys; hhi near 1 means one key owns
    the shuffle and salting is mandatory).

    Exactness: counts are exact ints; sum(cnt²) stays in int64
    (cnt ≤ |table|, so the sum is bounded by |table|² ~ 3.6e11 at
    sf0.1 — far inside 2^63); shares and hhi are single double
    divisions of under-2^53 integers (the w10 casting rule), so the
    values hash-match the oracle. Plan: one groupBy per profiled
    column (map-side combinable), each collapsing to a 1-row
    profile; the union is metrics-sized."""

    def profile(col: str) -> DataFrame:
        cnts = (
            load(spark, sf_dir, "lineitem")
            .groupBy(F.col(col).alias("k"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return cnts.agg(
            F.lit(col).alias("key_col"),
            F.sum("cnt").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("cnt").alias("max_cnt"),
            (
                F.max("cnt").cast("double") / F.sum("cnt")
            ).alias("top1_share"),
            (
                F.sum(F.col("cnt") * F.col("cnt")).cast("double")
                / (F.sum("cnt").cast("double") * F.sum("cnt"))
            ).alias("hhi"),
        )

    return profile("l_partkey").unionByName(profile("l_suppkey"))


_Q5_ORACLE = """
SELECT 'lineitem.l_orderkey->orders' AS relation,
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_child,
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey))
         AS BIGINT) AS n_orphans
UNION ALL
SELECT 'orders.o_custkey->customer',
       (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'customer.c_nationkey->nation',
       (SELECT COUNT(*) FROM customer),
       (SELECT COUNT(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM nation n
                          WHERE n.n_nationkey = c.c_nationkey))
UNION ALL
SELECT 'lineitem.l_partkey->part',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p
                          WHERE p.p_partkey = l.l_partkey))
UNION ALL
SELECT 'lineitem.l_suppkey->supplier',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM supplier s
                          WHERE s.s_suppkey = l.l_suppkey))
"""


@register("q5_referential_integrity", oracle=_Q5_ORACLE)
def q5_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 (beyond-parity): referential-integrity audit — orphan
    counts for every foreign-key relation in the star schema, the
    daily-load tripwire q1-q4 stop short of (a load that drops a
    dimension partition shows up here before any join silently
    shrinks). Each relation is one left join
    to the parent's DEDUPLICATED key set plus a conditional count
    over a single pruned fact scan. The parent side is distinct (a
    double-loaded dimension partition must not multiply child rows
    — that would corrupt the very audit meant to catch it) and
    deliberately UN-hinted: AQE broadcasts the genuinely small key
    sets, while a fact-scaled parent (orders is 1:4 with lineitem —
    billions of keys at 100 TB) shuffle-joins instead of OOMing the
    driver with a forced broadcast (the text_boilerplate_scrub
    convention).

    Reference parity: the reference's validation corpus checks row
    counts and nulls (SURVEY §5); FK orphan auditing is the
    beyond-parity completion of that family."""
    def orphans(child: str, ckey: str, parent: str, pkey: str):
        c = load(spark, sf_dir, child).select(F.col(ckey).alias("k"))
        p = (
            load(spark, sf_dir, parent)
            .select(F.col(pkey).alias("k"))
            .distinct()
            .withColumn("__hit", F.lit(1))
        )
        # ONE pass: left join to the broadcast key set + conditional
        # count (the first cut aggregated child and anti-join counts
        # as two separate 1-row frames cross-joined per relation —
        # 65 s of tiny-job scheduling at sf0.01; this form is one
        # job per relation)
        return c.join(p, "k", "left").agg(
            F.lit(f"{child}.{ckey}->{parent}").alias("relation"),
            F.count(F.lit(1)).cast("long").alias("n_child"),
            F.count(F.when(F.col("__hit").isNull(), 1))
            .cast("long")
            .alias("n_orphans"),
        )

    return (
        orphans("lineitem", "l_orderkey", "orders", "o_orderkey")
        .unionByName(orphans("orders", "o_custkey", "customer", "c_custkey"))
        .unionByName(orphans("customer", "c_nationkey", "nation", "n_nationkey"))
        .unionByName(orphans("lineitem", "l_partkey", "part", "p_partkey"))
        .unionByName(orphans("lineitem", "l_suppkey", "supplier", "s_suppkey"))
    )
