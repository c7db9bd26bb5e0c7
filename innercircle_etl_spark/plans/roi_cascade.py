"""Entry point 3 end-to-end: the trading-ROI cascade (SURVEY §3,
update_etl.py:635-834) as ONE lazily-built DataFrame DAG.

The reference materializes six Postgres temp tables with manual
indexes (trx_with_floor_price → cet_buy/cet_sell → trade_roi_flat →
cet_roi → past_90_days_trading_roi → insider filter). Here the whole
cascade is a single plan: Catalyst fuses the projections, the fact
shuffles once by collection into a pin that every grouping and the
as-of join run inside with no exchange of their own, the deduped
latest-floor side broadcasts, and the only global sort is the final
top-K — TakeOrderedAndProject, not a full sort.

Mapping onto the synthetic lineitem fact table:
  wallet = l_suppkey, collection = l_partkey, event date =
  l_shipdate, price = l_extendedprice; 'R'-flag rows are the sell
  leg, others the buy leg (J8: two projections of one fact).
Stages exercised: A8 floor percentile → W1 latest floor → J7 as-of
buy→sell → J9 floor fallback → A3/A7 rollup → W3 top-collections →
A11 wallet rollup → O1 global top-K.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from innercircle_etl_spark.operators.asof import asof_join
from innercircle_etl_spark.operators.percentiles import percentile_disc
from innercircle_etl_spark.operators.window_dedup import latest_per_key
from innercircle_etl_spark.plans.registry import dsum, load, register

_TOP_WALLETS = 100


def cet_roi_ctes(s: str = "", where: str = "1=1") -> str:
    """The fact→cet_roi CTE chain as oracle-SQL text, suffixed with
    ``s`` and filtered by ``where`` so ep4's oracle can instantiate it
    once per SCD generation alongside ep3's single use. The Spark side
    runs both generations in one pass instead (``_cet_roi_body`` with
    ``extra_keys=("gen",)``)."""
    return f"""
fact{s} AS (
    SELECT l_suppkey AS wallet, l_partkey AS coll, l_shipdate AS ev_date,
           l_extendedprice AS price, l_returnflag AS flag,
           l_orderkey AS okey, l_linenumber AS line
    FROM lineitem WHERE {where}
),
floor_daily{s} AS (
    SELECT coll, ev_date,
           percentile_disc(0.2) WITHIN GROUP (ORDER BY price) AS floor_price
    FROM fact{s} GROUP BY coll, ev_date
),
latest_floor{s} AS (
    SELECT coll, floor_price FROM (
        SELECT coll, floor_price,
               row_number() OVER (PARTITION BY coll
                                  ORDER BY ev_date DESC) AS rn
        FROM floor_daily{s}
    ) WHERE rn = 1
),
buys{s} AS (
    SELECT wallet, coll, ev_date AS buy_date, price AS buy_price
    FROM fact{s} WHERE flag <> 'R'
),
sells{s} AS (
    SELECT wallet, coll, ev_date AS sell_date, price AS sell_price,
           okey AS s_okey, line AS s_line
    FROM fact{s} WHERE flag = 'R'
),
-- as-of at (wallet, coll, buy_date) granularity: the first-sell
-- match depends only on those three, and the synthetic fact table
-- has no unique row key to anchor a per-row window on
buy_keys{s} AS (
    SELECT DISTINCT wallet, coll, buy_date FROM buys{s}
),
matched{s} AS (
    SELECT wallet, coll, buy_date, m_sell_price FROM (
        SELECT b.*,
               CASE WHEN s.sell_date >= b.buy_date
                    THEN s.sell_price END AS m_sell_price,
               row_number() OVER (
                   PARTITION BY b.wallet, b.coll, b.buy_date
                   ORDER BY (CASE WHEN s.sell_date >= b.buy_date
                                  THEN s.sell_date END) ASC NULLS LAST,
                            (CASE WHEN s.sell_date >= b.buy_date
                                  THEN s.s_okey END) ASC NULLS LAST,
                            (CASE WHEN s.sell_date >= b.buy_date
                                  THEN s.s_line END) ASC NULLS LAST,
                            (CASE WHEN s.sell_date >= b.buy_date
                                  THEN s.sell_price END) ASC NULLS LAST
               ) AS rn
        FROM buy_keys{s} b
        LEFT JOIN sells{s} s ON b.wallet = s.wallet AND b.coll = s.coll
    ) WHERE rn = 1
),
gains{s} AS (
    SELECT b.wallet, b.coll, b.buy_date,
           coalesce(m.m_sell_price, f.floor_price) - b.buy_price AS gain,
           (m.m_sell_price IS NOT NULL) AS realized
    FROM buys{s} b
    JOIN matched{s} m ON b.wallet = m.wallet AND b.coll = m.coll
                  AND b.buy_date = m.buy_date
    JOIN latest_floor{s} f ON b.coll = f.coll
),
cet_roi{s} AS (
    SELECT wallet, coll,
           CAST(COUNT(*) AS BIGINT) AS n_buys,
           CAST(SUM(CASE WHEN realized THEN 1 ELSE 0 END) AS BIGINT)
             AS n_realized,
           MIN(buy_date) AS first_buy_date,
           CAST(SUM(CAST(gain AS DECIMAL(38,6))) AS DOUBLE) AS coll_gain
    FROM gains{s} GROUP BY wallet, coll
)"""


_EP3_ORACLE = """
WITH %(ctes)s,
ranked AS (
    SELECT *, CAST(row_number() OVER (
               PARTITION BY wallet
               ORDER BY coll_gain DESC, coll ASC) AS INTEGER) AS coll_rank
    FROM cet_roi
),
wallet_tot AS (
    SELECT wallet,
           CAST(SUM(CAST(coll_gain AS DECIMAL(38,6))) AS DOUBLE)
             AS wallet_gain
    FROM cet_roi GROUP BY wallet
),
top_wallets AS (
    SELECT wallet, wallet_gain,
           CAST(row_number() OVER (ORDER BY wallet_gain DESC, wallet ASC)
                AS INTEGER) AS wallet_rank
    FROM wallet_tot
    ORDER BY wallet_rank LIMIT %(k)s
)
SELECT t.wallet, t.wallet_rank, t.wallet_gain,
       r.coll, r.coll_rank, r.coll_gain,
       r.n_buys, r.n_realized, r.first_buy_date
FROM top_wallets t JOIN ranked r ON t.wallet = r.wallet
WHERE r.coll_rank <= 3
""" % {"k": _TOP_WALLETS, "ctes": cet_roi_ctes()}


def load_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lineitem fact table in trading-cascade vocabulary (see
    module docstring for the column mapping)."""
    return load(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("wallet"),
        F.col("l_partkey").alias("coll"),
        F.col("l_shipdate").alias("ev_date"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_returnflag").alias("flag"),
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("line"),
    )


def pin_by_coll(fact: DataFrame) -> DataFrame:
    """The single-pass fact form shared by build_cet_roi (ep3), ep4
    and ep5 (round-7 A/B, numbers in SCALE.md): ONE fact scan,
    repartitioned by ``coll`` and pinned. Every downstream grouping
    clusters on a superset of {coll} (floor: (coll, ev_date); latest
    floor: (coll); ep5's legs: (wallet, coll, ev_date, is_sell)), so
    Catalyst's ClusteredDistribution is satisfied by the existing
    HashPartitioning and those stages add NO exchange. The as-of
    union keeps it as well (Spark 4.1's
    ``spark.sql.unionOutputPartitioning``), so the (wallet, coll)
    rollup after it adds none either. Against the lazy multi-scan
    form it saves two pruned fact scans + the floor's
    full-cardinality exchange and pays one full-width exchange + the
    pin (MEMORY_AND_DISK — spills like shuffle data at cluster
    scale, never OOMs the executors). Measured min-of-3, sf1: warm
    5.62 vs 5.80, fadvise-cold 5.90 vs 6.61, and the lazy form's
    worst rep under
    host cache reclaim hit 95.8s vs fused 10.0s — the 3x-scan IO
    exposure the round-6 verdict flagged."""
    fact = fact.repartition(F.col("coll")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    fact.count()  # eager fill: lazy-cache races cost more
    return fact


def build_cet_roi(fact: DataFrame) -> DataFrame:
    """fact → per-(wallet, collection) ROI rollup (the reference's
    cet_roi, update_etl.py:635-798): floor percentile → latest floor
    → as-of buy/sell match → floor fallback → rollup, over the
    single-pass pinned fact (pin_by_coll), for the ep3 top-K cascade.
    ep4 pins the plain fact itself, tags the SCD generations over the
    pin and calls the body with ``extra_keys``."""
    return _cet_roi_body(pin_by_coll(fact))


def _cet_roi_body(
    fact: DataFrame, extra_keys: Sequence[str] = ()
) -> DataFrame:
    """The cascade over a pinned fact. ``extra_keys`` lead every key
    (floor percentile, latest floor, as-of, floor join, rollup), so
    one pass computes an independent cascade per key value: ep4 runs
    both SCD generations at once with ``extra_keys=("gen",)``. The
    pin's coll partitioning still satisfies every coll-superset
    grouping."""
    k = list(extra_keys)
    # A8: daily floor percentile, then W1: latest floor per collection
    floor_daily = percentile_disc(
        fact, [*k, "coll", "ev_date"], "price", 0.2, out_col="floor_price"
    )
    latest_floor = latest_per_key(
        floor_daily, [*k, "coll"], "ev_date"
    ).select(*k, "coll", "floor_price")

    # J8: buy/sell legs as two projections of the one fact table
    buys = fact.filter(F.col("flag") != "R").select(
        *k,
        "wallet",
        "coll",
        F.col("ev_date").alias("buy_date"),
        F.col("price").alias("buy_price"),
    )
    sells = fact.filter(F.col("flag") == "R").select(
        *k,
        "wallet",
        "coll",
        F.col("ev_date").alias("sell_date"),
        F.col("price").alias("sell_price"),
        F.col("okey").alias("s_okey"),
        F.col("line").alias("s_line"),
    )

    # J7: earliest sell at-or-after each buy. The buy PAYLOAD rides
    # through the merge-scan directly: every left row independently
    # carries the running best-match, so duplicate (wallet, coll,
    # buy_date) buys each receive the identical match the oracle's
    # per-key row_number picks — no distinct pre-pass and no
    # join-back afterwards (round 3 staged the scan at buy-key grain
    # and joined buys back on; that cost two extra exchanges per run
    # and was 47% of the round-3 bench headline). sell_price joins
    # the tiebreak chain so ties between duplicate sell rows resolve
    # identically everywhere.
    matched = asof_join(
        buys,
        sells,
        keys=[*k, "wallet", "coll"],
        left_on="buy_date",
        right_on="sell_date",
        direction="forward",
        strict=False,
        right_tiebreakers=["s_okey", "s_line", "sell_price"],
    ).select(*k, "wallet", "coll", "buy_date", "buy_price", "r_sell_price")

    # J9: latest-floor fallback for unrealized positions
    gains = (
        matched.join(F.broadcast(latest_floor), [*k, "coll"])
        .select(
            *k,
            "wallet",
            "coll",
            "buy_date",
            (
                F.coalesce(F.col("r_sell_price"), F.col("floor_price"))
                - F.col("buy_price")
            ).alias("gain"),
            F.col("r_sell_price").isNotNull().alias("realized"),
        )
    )

    # A3/A7: per-(wallet, collection) rollup
    return gains.groupBy(*k, "wallet", "coll").agg(
        F.count(F.lit(1)).alias("n_buys"),
        F.sum(F.when(F.col("realized"), 1).otherwise(0)).alias("n_realized"),
        F.min("buy_date").alias("first_buy_date"),
        dsum("gain").alias("coll_gain"),
    )


@register("ep3_roi_cascade", oracle=_EP3_ORACLE)
def ep3_roi_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ROI cascade as one DAG — see module docstring.

    Tail structure (reworked round 5; was 7.2s, now ~3.8s at sf0.1):
    ``cet_roi`` is the natural materialization point — the
    reference's cet_roi temp table (update_etl.py:760-798) — and it
    used to feed two UNMATERIALIZED consumers (the per-wallet rank
    window and the wallet-total groupBy), recomputing the whole
    percentile → as-of → rollup chain twice per run. Now it's pinned
    with one eager localCheckpoint, and BOTH the collection rank and
    the wallet total ride a single wallet-partitioned exchange: the
    W3 row_number and an A11 windowed sum share the same
    ``partitionBy("wallet")``, so Catalyst plans one shuffle and one
    sort for the pair. The global top-K then needs only the
    coll_rank=1 row per wallet (already carrying wallet_gain) —
    a sorted limit (TakeOrderedAndProject) whose K rows broadcast
    back onto the ranked rows."""
    cet_roi = build_cet_roi(load_fact(spark, sf_dir))

    # W3 + A11 on ONE wallet-partitioned exchange: rank within wallet
    # and the wallet's total gain (decimal-exact windowed sum — the
    # window form of dsum, order-independent by decimal exactness).
    # The pin moved from cet_roi to `ranked` (round 16, guide §2.4):
    # ranked has TWO consumers (the top-K subtree and the final
    # coll_rank<=3 output), so pinning upstream of the window left
    # the wallet exchange + sort + both window functions running
    # twice per query — same grain (wallet x coll), same memory
    # footprint, one pass instead of two, and the cascade still runs
    # exactly once (inside this checkpoint's build).
    wpart = Window.partitionBy("wallet")
    ranked = cet_roi.withColumn(
        "coll_rank",
        F.row_number()
        .over(wpart.orderBy(F.col("coll_gain").desc(), F.col("coll").asc()))
        .cast("int"),
    ).withColumn(
        "wallet_gain",
        F.sum(F.col("coll_gain").cast("decimal(38,6)"))
        .over(wpart)
        .cast("double"),
    ).localCheckpoint(eager=True)

    # O1: global top-K wallets — the coll_rank=1 row is exactly one
    # row per wallet and already carries wallet_gain, so the sorted
    # limit sees |wallets| rows, and the single-partition rank window
    # only ever sees the K<<N pre-limited output.
    top = (
        ranked.filter(F.col("coll_rank") == 1)
        .select("wallet", "wallet_gain")
        .orderBy(F.col("wallet_gain").desc(), F.col("wallet").asc())
        .limit(_TOP_WALLETS)
        .withColumn(
            "wallet_rank",
            F.row_number()
            .over(
                Window.orderBy(
                    F.col("wallet_gain").desc(), F.col("wallet").asc()
                )
            )
            .cast("int"),
        )
        .select("wallet", "wallet_rank")
    )

    return (
        ranked.filter(F.col("coll_rank") <= 3)
        .join(F.broadcast(top), "wallet")
        .select(
            "wallet",
            "wallet_rank",
            "wallet_gain",
            "coll",
            "coll_rank",
            "coll_gain",
            "n_buys",
            "n_realized",
            "first_buy_date",
        )
    )
