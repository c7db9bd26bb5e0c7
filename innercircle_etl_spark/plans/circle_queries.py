"""Entry point 4: circle-cohort assembly (SURVEY §3,
update_etl.py:836-920 ``update_circle_insider``).

The reference builds its ``insider_to_circle_mapping`` daily:

- circle 1, "top 200 whales": wallets ranked by total portfolio
  worth, admitted only if their top-3 collections hold < 90% of that
  worth (concentration guard — update_etl.py:848-858);
- circle 2, "most profitable traders": wallets whose best collection
  is profitable but contributes < 90% of a positive total gain ("no
  one-trade wonders", update_etl.py:864-884), top 200 by total gain,
  enriched with the whale rank;
- the union feeds insert-if-absent into ``insider`` (the U1
  operator) and an SCD-2-lite mapping: all prior rows are flipped
  ``is_current = false``, the fresh cohort is appended ``true``
  (update_etl.py:906-920 — the i5 flag-flip operator at cohort
  granularity).

Here the whole thing is ONE DataFrame DAG over the lineitem fact
(same column vocabulary as ep3), composed from the shared cascade
core (``_cet_roi_body``). Two deterministic SCD generations replace
the reference's wall-clock cadence: the "yesterday" cohort is the
cascade on data before 1998-01-01, the "today" cohort on all data —
fixed literals, no now(). Both generations run as one gen-keyed
cascade: the fact is tagged ``gen`` (1 = all rows, 0 = the rows
before the cutoff), pinned once by coll, and ``gen`` leads every
key, window partition and join, so the two cohorts share every
stage without mixing.

Scale notes: every aggregate is a map-side-combinable groupBy on
(gen, wallet) or (gen, wallet, coll); the only gen-wide windows
(address_rank, the two top-200 selections) run on the
POST-AGGREGATION wallet dimension (|wallets| rows per generation,
not |fact|) — same dimension-sized-window argument as the ngram
vocab rank; both top-200 selections compile to WindowGroupLimit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from innercircle_etl_spark.plans.registry import dsum, register
from innercircle_etl_spark.plans.roi_cascade import (
    _cet_roi_body,
    cet_roi_ctes,
    load_fact,
    pin_by_coll,
)

_N_CIRCLE = 200
_PREV_CUTOFF = "1998-01-01"
_CURR_STAMP = "1998-12-01"


def _circle_ctes(s: str) -> str:
    """Both circles for one SCD generation (fact{s}/cet_roi{s} must
    already be in scope via cet_roi_ctes(s, ...))."""
    return f"""
worth{s} AS (
    SELECT wallet, coll,
           CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE) AS coll_worth
    FROM fact{s} GROUP BY wallet, coll
),
ww{s} AS (
    SELECT wallet,
           CAST(SUM(CAST(coll_worth AS DECIMAL(38,6))) AS DOUBLE)
             AS total_worth
    FROM worth{s} GROUP BY wallet
),
rankedw{s} AS (
    SELECT wallet, total_worth,
           CAST(row_number() OVER (ORDER BY total_worth DESC, wallet ASC)
                AS INTEGER) AS address_rank
    FROM ww{s}
),
top3{s} AS (
    SELECT wallet, coll_worth FROM (
        SELECT wallet, coll_worth,
               row_number() OVER (PARTITION BY wallet
                                  ORDER BY coll_worth DESC, coll ASC) AS rnk
        FROM worth{s}
    ) WHERE rnk <= 3
),
guard{s} AS (
    SELECT t.wallet FROM (
        SELECT wallet,
               CAST(SUM(CAST(coll_worth AS DECIMAL(38,6))) AS DOUBLE)
                 AS top3_worth
        FROM top3{s} GROUP BY wallet
    ) t JOIN ww{s} w ON t.wallet = w.wallet
    WHERE t.top3_worth / w.total_worth < 0.9
),
circle1{s} AS (
    SELECT r.wallet AS insider_id, r.address_rank, 1 AS circle
    FROM rankedw{s} r JOIN guard{s} g ON r.wallet = g.wallet
    ORDER BY r.address_rank LIMIT {_N_CIRCLE}
),
best{s} AS (
    SELECT wallet, coll_gain AS best_gain FROM (
        SELECT wallet, coll_gain,
               row_number() OVER (PARTITION BY wallet
                                  ORDER BY coll_gain DESC, coll ASC) AS rnk
        FROM cet_roi{s}
    ) WHERE rnk = 1
),
tot{s} AS (
    SELECT wallet,
           CAST(SUM(CAST(coll_gain AS DECIMAL(38,6))) AS DOUBLE)
             AS total_gain
    FROM cet_roi{s} GROUP BY wallet
),
toproi{s} AS (
    SELECT b.wallet, t.total_gain
    FROM best{s} b JOIN tot{s} t ON b.wallet = t.wallet
    WHERE t.total_gain > 0 AND b.best_gain > 0
      AND b.best_gain / t.total_gain < 0.9
    ORDER BY t.total_gain DESC, b.wallet ASC LIMIT {_N_CIRCLE}
),
circle2{s} AS (
    SELECT c.wallet AS insider_id, r.address_rank, 2 AS circle
    FROM toproi{s} c LEFT JOIN rankedw{s} r ON c.wallet = r.wallet
),
staging{s} AS (
    SELECT * FROM circle1{s} UNION ALL SELECT * FROM circle2{s}
)"""


_EP4_ORACLE = f"""
WITH {cet_roi_ctes("_p", f"l_shipdate < DATE '{_PREV_CUTOFF}'")},
{cet_roi_ctes("_c", "1=1")},
{_circle_ctes("_p")},
{_circle_ctes("_c")}
SELECT insider_id, address_rank, circle,
       DATE '{_PREV_CUTOFF}' AS created_at, false AS is_current
FROM staging_p
UNION ALL
SELECT insider_id, address_rank, circle,
       DATE '{_CURR_STAMP}' AS created_at, true AS is_current
FROM staging_c
"""


def _top_per_gen(df: DataFrame, *order) -> DataFrame:
    """The first ``_N_CIRCLE`` rows of each generation by ``order``
    (unique within a generation): a per-gen row_number filter, which
    Catalyst plans as WindowGroupLimit."""
    n = F.row_number().over(Window.partitionBy("gen").orderBy(*order))
    return df.withColumn("__n", n).filter(F.col("__n") <= _N_CIRCLE)


def _circle_staging(fact: DataFrame) -> DataFrame:
    """Both circles of every SCD generation of a gen-tagged fact
    pinned by coll, as one DAG: ``gen`` leads every key, so the
    generations share each stage without mixing."""
    # circle 1 — whale worth with concentration guard. The pin's
    # coll partitioning clusters (gen, wallet, coll): no exchange
    worth = fact.groupBy("gen", "wallet", "coll").agg(
        dsum("price").alias("coll_worth")
    )
    ww = worth.groupBy("gen", "wallet").agg(
        dsum("coll_worth").alias("total_worth")
    )
    top3 = worth.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("gen", "wallet").orderBy(
                F.col("coll_worth").desc(), F.col("coll")
            )
        ),
    ).filter(F.col("rnk") <= 3)
    guard = (
        top3.groupBy("gen", "wallet")
        .agg(dsum("coll_worth").alias("top3_worth"))
        .join(ww, ["gen", "wallet"])
        .filter(F.col("top3_worth") / F.col("total_worth") < 0.9)
    )
    # address_rank orders wallets by (total_worth desc, wallet), so
    # that order picks the oracle's top 200 by rank; the rank itself
    # is joined on once, below, for both circles
    circle1 = _top_per_gen(
        guard, F.col("total_worth").desc(), F.col("wallet")
    ).select("gen", "wallet", F.lit(1).alias("circle"))

    # circle 2 — top traders from the shared ROI cascade core. The
    # best position's gain is max(coll_gain), so best and total fold
    # into one groupBy: cet has a single consumer and needs no cache
    gains = _cet_roi_body(fact, ["gen"]).groupBy("gen", "wallet").agg(
        F.max("coll_gain").alias("best_gain"),
        dsum("coll_gain").alias("total_gain"),
    )
    circle2 = _top_per_gen(
        gains.filter(
            (F.col("total_gain") > 0)
            & (F.col("best_gain") > 0)
            & (F.col("best_gain") / F.col("total_gain") < 0.9)
        ),
        F.col("total_gain").desc(),
        F.col("wallet"),
    ).select("gen", "wallet", F.lit(2).alias("circle"))

    # per-gen rank over the wallet DIMENSION (post-aggregation), not
    # the fact table — bounded by |wallets|. One lookup serves both
    # circles: every AQE exchange over the pin runs its own stage
    # (no reuse across copies), so each extra consumer of ww re-reads
    # the fact
    ranked_w = ww.select(
        "gen",
        "wallet",
        F.row_number()
        .over(
            Window.partitionBy("gen").orderBy(
                F.col("total_worth").desc(), F.col("wallet")
            )
        )
        .cast("int")
        .alias("address_rank"),
    )
    return (
        circle1.unionByName(circle2)
        .join(ranked_w, ["gen", "wallet"], "left")
        .select(
            "gen",
            F.col("wallet").alias("insider_id"),
            "address_rank",
            "circle",
        )
    )


@register("ep4_circles", oracle=_EP4_ORACLE)
def ep4_circles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP4: the circle-cohort mapping with its SCD flag flip — see
    module docstring. Output = the post-merge
    ``insider_to_circle_mapping``: yesterday's cohort (gen 0) flipped
    ``is_current=false``, today's (gen 1) appended ``true``."""
    fact = load_fact(spark, sf_dir)
    tagged = fact.withColumn("gen", F.lit(1)).unionByName(
        fact.filter(
            F.col("ev_date") < F.lit(_PREV_CUTOFF).cast("date")
        ).withColumn("gen", F.lit(0))
    )
    curr = F.col("gen") == 1
    return _circle_staging(pin_by_coll(tagged)).select(
        "insider_id",
        "address_rank",
        "circle",
        F.when(curr, F.lit(_CURR_STAMP))
        .otherwise(F.lit(_PREV_CUTOFF))
        .cast("date")
        .alias("created_at"),
        curr.alias("is_current"),
    )


# ------------------------------------------------- ep7: posts feed

# ep7 cutoffs tuned to the fixture's 1995-2001 ship-date span:
# collections first acquired before _EP7_PREV are "already mapped"
# (the insert-if-absent's old side, ~half the collections); the
# post-date guard drops the earliest month (the reference's
# started_at >= '2021-06-01' hack).
_EP7_PREV = "1995-04-01"
_POST_CUTOFF = "1995-02-01"

_EP7_ORACLE = f"""
WITH fact AS (
    SELECT l_suppkey AS wallet, l_partkey AS coll, l_shipdate AS ev_date,
           l_extendedprice AS price, l_returnflag AS flag
    FROM lineitem
),
worth AS (
    SELECT wallet,
           CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE) AS total_worth
    FROM fact GROUP BY wallet
),
insiders AS (
    SELECT wallet FROM (
        SELECT wallet, row_number() OVER (
            ORDER BY total_worth DESC, wallet ASC) AS rnk
        FROM worth
    ) WHERE rnk <= {_N_CIRCLE}
),
buys AS (
    SELECT f.wallet, f.coll, f.ev_date, f.price
    FROM fact f JOIN insiders i ON f.wallet = i.wallet
    WHERE f.flag <> 'R'
),
-- collection_to_circle_mapping: first insider acquisition per
-- collection; "old" rows are those already discoverable before the
-- prev cutoff — the insert-if-absent keeps only NEW collections
curr_map AS (SELECT coll, MIN(ev_date) AS started_at FROM buys GROUP BY coll),
old_map AS (
    SELECT coll, MIN(ev_date) AS started_at FROM buys
    WHERE ev_date < DATE '{_EP7_PREV}' GROUP BY coll
),
new_map AS (
    SELECT n.coll, n.started_at
    FROM curr_map n LEFT JOIN old_map o ON n.coll = o.coll
    WHERE o.coll IS NULL AND n.started_at >= DATE '{_POST_CUTOFF}'
),
-- insight importance per (insider, collection): spend-weighted
scores AS (
    SELECT wallet, coll,
           CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE) AS score
    FROM buys GROUP BY wallet, coll
),
top3 AS (
    SELECT coll, score FROM (
        SELECT coll, score, row_number() OVER (
            PARTITION BY coll ORDER BY score DESC, wallet ASC) AS rnk
        FROM scores
    ) WHERE rnk <= 3
),
fis AS (
    SELECT coll,
           CAST(SUM(CAST(score AS DECIMAL(38,6))) AS DOUBLE)
             AS feed_importance_score
    FROM top3 GROUP BY coll
)
SELECT n.coll AS collection_id,
       n.started_at + INTERVAL 1 DAY AS created_at,
       COALESCE(f.feed_importance_score, 0.0) AS feed_importance_score
FROM new_map n LEFT JOIN fis f ON n.coll = f.coll
"""


@register("ep7_posts", oracle=_EP7_ORACLE)
def ep7_posts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP7: the posts tail of the reference pipeline
    (update_circle_collection + update_post, update_etl.py:1091-1214)
    as one DAG: collections newly acquired by the insider cohort
    (insert-if-absent against the pre-cutoff generation — U1 shape),
    posted a day after first acquisition, scored by the sum of their
    top-3 insight importances (W3 top-per-group + rollup — the
    reference's 'insights beyond 3 are hidden by UI' rule).

    Scale: insider selection is a TakeOrdered top-200; all joins are
    keyed on coll/wallet; the only windows are per-collection top-3
    and the dimension-sized insider rank."""
    fact = load_fact(spark, sf_dir)
    worth = fact.groupBy("wallet").agg(dsum("price").alias("total_worth"))
    insiders = (
        worth.orderBy(F.col("total_worth").desc(), F.col("wallet"))
        .limit(_N_CIRCLE)
        .select("wallet")
    )
    buys = (
        fact.filter(F.col("flag") != "R")
        .join(F.broadcast(insiders), "wallet")
        .select("wallet", "coll", "ev_date", "price")
    )

    curr_map = buys.groupBy("coll").agg(F.min("ev_date").alias("started_at"))
    old_map = (
        buys.filter(F.col("ev_date") < F.lit(_EP7_PREV).cast("date"))
        .groupBy("coll")
        .agg(F.min("ev_date").alias("started_at"))
    )
    new_map = curr_map.join(old_map.select("coll"), "coll", "left_anti").filter(
        F.col("started_at") >= F.lit(_POST_CUTOFF).cast("date")
    )

    scores = buys.groupBy("wallet", "coll").agg(dsum("price").alias("score"))
    w3 = Window.partitionBy("coll").orderBy(
        F.col("score").desc(), F.col("wallet")
    )
    fis = (
        scores.withColumn("rnk", F.row_number().over(w3))
        .filter(F.col("rnk") <= 3)
        .groupBy("coll")
        .agg(dsum("score").alias("feed_importance_score"))
    )
    return new_map.join(fis, "coll", "left").select(
        F.col("coll").alias("collection_id"),
        F.date_add("started_at", 1).cast("timestamp").alias("created_at"),
        F.coalesce(F.col("feed_importance_score"), F.lit(0.0)).alias(
            "feed_importance_score"
        ),
    )
