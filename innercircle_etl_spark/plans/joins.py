"""Join operators (SURVEY §2.4 J1-J11) over the synthetic tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from innercircle_etl_spark.operators.asof import asof_join
from innercircle_etl_spark.operators.window_dedup import latest_per_key_agg
from innercircle_etl_spark.plans.registry import (
    dsum,
    duck_dsum,
    load,
    register,
    scratch_dir,
)


@register(
    "j1_multiway_join",
    oracle=f"""
    SELECT n.n_name,
           {duck_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY n.n_name
    """,
)
def j1_multiway_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: multi-way inner equi-join — transfers ⋈ contracts ⋈
    transactions (reference: update_etl.py:309-341, hand-indexed at
    :343). Spark-first: small dims (nation, customer at this scale)
    are broadcast — no shuffle for them; the lineitem⋈orders join
    shuffles once on orderkey. The reference's manual CREATE INDEX
    becomes Catalyst's join-strategy choice."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "j2_left_enrich",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o
    LEFT JOIN customer c
      ON o.o_custkey = c.c_custkey AND c.c_acctbal > 5000
    """,
)
def j2_left_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2+J3: left outer equi-join with an extra predicate inside the
    ON clause — predicate-in-ON preserves left rows, unlike a WHERE
    (reference: update_etl.py:334-337, :648-651). The dim side is
    broadcast."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    cond = (orders.o_custkey == cust.c_custkey) & (cust.c_acctbal > 5000)
    return orders.join(F.broadcast(cust), cond, "left").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@register(
    "j3_range_in_on",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_shipped_within_30d,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders o
    LEFT JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
    GROUP BY o.o_orderpriority
    """,
)
def j3_range_in_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: left join with compound time-bounded ON — the reference's
    half-open `ts >= d AND ts < d + interval '1 day'` inside the ON
    (update_etl.py:332-339). The equi part (orderkey) still drives a
    hash/sort-merge join; the range is a post-join filter evaluated
    inside the join — no cartesian."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cond = (
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate >= orders.o_orderdate)
        & (li.l_shipdate < orders.o_orderdate + F.expr("INTERVAL 30 DAYS"))
    )
    return (
        orders.join(li, cond, "left")
        .groupBy("o_orderpriority")
        .agg(
            F.count("l_orderkey").alias("n_shipped_within_30d"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "j4_left_anti",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
    """,
)
def j4_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: left anti join — the reference's `LEFT JOIN ... WHERE key
    IS NULL` new-rows/missing detection (etl_utls.py:146-154,
    update_etl.py:186-189)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 200000
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "j5_left_semi",
    oracle="""
    SELECT c.c_custkey, c.c_acctbal
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000
    )
    """,
)
def j5_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: left semi join — IN-subquery membership (reference:
    update_etl.py:500-506, :822-833 insider filters)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 200000
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_acctbal")


@register(
    "j6_double_anti",
    oracle="""
    SELECT p.p_partkey, p.p_brand
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 45
    )
    AND NOT EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_partkey = p.p_partkey AND l2.l_discount > 0.09
    )
    """,
)
def j6_double_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: two stacked anti joins — the reference's `WHERE m.id IS
    NULL AND c.address IS NULL` exclusion pattern
    (update_etl.py:616-623, :770-776)."""
    part = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    big = li.filter(F.col("l_quantity") >= 45).select("l_partkey")
    disc = li.filter(F.col("l_discount") > 0.09).select("l_partkey")
    return (
        part.join(big, part.p_partkey == big.l_partkey, "left_anti")
        .join(disc, part.p_partkey == disc.l_partkey, "left_anti")
        .select("p_partkey", "p_brand")
    )


@register(
    "j7_asof_join",
    oracle="""
    WITH ranked AS (
        SELECT b.o_orderkey, b.o_custkey, b.o_orderdate, b.o_totalprice,
               CASE WHEN s.o_orderdate > b.o_orderdate
                    THEN s.o_orderkey END AS cand_key,
               CASE WHEN s.o_orderdate > b.o_orderdate
                    THEN s.o_orderdate END AS cand_date,
               row_number() OVER (
                   PARTITION BY b.o_orderkey
                   ORDER BY (CASE WHEN s.o_orderdate > b.o_orderdate
                                  THEN s.o_orderdate END) ASC NULLS LAST,
                            (CASE WHEN s.o_orderdate > b.o_orderdate
                                  THEN s.o_orderkey END) ASC NULLS LAST
               ) AS rn
        FROM orders b
        LEFT JOIN orders s ON b.o_custkey = s.o_custkey
    )
    SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
           cand_key AS next_orderkey, cand_date AS next_orderdate
    FROM ranked WHERE rn = 1
    """,
)
def j7_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: as-of / first-match range join — each buy matched to the
    earliest strictly-later sell per key (reference:
    update_etl.py:699-748; create_shadow_trade.sql:93-135).
    Self as-of on orders per customer; deterministic tiebreak by
    orderkey (reference leaves ties unpinned — documented divergence).
    """
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    right = orders.select("o_orderkey", "o_custkey", "o_orderdate")
    out = asof_join(
        orders,
        right,
        keys=["o_custkey"],
        left_on="o_orderdate",
        right_on="o_orderdate",
        direction="forward",
        strict=True,
        right_tiebreakers=["o_orderkey"],
    )
    return out.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "o_totalprice",
        F.col("r_o_orderkey").alias("next_orderkey"),
        F.col("r_o_orderdate").alias("next_orderdate"),
    )


@register(
    "j9_join_to_latest",
    oracle="""
    WITH latest AS (
        SELECT * FROM (
            SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
                   row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC
                   ) AS rn
            FROM orders
        ) WHERE rn = 1
    )
    SELECT c.c_custkey, c.c_name,
           l.o_orderdate AS latest_orderdate,
           l.o_totalprice AS latest_totalprice
    FROM customer c
    JOIN latest l ON c.c_custkey = l.o_custkey
    """,
)
def j9_join_to_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: point-in-time lookup — window-dedup to latest row per key,
    then equi-join (reference: latest floor price
    update_etl.py:717-731; create_shadow_trade.sql:62-75). The
    deduped side shrinks to |keys| rows → broadcast join."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    # max_by aggregate form (o_orderkey unique => identical kept row,
    # guide §2.3): the broadcast side is built from a partial-agg
    # collapse of ~|keys| rows, not a full shuffle+sort of orders.
    latest = latest_per_key_agg(
        orders, ["o_custkey"], "o_orderdate", tiebreakers=["o_orderkey"]
    )
    return cust.join(
        F.broadcast(latest), cust.c_custkey == latest.o_custkey, "inner"
    ).select(
        "c_custkey",
        "c_name",
        F.col("o_orderdate").alias("latest_orderdate"),
        F.col("o_totalprice").alias("latest_totalprice"),
    )


@register(
    "j11_pairs_jaccard",
    oracle="""
    WITH sp AS (
        SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
    ),
    sizes AS (
        SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM sp GROUP BY l_suppkey
    ),
    inter AS (
        SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM sp a JOIN sp b
          ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
        GROUP BY a.l_suppkey, b.l_suppkey
    ),
    scored AS (
        SELECT i.supp_a, i.supp_b, i.n_common,
               CAST(i.n_common AS DOUBLE)
                 / (sa.n_parts + sb.n_parts - i.n_common) AS jaccard
        FROM inter i
        JOIN sizes sa ON i.supp_a = sa.l_suppkey
        JOIN sizes sb ON i.supp_b = sb.l_suppkey
    )
    SELECT DISTINCT supp_a, supp_b, n_common, jaccard FROM (
        SELECT * FROM scored WHERE jaccard >= 0.17
        UNION ALL
        SELECT * FROM (
            SELECT * FROM scored
            ORDER BY jaccard DESC, supp_a, supp_b LIMIT 100
        )
    )
    """,
)
def j11_pairs_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11+D3+D4+T3: pairwise Jaccard similarity over per-key member
    sets — the reference's collection-collection owner-set similarity
    (update_etl.py:1422-1478; intent-implemented, see SURVEY §2.10 D3
    for the reference's address-string bug, which we fix).

    Scale design: NOT itertools.combinations on the driver (reference
    does n² in pandas), and — round 16 — NOT the earlier self
    equi-join either: one groupBy(member) builds the sorted
    distinct-owner array per member (collect_set dedups, so the
    pre-join DISTINCT pass is gone too), the arrays are
    RANGE-partitioned by member id (comment below — this is what
    makes the pair combine collapse), and the candidate pairs fall
    out of a whole-stage-codegen transform/slice/flatten over the
    array. Only pairs that actually share a member materialize; the
    per-pair instance count hash-aggregates with a now-effective
    map-side combine. Measured at the synthesized sf10: 269.9 s
    (join formulation, r15 sweep) -> 52.5 s, identical output.
    The grouped arrays and the scored pair table each feed TWO
    subtrees, so each is pinned with an eager localCheckpoint —
    without the pin the whole pair aggregation runs once per output
    leg. The inherent cost is sum_m C(owners(m), 2) pair instances —
    fixture-bounded (<= 52 owners/member here); a hyper-shared
    member at production scale needs the banded MinHash-LSH variant
    (dedup_queries.py), which is the sub-linear path.

    Output = the >= 0.17 threshold pairs UNION the global top-100 by
    (jaccard DESC, supp_a, supp_b) — the top-K leg (a scalable
    TakeOrderedAndProject, never a single-partition window) makes
    the result witness rows at EVERY scale: the synthesized sf1/sf10
    fixtures top out at jaccard ~0.035, so the thresholded form
    alone proved only wall there, never rows (round-15 verdict item
    3). At sf0.01 the top-100 is a subset of the 176 threshold rows,
    so the driver-checked output is unchanged."""
    li = load(spark, sf_dir, "lineitem")
    grouped = (
        li.groupBy(F.col("l_partkey").alias("pk"))
        .agg(F.sort_array(F.collect_set("l_suppkey")).alias("supps"))
        .localCheckpoint(eager=True)
    )
    # Range-partition the member axis before pair generation: the
    # partial (map-side) aggregate of the pair counts is only
    # effective when a task's members repeat the same owner pairs —
    # hash-partitioned pk sprays every task across the whole corpus,
    # so each task sees mostly-distinct pairs and the combine passes
    # ~the full instance volume to the exchange (measured ~17 GB at
    # the synthesized sf10). Contiguous member ranges cluster
    # co-owned members (keys allocated together share owners), so a
    # range task re-sees the same pairs and the combine collapses
    # them pre-shuffle. Worst case (no owner locality) it is a no-op
    # plus one metadata-sized shuffle of the grouped arrays; the
    # range sampling job reads the checkpoint, not the lineitem scan.
    ranged = grouped.repartitionByRange(
        spark.sparkContext.defaultParallelism, "pk"
    )
    # ascending-sorted owner array => x pairs only with later y, so
    # supp_a < supp_b holds by construction (no filter needed)
    pairs = ranged.select(
        F.explode(
            F.expr(
                "flatten(transform(supps, (x, i) -> "
                "transform(slice(supps, i + 2, size(supps)), "
                "y -> struct(x AS supp_a, y AS supp_b))))"
            )
        ).alias("p")
    ).select("p.supp_a", "p.supp_b")
    inter = pairs.groupBy("supp_a", "supp_b").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    sizes = (
        grouped.select(F.explode("supps").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
    sa = sizes.select(F.col("s").alias("supp_a"), F.col("n_parts").alias("na"))
    sb = sizes.select(F.col("s").alias("supp_b"), F.col("n_parts").alias("nb"))
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    # no broadcast hint on the size tables: |suppliers| can outgrow
    # the broadcast threshold at scale — AQE picks broadcast while it
    # fits and falls back to a shuffle join when it doesn't
    scored = (
        inter.join(sa, "supp_a")
        .join(sb, "supp_b")
        .withColumn("jaccard", jac)
        .select("supp_a", "supp_b", "n_common", "jaccard")
        .localCheckpoint(eager=True)
    )
    thresh = scored.filter(F.col("jaccard") >= 0.17)
    topk = scored.orderBy(F.desc("jaccard"), "supp_a", "supp_b").limit(100)
    return thresh.unionByName(topk).distinct()


@register(
    "x11_salted_skew_join",
    oracle=f"""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {duck_dsum('o.o_totalprice')} AS total
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def x11_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11: skew-mitigated join — orders x customer-nation with the
    nation side salted (operators/skew.py). c_nationkey has only 25
    distinct values: the textbook skew shape where one hot shuffle
    partition straggles. The salt factor is COMPUTED from the
    measured key distribution (salt_factor — the q4_key_skew_report
    rule: ceil(top1_share x shuffle partitions), clamped), not a
    hardcoded constant: a uniform key costs a near-1 factor, a
    pathological one spreads wide. Salting never changes the result
    set, so the plain join IS the oracle."""
    from innercircle_etl_spark.operators.skew import (
        salt_factor,
        salted_join,
    )

    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    # customer is fact-sized at scale — no forced broadcast; AQE
    # decides (the salting demo is the nation join below, which stays
    # skew-shaped regardless of how this enrich executes)
    enriched = orders.join(
        cust.withColumnRenamed("c_custkey", "o_custkey"),
        "o_custkey",
    )
    # profile the skewed key on CUSTOMER (rows-per-nation there is
    # proportional to post-join rows-per-nation since orders spread
    # ~uniformly over customers) — one dimension-sized scan instead
    # of re-running the enrich join just to size the salt. Floor 2
    # so the salted plan shape stays demonstrable on uniform data.
    n_salts = salt_factor(cust, "c_nationkey", min_salts=2)
    salted = salted_join(
        enriched.withColumnRenamed("c_nationkey", "n_nationkey"),
        nation,
        ["n_nationkey"],
        salt_src=F.col("o_custkey"),
        n_salts=n_salts,
    )
    return salted.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total"),
    )


@register(
    "x_bucketed_colocated_join",
    oracle=f"""
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {duck_dsum('o_totalprice')} AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def x_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join (SURVEY §4/X-scale): both sides are
    written `bucketBy(8, key)` + sorted, so the sort-merge join reads
    pre-partitioned, pre-sorted buckets and needs NO exchange on
    either input — the plan's only shuffle is the final rollup. This
    is the storage-level answer to repeated big-big joins at 100TB:
    pay the shuffle once at write time, never again at read time.
    (The merge hint pins SMJ so the demonstration doesn't degrade to
    a broadcast join at test scale.)"""
    import shutil

    base = scratch_dir("bucketed", sf_dir)
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    for tbl, df in (("bk_orders", orders), ("bk_customer", cust)):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        path = f"{base}/{tbl}"
        shutil.rmtree(path, ignore_errors=True)
        (
            df.write.bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .option("path", path)
            .saveAsTable(tbl)
        )
    j = (
        spark.table("bk_orders")
        .hint("merge")
        .join(spark.table("bk_customer").hint("merge"), "o_custkey")
    )
    return j.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total"),
    )


@register(
    "x12_salted_agg",
    oracle="""
    SELECT l_returnflag AS flag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
             AS total_qty,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def x12_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12: two-phase salted aggregation (operators/skew.py
    salted_agg). l_returnflag has THREE distinct values — the
    worst-case skew for a grouped aggregate: one reducer per flag.
    The salt factor is computed from the measured flag distribution
    (salt_factor: the hottest flag owns ~half the rows, so at P=32
    it spreads ~16 ways; a hardcoded 8 under-split it). Phase 1
    aggregates on (flag, salt-of-orderkey); phase 2 re-combines the
    partials per flag. The result is identical to the plain groupBy
    (the oracle). The decimal-sum runs entirely in decimal through
    BOTH phases (decimal addition is associative) and casts to
    double once at the end, keeping the value hash
    order-independent."""
    from innercircle_etl_spark.operators.skew import (
        salt_factor,
        salted_agg,
    )

    li = load(spark, sf_dir, "lineitem")
    n_salts = salt_factor(li, "l_returnflag", min_salts=2)
    out = salted_agg(
        li,
        ["l_returnflag"],
        {
            "n_rows": ("sum", F.count(F.lit(1))),
            "total_qty": (
                "sum",
                F.sum(F.col("l_quantity").cast("decimal(38,6)")),
            ),
            "min_price": ("min", F.min("l_extendedprice")),
            "max_price": ("max", F.max("l_extendedprice")),
        },
        salt_src=F.col("l_orderkey"),
        n_salts=n_salts,
    )
    return out.select(
        F.col("l_returnflag").alias("flag"),
        "n_rows",
        F.col("total_qty").cast("double").alias("total_qty"),
        "min_price",
        "max_price",
    )


@register(
    "j7b_asof_backward",
    oracle="""
    WITH ranked AS (
        SELECT b.o_orderkey, b.o_custkey, b.o_orderdate,
               CASE WHEN s.o_orderdate < b.o_orderdate
                    THEN s.o_orderkey END AS cand_key,
               CASE WHEN s.o_orderdate < b.o_orderdate
                    THEN s.o_orderdate END AS cand_date,
               CASE WHEN s.o_orderdate < b.o_orderdate
                    THEN s.o_totalprice END AS cand_price,
               row_number() OVER (
                   PARTITION BY b.o_orderkey
                   ORDER BY (CASE WHEN s.o_orderdate < b.o_orderdate
                                  THEN s.o_orderdate END) DESC NULLS LAST,
                            (CASE WHEN s.o_orderdate < b.o_orderdate
                                  THEN s.o_orderkey END) ASC NULLS LAST
               ) AS rn
        FROM orders b
        LEFT JOIN orders s ON b.o_custkey = s.o_custkey
    )
    SELECT o_orderkey, o_custkey, o_orderdate,
           cand_key AS prev_orderkey, cand_date AS prev_orderdate,
           cand_price AS prev_totalprice
    FROM ranked WHERE rn = 1
    """,
)
def j7b_asof_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 backward direction: the classic point-in-time lookup —
    each order joined to the same customer's most recent STRICTLY
    PRIOR order (the 'state as of this moment' pattern: price as of
    trade time, balance as of withdrawal). Same equi-shuffle +
    masked-window plan as the forward as-of; only the range mask and
    window direction flip."""
    orders = load(spark, sf_dir, "orders")
    left = orders.select("o_orderkey", "o_custkey", "o_orderdate")
    right = orders.select(
        "o_custkey",
        F.col("o_orderkey").alias("prev_key"),
        F.col("o_orderdate").alias("prev_date"),
        F.col("o_totalprice").alias("prev_price"),
    )
    out = asof_join(
        left,
        right,
        keys=["o_custkey"],
        left_on="o_orderdate",
        right_on="prev_date",
        direction="backward",
        strict=True,
        right_tiebreakers=["prev_key"],
    )
    return out.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.col("r_prev_key").alias("prev_orderkey"),
        F.col("r_prev_date").alias("prev_orderdate"),
        F.col("r_prev_price").alias("prev_totalprice"),
    )



@register(
    "j12_interval_bucket_join",
    oracle="""
    SELECT a.event_id AS window_id, b.event_id, b.value
    FROM events a JOIN events b
      ON b.ts >= a.ts
     AND b.ts < a.ts + INTERVAL 6 HOUR
    WHERE a.event_id % 499 = 0
    """,
)
def j12_interval_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12 (beyond-parity): PURE interval-overlap join — every event
    inside a set of 6-hour windows, with NO equi key at all. J3's
    time-bounded ON still hangs off an equi key (orderkey), so
    Catalyst plans a hash join with the range as a join-side filter;
    drop the equi key and Spark's only native options are
    BroadcastNestedLoop (small side only) or a cartesian — the
    classic missing operator for large×large temporal joins.

    The scale form is BUCKETIZATION — see
    ``operators/interval_join.py`` (the reusable operator this
    query instantiates over 6-hour event windows with hour
    buckets; hypothesis-tested against the quadratic model in
    tests/test_interval_hypothesis.py). The plan gate asserts no
    CartesianProduct survives."""
    from innercircle_etl_spark.operators.interval_join import (
        interval_bucket_join,
    )

    ev = load(spark, sf_dir, "events")
    intervals = ev.filter(F.col("event_id") % 499 == 0).select(
        F.col("event_id").alias("window_id"),
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("win_end"),
    )
    events = ev.select("event_id", F.col("ts").alias("ev_ts"), "value")
    return interval_bucket_join(
        intervals,
        events,
        left_start="win_start",
        left_end="win_end",
        right_time="ev_ts",
        bucket_unit="hour",
    ).select("window_id", "event_id", "value")
