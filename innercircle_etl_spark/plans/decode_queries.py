"""D1/D2 ABI-decode queries (SURVEY §2.10) + the decode pipeline
(SURVEY §3 entry point 2, `update_nft_trade_opensea`).

Fixtures are built deterministically FROM the events table inside
each query (hex-encoded ABI words from event columns, expressed
identically in the oracle SQL), so the column-expression decode is
hash-checkable against DuckDB doing the same slicing in SQL.

Numeric discipline: the planted uint256 price stays < 2^53 wei so
int→double conversion is exact in both engines and the final /1e18
is a single correctly-rounded double division everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from innercircle_etl_spark.functions import decode as DEC
from innercircle_etl_spark.plans.registry import load, register, widen

# wei = round(value*100) * 1e10 — keeps the uint256 < 2^53 (exact as
# double) while preserving real wei→ETH semantics (/1e18)
_WEI_SQL = "CAST(round(value * 100) AS BIGINT) * 10000000000"


def _word_sql(expr: str) -> str:
    return f"lower(lpad(hex({expr}), 64, '0'))"


def _word(col) -> F.Column:
    return F.lower(F.lpad(F.hex(col), 64, "0"))


def _wei_col() -> F.Column:
    return F.round(F.col("value") * 100).cast("long") * F.lit(10000000000)


def _orders_matched_logs(
    spark: SparkSession, sf_dir: str, ev: DataFrame | None = None
) -> DataFrame:
    """Fixture: OrdersMatched-shaped logs from events. data = 3 ABI
    words (buyHash, sellHash, price); topics[0] carries the event
    signature; trx_hash groups ~4 logs per transaction (the
    reference sums multi-log trades, decode_utls.py:119).

    ``ev``: pass a pre-loaded (and typically widened+cached) events
    frame to share ONE scan across composed decode branches (d12);
    standalone callers leave it None and get their own fanned-out
    scan."""
    if ev is None:
        # the source parquet is a single file — fan out so the decode
        # runs on every core, not one task
        ev = load(spark, sf_dir, "events").repartition(
            spark.sparkContext.defaultParallelism, F.expr("event_id div 4")
        )
    return ev.select(
        F.concat(
            F.lit("tx"), F.expr("event_id div 4").cast("string")
        ).alias("trx_hash"),
        F.concat(
            F.lit("0x"),
            _word(F.col("event_id")),
            _word(F.col("user_id")),
            _word(_wei_col()),
        ).alias("data"),
        F.array(
            F.concat(F.lit(DEC.ORDERS_MATCHED_TOPIC), _word(F.col("event_id"))),
            _word(F.col("user_id")),
        ).alias("topics"),
    )


_D1_ORACLE = f"""
WITH logs AS (
    SELECT 'tx' || CAST(event_id // 4 AS VARCHAR) AS trx_hash,
           '0x' || {_word_sql('event_id')} || {_word_sql('user_id')}
                || {_word_sql(_WEI_SQL)} AS data,
           '{DEC.ORDERS_MATCHED_TOPIC}' || {_word_sql('event_id')} AS topic0
    FROM events
)
SELECT trx_hash,
       CAST(SUM(CAST(('0x' || substr(data, 3 + 128, 64))::BIGINT / 1e18
                AS DECIMAL(38,18))) AS DOUBLE) AS price
FROM logs
WHERE topic0 LIKE '{DEC.ORDERS_MATCHED_TOPIC}%'
GROUP BY trx_hash
"""


@register("d1_decode_log_price", oracle=_D1_ORACLE)
def d1_decode_log_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: OrdersMatched event-log decode → per-transaction trade
    price (decode_utls.py:99-120): topic-prefix filter (P5), hex
    decode as column expressions, group-sum per trx_hash (A10).

    The per-trx sum runs over DECIMAL(38,18) (exact, associative) so
    Spark's partial-aggregation order can't flip a last ulp vs the
    oracle's sequential sum."""
    logs = _orders_matched_logs(spark, sf_dir)
    return (
        logs.filter(
            F.element_at("topics", 1).startswith(DEC.ORDERS_MATCHED_TOPIC)
        )
        .select("trx_hash", DEC.orders_matched_price(F.col("data")).alias("p"))
        .groupBy("trx_hash")
        .agg(F.sum(F.col("p").cast("decimal(38,18)")).cast("double").alias("price"))
    )


_D2_ORACLE = f"""
SELECT event_id AS trx_hash_id,
       CASE WHEN event_id % 97 = 0 THEN '{DEC.DECODE_ERROR}'
            ELSE lower('0x' || lpad(hex(user_id + 6), 40, '0'))
       END AS payment_token,
       CASE WHEN event_id % 2 = 0 THEN 'opensea v1' ELSE 'opensea v2'
       END AS platform
FROM events
"""


def _atomic_match_calldata(
    spark: SparkSession, sf_dir: str, ev: DataFrame | None = None
) -> DataFrame:
    """Fixture: atomicMatch_-shaped calldata; word i of the inlined
    address[14] head is user_id + i. Rows with event_id % 97 == 0 are
    planted malformed (bad selector) to exercise the reference's
    error-sentinel path (decode_utls.py:196-200). ``ev`` as in
    ``_orders_matched_logs``."""
    if ev is None:
        ev = load(spark, sf_dir, "events").repartition(
            spark.sparkContext.defaultParallelism, "event_id"
        )
    words = [_word(F.col("user_id") + F.lit(i)) for i in range(14)]
    good = F.concat(F.lit(DEC.ATOMIC_MATCH_SELECTOR), *words)
    return ev.select(
        F.col("event_id").alias("trx_hash_id"),
        F.when(F.col("event_id") % 97 == 0, F.lit("0xdeadbeef"))
        .otherwise(good)
        .alias("input_data"),
        F.when(F.col("event_id") % 2 == 0, F.lit("opensea v1"))
        .otherwise(F.lit("opensea v2"))
        .alias("platform"),
    )


@register("d2_decode_calldata_token", oracle=_D2_ORACLE)
def d2_decode_calldata_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: atomicMatch_ calldata decode → payment token addrs[6]
    (decode_utls.py:186-233), platform classifier (F4), and the
    reference's '<error>' sentinel on undecodable input."""
    calls = _atomic_match_calldata(spark, sf_dir)
    return calls.select(
        "trx_hash_id",
        DEC.atomic_match_payment_token(F.col("input_data")).alias(
            "payment_token"
        ),
        "platform",
    )


_D12_ORACLE = f"""
WITH logs AS (
    SELECT 'tx' || CAST(event_id // 4 AS VARCHAR) AS trx_hash,
           event_id // 4 AS trx_id,
           ('0x' || substr('0x' || {_word_sql('event_id')} || {_word_sql('user_id')}
                || {_word_sql(_WEI_SQL)}, 3 + 128, 64))::BIGINT / 1e18 AS p
    FROM events
),
price AS (
    SELECT trx_hash, trx_id,
           CAST(SUM(CAST(p AS DECIMAL(38,18))) AS DOUBLE) AS price
    FROM logs GROUP BY trx_hash, trx_id
),
currency AS (
    SELECT event_id AS trx_id,
           CASE WHEN event_id % 97 = 0 THEN '{DEC.DECODE_ERROR}'
                ELSE lower('0x' || lpad(hex(user_id + 6), 40, '0'))
           END AS payment_token
    FROM events
)
SELECT p.trx_hash, c.payment_token, p.price
FROM price p JOIN currency c ON p.trx_id = c.trx_id
WHERE c.payment_token NOT LIKE '<error>%'
"""


@register("d12_trade_decode_pipeline", oracle=_D12_ORACLE)
def d12_trade_decode_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry point 2 end-to-end (update_etl.py:79-97): decoded
    price (D1, group-summed per trx) ⋈ decoded currency (D2) on
    trx id, dropping undecodable rows — the reference's
    `pd.merge(currency, price, on='trx_hash')` as one Spark DAG with
    no driver materialization between stages.

    Both decode branches read the SAME events scan: one widened +
    eagerly cached projection feeds the log fixture and the calldata
    fixture (separately they each scanned and shuffled the source —
    measured 34% of d12's wall time at sf0.1)."""
    ev = widen(
        load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    ).cache()
    ev.count()  # eager: both branches otherwise race the cache
    logs = _orders_matched_logs(spark, sf_dir, ev=ev).withColumn(
        "trx_id", F.regexp_replace("trx_hash", "^tx", "").cast("long")
    )
    price = (
        logs.select(
            "trx_hash", "trx_id", DEC.orders_matched_price(F.col("data")).alias("p")
        )
        .groupBy("trx_hash", "trx_id")
        .agg(F.sum(F.col("p").cast("decimal(38,18)")).cast("double").alias("price"))
    )
    currency = _atomic_match_calldata(spark, sf_dir, ev=ev).select(
        F.col("trx_hash_id").alias("trx_id"),
        DEC.atomic_match_payment_token(F.col("input_data")).alias(
            "payment_token"
        ),
    )
    return (
        price.join(currency, "trx_id")
        .filter(~F.col("payment_token").startswith("<error>"))
        .select("trx_hash", "payment_token", "price")
    )
