"""Registry wiring query builders to their DuckDB oracle SQL.

The driver contract (``__spark_entry__.py``) wants
``queries() -> {name: fn(spark, sf_dir) -> DataFrame}`` and
``oracle_sql() -> {name: ANSI SQL}``. Every relational operator we
claim registers here with BOTH; genuinely non-SQL-expressible ops
register with ``oracle=None`` (driver falls back to rows-only check).

Exactness discipline for double aggregates: float sums are
order-dependent, so a Spark sum and a DuckDB sum of the same doubles
can differ in the last ulp and fail the driver's value-hash. We cast
to DECIMAL(38,6) *before* summing (decimal addition is exact and
associative → order-independent), then cast the final value back to
DOUBLE. Both engines round the same way on double→decimal (ties
can't occur: a binary double is never exactly halfway at decimal
scale 6 unless its decimal expansion terminates there), so results
are bit-identical. Helper: ``dsum`` below / ``DSUM`` SQL macro text.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from innercircle_etl_spark.session import local_cpus

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register(name: str, oracle: Optional[str] = None):
    """Decorator: register a (spark, sf_dir) -> DataFrame builder."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


_REPO_SCRATCH = os.path.normpath(
    os.path.join(os.path.dirname(__file__), "..", "..", ".scratch")
)


def scratch_dir(name: str, sf_dir: str, fresh: bool = False) -> str:
    """``<root>/<name>_<fixture>``: one query's scratch directory for
    one fixture. The root is ``$SPARK_GRAFT_SCRATCH`` read at each
    call, else ``.scratch`` at the repo root (gitignored).
    ``fresh`` empties it first (rmtree, then makedirs), so a run's
    inputs are provably this run's: relying on each write overwriting
    its artifact holds only while every run rewrites every artifact,
    and a prior run's leftover would reach the oracle comparison
    silently."""
    root = os.environ.get("SPARK_GRAFT_SCRATCH", _REPO_SCRATCH)
    path = f"{root}/{name}_{os.path.basename(sf_dir.rstrip('/'))}"
    if fresh:
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
    return path


# Columns written as parquet TIMESTAMP(NANOS), which Spark lacks: read
# as long (see session.py nanosAsLong) and truncate to microseconds —
# exactly what DuckDB's TIMESTAMP_NS→TIMESTAMP conversion does.
_NANO_TS_COLS = {"events": ("ts",)}


# Marker conf: set after the one-time shuffle sizing below so repeated
# load() calls never re-mutate the session. A caller who WANTS the
# stock 200 shuffle partitions can pre-set this marker to "1" and
# load() will not touch the conf at all.
_SHUFFLE_SIZED_MARK = "spark.innercircle_etl_spark.shuffleSized"


def _size_shuffle_once(spark: SparkSession) -> None:
    """Right-size spark.sql.shuffle.partitions for the host, ONCE per
    session: at test scale the stock 200 partitions means 200
    near-empty tasks per exchange and 200 state-store instances per
    stateful streaming operator (a 10x measured slowdown under a
    vanilla session). Only the untouched default is overridden, only
    on the first load() of a session (marker conf above) — later
    explicit caller settings are never fought with. On a real cluster
    this knob is sized ~2-3x total cores by the session factory."""
    if spark.conf.get(_SHUFFLE_SIZED_MARK, None) == "1":
        return
    spark.conf.set(_SHUFFLE_SIZED_MARK, "1")
    if spark.conf.get("spark.sql.shuffle.partitions", "200") != "200":
        return
    n = local_cpus()
    if n > 0:
        spark.conf.set("spark.sql.shuffle.partitions", str(n))


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one synthetic table. Parquet scan → Catalyst gets pushdown
    and column pruning for free; at cluster scale these would be
    date-partitioned directories and pruning would kick in the same way."""
    # The fixture's events.parquet uses TIMESTAMP(NANOS), which Spark
    # can only read as long. Runtime-settable, so set it here rather
    # than relying on the caller's session builder (the driver supplies
    # its OWN session — round-1 lesson: 6 queries died without this).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _size_shuffle_once(spark)
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    for c in _NANO_TS_COLS.get(table, ()):
        if dict(df.dtypes).get(c) == "bigint":
            # integer div — float division would lose precision past 2^53 ns.
            # Produce TIMESTAMP_NTZ to match what the parquet reader yields
            # for micros-typed fixtures (timestamp[us], no tz), so downstream
            # plans see ONE type whichever generation of fixture is on disk.
            df = df.withColumn(
                c,
                F.expr(
                    f"timestampadd(MICROSECOND, `{c}` div 1000, "
                    "CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ))"
                ),
            )
    return df


def widen(df: DataFrame) -> DataFrame:
    """Raise a DataFrame's partition count to the session's default
    parallelism when the scan produced far fewer. The local fixtures
    are single-row-group parquet files — ONE task decodes the whole
    table, and anything cached downstream inherits that near-serial
    layout, serializing every consumer's map side (measured 26% of
    ep3's wall time at sf0.1). On a real cluster a 100TB table scans
    as thousands of splits, the guard fails, and NO shuffle is added
    — this is a local-layout corrective, not a plan stage.

    The ``df.rdd`` partition probe is plan analysis only, no job:
    measured ~0.5ms/call warm (round 5); the `_jdf.rdd()` JVM-side
    alternative is ~50x SLOWER per call, so the idiomatic form
    stays."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 <= target:
        return df.repartition(target)
    return df


def dsum(col: Column | str) -> Column:
    """Order-independent exact sum of a double column (see module doc).

    Returns DOUBLE so the schema matches the oracle's
    ``CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(38,6)")).cast("double")


def davg(col: Column | str) -> Column:
    """Order-independent mean: exact decimal sum / count, in DOUBLE.

    Oracle equivalent:
    ``CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / COUNT(x)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c) / F.count(c)


def duck_dsum(expr: str) -> str:
    """DuckDB SQL text matching ``dsum``."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE)"


def duck_davg(expr: str) -> str:
    """DuckDB SQL text matching ``davg``."""
    return f"(CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE) / COUNT({expr}))"


def pin_concurrently(*dfs: DataFrame) -> list[DataFrame]:
    """Eagerly ``localCheckpoint`` several INDEPENDENT DataFrames as
    concurrent Spark jobs and return the pinned frames in argument
    order (guide §2.6: actions are only sequential because driver
    code calls them sequentially). A cascade that pins N bounded
    intermediates pays N serial job barriers when each pin is built
    inline; when the pins share no lineage the jobs can back-fill
    each other's stragglers instead. Pure scheduling — each frame's
    content is exactly what the same pin produced serially.

    Callers must only pass frames with NO data dependency on each
    other (a dependent frame would still compute correctly — Spark
    jobs are self-contained — but would re-run the dependency's
    lineage instead of reading its pin, the exact waste pinning
    exists to avoid).

    If any member fails, the members' pins are released (the caller
    never receives their handles) and the first error is raised."""
    if len(dfs) == 1:
        return [dfs[0].localCheckpoint(eager=True)]
    from concurrent.futures import ThreadPoolExecutor

    pins: list = [None] * len(dfs)

    def pin(i: int, df: DataFrame) -> None:
        # Take the pin's handle BEFORE its materialising job: an eager
        # localCheckpoint that fails leaves its RDD persisted and
        # returns nothing to release. The lazy checkpoint plus a count
        # of its own RDD runs the same jobs as the eager form.
        pins[i] = df.localCheckpoint(eager=False)
        _pin_rdd(pins[i]).count()

    with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
        futs = [pool.submit(pin, i, d) for i, d in enumerate(dfs)]
        errs = [e for e in (f.exception() for f in futs) if e is not None]
    if errs:
        # release exactly this group's pins — never a pin another
        # thread made while the group was in flight
        release_pins(_pin_rdd(p) for p in pins if p is not None)
        raise errs[0]
    return pins


def _pin_rdd(pinned: DataFrame):
    """The java RDD holding a localCheckpoint'ed frame's blocks."""
    return pinned._jdf.queryExecution().analyzed().rdd()


def release_pins(handles) -> None:
    """Blocking-unpersist a set of java RDD handles (``_pin_rdd`` of
    frames the caller pinned itself — never a diff of the session's
    persisted RDDs, which would also take pins other code made in the
    meantime). Never raises: a lost handle only costs memory, never
    correctness."""
    for jrdd in handles:
        try:
            jrdd.unpersist(True)
        except Exception:
            pass
