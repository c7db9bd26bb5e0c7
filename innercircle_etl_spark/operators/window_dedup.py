"""Window-ranking dedup family.

Re-expresses the reference's pervasive
``row_number() over (partition by k order by ts) = 1`` idiom
(reference: update_etl.py:129-140 latest contract, :430-437 first
acquisition, :491-507 ownership snapshot, :723-729 latest floor;
SURVEY §2.6 W1/W2/W3).

Scale note: a window over (keys, order) shuffles once on the keys —
same cost as the groupBy it replaces. For latest/first-per-key we
instead use ``max_by``/``min_by`` aggregate forms when the caller
only needs one row's columns, which enables partial (map-side)
aggregation and avoids materializing the full sorted window. The
window form is kept for top-N (N>1) where aggregation can't express
the result.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _qcol(name: str) -> Column:
    """``F.col`` with the name backtick-quoted so dots (and literal
    backticks, doubled per Spark's quoting rule) are taken verbatim
    instead of parsed as struct-field paths."""
    return F.col("`" + name.replace("`", "``") + "`")


def _rank_filter(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column],
    n: int,
    func=F.row_number,
) -> DataFrame:
    w = Window.partitionBy(*[_qcol(k) for k in keys]).orderBy(*order)
    return (
        df.withColumn("__rnk", func().over(w))
        .filter(F.col("__rnk") <= n)
        .drop("__rnk")
    )


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Keep the row with the greatest ``order_col`` per key group (W1).

    ``tiebreakers`` pins determinism when order_col ties (the
    reference leaves ties unspecified — SURVEY §7 'what's hard').
    """
    order = [_qcol(c).desc() for c in (order_col, *tiebreakers)]
    return _rank_filter(df, keys, order, 1)


def _extremum_per_key_agg(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    tiebreakers: Sequence[str],
    extremum,
) -> DataFrame:
    order_struct = F.struct(
        _qcol(order_col), *[_qcol(t) for t in tiebreakers]
    )
    others = [c for c in df.columns if c not in keys]
    # collision-checked temp name: an input column literally named
    # __row would shadow the aggregate alias in the final select
    tmp = "__row"
    while tmp in df.columns:
        tmp += "_"
    row = extremum(
        F.struct(*[_qcol(c).alias(c) for c in others]), order_struct
    ).alias(tmp)
    out = df.groupBy(*[_qcol(k) for k in keys]).agg(row)
    # getField, not a dotted F.col path — column names containing
    # dots/backticks would break string parsing (the window form
    # handles any name, so this form must too)
    return out.select(
        *[
            _qcol(c) if c in keys else F.col(tmp).getField(c).alias(c)
            for c in df.columns
        ]
    )


def latest_per_key_agg(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """``latest_per_key`` as a ``max_by`` AGGREGATE (the module-doc
    form): keeps the same row per key group as the window form
    PROVIDED (order_col, *tiebreakers) is unique within each group
    (the callers pass a row-unique tiebreaker chain, so the greatest
    order-struct is exactly the window's rank-1 row). NULLs in the
    order columns are safe: the ordering expr is a struct, which is
    never NULL even when its fields are, so max_by never skips a
    row — null fields just compare lowest, which coincides with the
    window form's default desc-nulls-last placement (pinned by
    tests/test_pin_and_agg_dedup.py's null-order case).

    Why it exists (guide §2.3 'aggregate before you shuffle'): the
    window form shuffles EVERY row and sorts each partition; the
    aggregate form partially collapses per key on the map side, so
    the exchange carries ~|keys| rows instead of |rows| and the sort
    disappears. At a dup factor of d the shuffle shrinks ~d× — the
    win grows with corpus size, while the window form's sort cost
    does too. Column order and types are preserved (struct
    round-trip)."""
    return _extremum_per_key_agg(
        df, keys, order_col, tiebreakers, F.max_by
    )


def first_per_key_agg(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """``first_per_key`` as a ``min_by`` aggregate — the W2 twin of
    ``latest_per_key_agg``; same uniqueness precondition, same
    map-side-collapse rationale (and the same null-field safety:
    null order fields compare lowest = the window form's default
    asc-nulls-first placement)."""
    return _extremum_per_key_agg(
        df, keys, order_col, tiebreakers, F.min_by
    )


def first_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Keep the row with the smallest ``order_col`` per key group (W2)."""
    order = [_qcol(c).asc() for c in (order_col, *tiebreakers)]
    return _rank_filter(df, keys, order, 1)


def top_n_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column],
    n: int,
) -> DataFrame:
    """Top-N rows per group by explicit order columns (W3;
    reference: top-3 insights per collection update_etl.py:1186-1193)."""
    return _rank_filter(df, keys, order, n)
