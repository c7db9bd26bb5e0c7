"""Output checks: an order-insensitive fingerprint computed by Spark,
and an exact comparison of collected rows against a DuckDB oracle,
in the canonical form the repository's local correctness gate
(``tools/verify_local.py``) uses.

The fingerprint is the row count plus the exact sum of a 64-bit hash
of every row over all columns. It is the materialising action of each
measured cycle: unlike ``count()``, it reads every output column, so
Catalyst cannot prune columns the product needs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tools.verify_local import canon


def fingerprint(df: DataFrame) -> tuple[int, int]:
    """(rows, sum of xxhash64 over all columns). Columns are hashed in
    name order, so the fingerprint ignores row and column order. The
    sum is taken in DECIMAL(38,0), which cannot overflow here and is
    exact whatever order the rows arrive in."""
    cols = [F.col(f"`{c}`") for c in sorted(df.columns)]
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def oracle_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` and ``want`` hold the same rows exactly,
    otherwise a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    try:
        pd.testing.assert_frame_equal(
            canon(got), canon(want), check_dtype=False, check_exact=True
        )
    except AssertionError as e:
        return "values: " + " ".join(str(e).split())[:300]
    return None
