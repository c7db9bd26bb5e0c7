"""Input tables for the benchmark workloads.

``fixture/`` holds byte-identical copies of three of the project's
0.01-scale-factor test fixtures (seed 42; see TESTDATA.md): ``lineitem``
(60,000 rows over 2,499 ship days), ``supplier`` (100) and ``events``
(10,000). They are kept here so that a run reads only its own checkout.

The run seed only permutes the row order of the fact tables, so every
seed holds the same rows and a query whose result depends on input row
order shows up as a failed output check. Each table is written as one
parquet file with one row group, like the fixtures, so
``registry.widen`` takes the same branch.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
TABLES = ("lineitem", "supplier", "events")
FACT_TABLES = ("lineitem", "events")


def write_tables(out_dir: str, seed: int, tables=TABLES) -> None:
    """Write ``tables`` under ``out_dir`` as ``<name>.parquet``;
    ``seed`` permutes the row order of the fact tables only."""
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        t = pq.read_table(f"{FIXTURE}/{name}.parquet")
        if name in FACT_TABLES:
            order = np.random.default_rng([seed, TABLES.index(name)]).permutation(t.num_rows)
            t = t.take(order)
        pq.write_table(t, f"{out_dir}/{name}.parquet", row_group_size=t.num_rows)
