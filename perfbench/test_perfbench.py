"""Tests of the benchmark's own machinery.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest

from perfbench import inputs
from perfbench.check import fingerprint, oracle_mismatch
from perfbench.spans import ProcessTree, Span, cycle_self_times, self_times, union_length
from perfbench.workloads import (
    END_TO_END,
    NFT_QUERIES,
    Context,
    DailyRepair,
    NftCascade,
    per_layer_units,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_every_metric_with_its_unit():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_units()
    assert {w["name"] for w in spec["workloads"]} == {"nft_cascade", "daily_repair"}
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_union_length_merges_and_clips():
    assert union_length([], 0, 10) == 0
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_length([(-5, 2), (9, 20)], 0, 10) == 3
    assert union_length([(4, 3)], 0, 10) == 0


def _span(name, start, end, parent):
    return Span(name, start, end, parent, 0, 0, 0)


def test_self_times_subtract_direct_children_only():
    spans = [
        _span("cycle", 0.0, 10.0, None),
        _span("a", 1.0, 4.0, 0),
        _span("a.build", 1.5, 2.5, 1),
        _span("b", 3.0, 6.0, 0),  # overlaps a: the overlap counts once
        _span("c", 9.0, 12.0, 0),  # runs past its parent: clipped
    ]
    assert self_times(spans) == pytest.approx([10 - 6, 3 - 1, 1, 3, 3])
    # every instant of the cycle is in exactly one self time when the
    # children do not overlap
    flat = spans[:3] + [_span("b", 4.0, 6.0, 0)]
    assert sum(self_times(flat)) == pytest.approx(10.0)


def test_cycle_self_times_follow_parents_across_cycles():
    spans = [
        Span("cycle", 0.0, 4.0, None, 0, 0, 0),
        Span("run", 0.0, 3.0, 0, 0, 0, 0),
        Span("cycle", 4.0, 9.0, None, 1, 0, 0),
        Span("run", 4.0, 8.0, 2, 1, 0, 0),
        Span("write", 5.0, 6.0, 3, 1, 0, 0),
    ]
    got = {s.name: t for s, t in cycle_self_times(spans, 1)}
    assert got == pytest.approx({"cycle": 1.0, "run": 3.0, "write": 1.0})


class _Store:
    """One half-second job in the middle of each query's span range."""

    def job_intervals(self, lo, hi):
        return [(100.5 + 2 * lo, 101.0 + 2 * lo)] if hi > lo else []

    def stage_totals(self, lo, hi):
        return dict(stages=hi - lo, task_s=1.0, gc_s=0.1, shuffle_mb=2.0, output_mb=0.5)


class _Tracer:
    def __init__(self, spans):
        self.spans = spans


def _ctx(spans):
    return Context(spark=None, tracer=_Tracer(spans), data_dir="", seed=0, slots=4)


def test_layer_metrics_are_declared_per_layer_metrics():
    t, spans = 100.0, [Span("cycle", 100.0, 200.0, None, 3, 0, 99)]
    for j, q in enumerate(NFT_QUERIES):
        spans.append(Span("session.drop_query_caches", t, t + 0.1, 0, 3, j, j))
        g = len(spans)
        spans.append(Span(f"plans.{q}", t + 0.1, t + 2, 0, 3, j, j + 1, py_cpu_s=0.5))
        spans.append(Span(f"plans.{q}.build", t + 0.1, t + 1, g, 3, j, j))
        spans.append(Span(f"plans.{q}.action", t + 1, t + 2, g, 3, j, j + 1))
        t += 2
    nft = NftCascade(_ctx(spans)).layer_metrics(3, _Store())
    units = per_layer_units()
    assert set(nft) <= set(units)
    assert nft[f"plans.{NFT_QUERIES[1]}.build_s"] == pytest.approx(0.9)
    assert nft[f"plans.{NFT_QUERIES[1]}.jobs"] == 1
    assert nft[f"plans.{NFT_QUERIES[1]}.driver_s"] == pytest.approx(1.9 - 0.5)

    spans = [
        Span("cycle", 0.0, 10.0, None, 5, 0, 9),
        Span("pipeline.run_daily", 0.0, 8.0, 0, 5, 0, 8),
        Span("operators.atomic_swap", 3.0, 5.0, 1, 5, 4, 5),
        Span("check.verify", 8.0, 10.0, 0, 5, 8, 9),
    ]
    daily = DailyRepair(_ctx(spans))
    daily.written[5] = (37, 37)
    got = daily.layer_metrics(5, _Store())
    assert set(got) <= set(units)
    assert got["pipeline.gap_scan_s"] == 3.0
    assert got["pipeline.run_daily_s"] == 6.0
    assert got["operators.atomic_swap.swap_s"] == pytest.approx(2.0 - got["operators.atomic_swap.write_s"])


def test_peak_rss_covers_only_what_runs_after_a_reset():
    procs = ProcessTree()

    def peak_mb():
        return sum(mb for _, mb in procs.peak_rss_by_command().values())

    block = bytearray(b"\x01") * 200_000_000  # touches every page
    del block
    before = peak_mb()
    procs.reset_peak_rss()
    assert peak_mb() < before - 150


def test_seed_permutes_fact_rows_but_keeps_content(tmp_path):
    inputs.write_tables(str(tmp_path / "a"), seed=1)
    inputs.write_tables(str(tmp_path / "b"), seed=2)
    for t in inputs.TABLES:
        a = pq.read_table(tmp_path / "a" / f"{t}.parquet").to_pandas()
        b = pq.read_table(tmp_path / "b" / f"{t}.parquet").to_pandas()
        assert oracle_mismatch(a, b) is None
        assert pq.ParquetFile(tmp_path / "a" / f"{t}.parquet").num_row_groups == 1
        if t in inputs.FACT_TABLES:
            assert not a.equals(b)


def test_oracle_mismatch_ignores_order_and_reports_differences():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, None]})
    assert oracle_mismatch(a, a.iloc[::-1][["v", "k"]]) is None
    assert "rows" in oracle_mismatch(a, a.iloc[:2])
    assert "values" in oracle_mismatch(a, a.assign(v=[0.5, 1.5, 2.0]))


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_fingerprint_ignores_row_and_column_order(spark):
    df = spark.createDataFrame(
        [(i, f"s{i % 7}", i * 0.25, None if i % 5 else i) for i in range(500)],
        "k long, s string, x double, n long",
    )
    base = fingerprint(df)
    assert base[0] == 500
    assert fingerprint(df.repartition(7).orderBy("s", "x")) == base
    assert fingerprint(df.select("x", "n", "k", "s")) == base
    # one changed value, a dropped row and a duplicated row all show
    assert fingerprint(df.selectExpr("k", "s", "IF(k = 3, x + 1, x) AS x", "n")) != base
    assert fingerprint(df.filter("k != 3")) != base
    assert fingerprint(df.union(df.filter("k = 3")))[0] == 501
