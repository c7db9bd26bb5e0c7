"""The benchmark's workloads: what one cycle runs, how its output is
checked, and which per-layer numbers its spans yield.

Each workload calls the program only through its public entry points:
``session.drop_query_caches``, ``plans.QUERIES[name](spark, dir)``,
``pipeline.run_daily`` and ``pipeline.write_daily_partitioned``.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

import duckdb
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from innercircle_etl_spark import pipeline, plans
from innercircle_etl_spark.session import drop_query_caches
from perfbench import inputs
from perfbench.check import fingerprint, oracle_mismatch
from perfbench.spans import StatusStore, Tracer, cycle_self_times, union_length

NFT_QUERIES = (
    "d12_trade_decode_pipeline",
    "ep3_roi_cascade",
    "ep4_circles",
    "ep5_shadow_trade",
    "ep6_insight_feed",
    "ep7_posts",
)
# daily_repair: a one-year warehouse of lineitem by ship day; each
# cycle deletes DAMAGED_DAYS day partitions and repairs them.
WAREHOUSE_DAYS = 365
DAMAGED_DAYS = 36

END_TO_END = {
    "setup_s": "s",
    "cycle_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "shuffle_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric of the traced run, with its unit. Each
    workload reports all of them; a layer it never enters reads 0."""
    units = {}
    for q in NFT_QUERIES:
        units |= {
            f"plans.{q}.build_s": "s",
            f"plans.{q}.driver_s": "s",
            f"plans.{q}.action_s": "s",
            f"plans.{q}.jobs": "count",
            f"stage.{q}.stages": "count",
            f"stage.{q}.slot_util": "ratio",
            f"stage.{q}.task_s": "s",
            f"stage.{q}.gc_s": "s",
            f"stage.{q}.shuffle_mb": "MB",
            f"functions.{q}.py_cpu_s": "s",
        }
    return units | {
        "session.drop_query_caches_s": "s",
        "pipeline.run_daily_s": "s",
        "pipeline.gap_scan_s": "s",
        "operators.atomic_swap.write_s": "s",
        "operators.atomic_swap.swap_s": "s",
        "pipeline.partitions_written": "count",
        "pipeline.files_written": "count",
        "pipeline.written_mb": "MB",
        "stage.run_daily.stages": "count",
        "stage.run_daily.task_s": "s",
        "stage.run_daily.slot_util": "ratio",
        "check.verify_s": "s",
        "session.get_spark_s": "s",
        "setup.inputs_s": "s",
        "setup.warm_s": "s",
        "trace.cycle_s": "s",
        "trace.cost_s": "s",
        "trace.unattributed_s": "s",
    }


@dataclass
class Context:
    spark: SparkSession
    tracer: Tracer
    data_dir: str
    seed: int
    slots: int


def _cycle_spans(tracer: Tracer, cycle: int):
    """The spans of one traced cycle, and their self times by name."""
    pairs = cycle_self_times(tracer.spans, cycle)
    return [s for s, _ in pairs], {s.name: t for s, t in pairs}


class NftCascade:
    """The product's read path: trade decode, then the ROI → circles →
    shadow trades → insight feed → posts cascade. One cycle builds and
    materialises each query in order, dropping the previous query's
    pinned blocks first, as a long-lived session must."""

    name = "nft_cascade"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.expected: dict[str, tuple[int, int]] = {}

    def prepare(self) -> None:
        inputs.write_tables(self.ctx.data_dir, self.ctx.seed)

    def validate(self) -> list[str]:
        """The first (cold) cycle: compare every query's rows with its
        DuckDB oracle on the same input, and keep the fingerprint of
        the validated rows for the later cycles to match."""
        spark, d = self.ctx.spark, self.ctx.data_dir
        con = duckdb.connect()
        for t in inputs.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
        problems = []
        for q in NFT_QUERIES:
            drop_query_caches(spark)
            df = plans.QUERIES[q](spark, d)
            rows = df.collect()
            got = pd.DataFrame.from_records([tuple(r) for r in rows], columns=df.columns)
            bad = oracle_mismatch(got, con.execute(plans.ORACLES[q]).fetchdf())
            if bad:
                problems.append(f"{q}: {bad}")
            self.expected[q] = fingerprint(spark.createDataFrame(rows, df.schema))
        con.close()
        return problems

    def before_cycle(self) -> None:
        pass

    def cycle(self) -> bool:
        spark, tr, ok = self.ctx.spark, self.ctx.tracer, True
        for q in NFT_QUERIES:
            with tr.span("session.drop_query_caches"):
                drop_query_caches(spark)
            with tr.span(f"plans.{q}", py=True):
                with tr.span(f"plans.{q}.build"):
                    df = plans.QUERIES[q](spark, self.ctx.data_dir)
                with tr.span(f"plans.{q}.action"):
                    got = fingerprint(df)
            ok &= got == self.expected[q]
        return ok

    def layer_metrics(self, cycle: int, store: StatusStore) -> dict[str, float]:
        spans, _ = _cycle_spans(self.ctx.tracer, cycle)
        by_name = {s.name: s for s in spans}
        out = {
            "session.drop_query_caches_s": sum(
                s.end - s.start for s in spans if s.name == "session.drop_query_caches"
            )
        }
        for q in NFT_QUERIES:
            g, b, a = (by_name[f"plans.{q}{x}"] for x in ("", ".build", ".action"))
            wall = g.end - g.start
            jobs = store.job_intervals(g.job_lo, g.job_hi)
            st = store.stage_totals(g.job_lo, g.job_hi)
            out |= {
                f"plans.{q}.build_s": b.end - b.start,
                f"plans.{q}.driver_s": wall - union_length(jobs, g.start, g.end),
                f"plans.{q}.action_s": a.end - a.start,
                f"plans.{q}.jobs": len(jobs),
                f"stage.{q}.stages": st["stages"],
                f"stage.{q}.slot_util": st["task_s"] / (wall * self.ctx.slots),
                f"stage.{q}.task_s": st["task_s"],
                f"stage.{q}.gc_s": st["gc_s"],
                f"stage.{q}.shuffle_mb": st["shuffle_mb"],
                f"functions.{q}.py_cpu_s": g.py_cpu_s,
            }
        return out


class DailyRepair:
    """The write path: a warehouse of lineitem partitioned by ship day,
    written once in setup. Before each cycle a seeded RNG deletes
    ``DAMAGED_DAYS`` day directories; the cycle is one
    ``pipeline.run_daily`` (gap scan, staged write, rename swap) plus
    the check that the repaired table equals its source."""

    name = "daily_repair"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.warehouse = os.path.join(ctx.data_dir, "warehouse")
        self.dirs_before: dict[str, int] = {}
        self.written: dict[int, tuple[int, int]] = {}

    def prepare(self) -> None:
        """Write the source table (the seed chooses damage, not rows)
        and the warehouse, and check the warehouse against the source
        in DuckDB."""
        spark, d = self.ctx.spark, self.ctx.data_dir
        inputs.write_tables(d, seed=0, tables=("lineitem",))
        ship = pq.read_table(f"{d}/lineitem.parquet", columns=["l_shipdate"])["l_shipdate"]
        last = pc.max(ship).as_py().date()
        self.days = [
            str(last - dt.timedelta(days=i)) for i in reversed(range(WAREHOUSE_DAYS))
        ]
        li = spark.read.parquet(f"{d}/lineitem.parquet").withColumn("d", F.to_date("l_shipdate"))
        self.source = li.filter(F.col("d") >= F.lit(self.days[0]).cast("date"))
        # one writer task per day, several days at a time
        pipeline.write_daily_partitioned(
            self.source.repartition(self.ctx.slots, "d"), self.warehouse
        )
        con = duckdb.connect()
        diff = con.execute(
            f"""WITH wh AS (SELECT * EXCLUDE (d), CAST(d AS DATE) AS d FROM
                read_parquet('{self.warehouse}/*/*.parquet', hive_partitioning = true)),
            src AS (SELECT *, CAST(l_shipdate AS DATE) AS d FROM
                read_parquet('{d}/lineitem.parquet')
                WHERE CAST(l_shipdate AS DATE) >= DATE '{self.days[0]}')
            SELECT (SELECT count(*) FROM wh), (SELECT count(*) FROM src),
                (SELECT count(*) FROM (SELECT * FROM wh EXCEPT ALL SELECT * FROM src)),
                (SELECT count(*) FROM (SELECT * FROM src EXCEPT ALL SELECT * FROM wh))"""
        ).fetchone()
        con.close()
        self.prepare_problems = (
            [] if diff[0] == diff[1] and diff[2] == diff[3] == 0
            else [f"warehouse != source in DuckDB (rows, rows, extra, missing) = {diff}"]
        )
        self.expected = fingerprint(self.source)

    def validate(self) -> list[str]:
        """The first (cold) cycle, checked like every later one."""
        self.before_cycle()
        return self.prepare_problems + ([] if self.cycle() else ["first repair != source"])

    def before_cycle(self) -> None:
        for day in self.rng.sample(self.days[:-1], DAMAGED_DAYS):
            shutil.rmtree(f"{self.warehouse}/d={day}")
        self.dirs_before = self._partition_dirs()

    def _partition_dirs(self) -> dict[str, int]:
        with os.scandir(self.warehouse) as it:
            return {e.name: e.inode() for e in it if e.name.startswith("d=")}

    @contextmanager
    def _traced_writes(self):
        """Wrap ``pipeline.write_daily_partitioned`` in a span while the
        tracer is on, so ``run_daily``'s write calls are timed."""
        tr, inner = self.ctx.tracer, pipeline.write_daily_partitioned

        def traced(*args, **kwargs):
            with tr.span("operators.atomic_swap"):
                return inner(*args, **kwargs)

        pipeline.write_daily_partitioned = traced
        try:
            yield
        finally:
            pipeline.write_daily_partitioned = inner

    def cycle(self) -> bool:
        tr, first, last = self.ctx.tracer, self.days[0], self.days[-1]
        with self._traced_writes() if tr.enabled else nullcontext():
            with tr.span("pipeline.run_daily"):
                out = pipeline.run_daily(
                    self.ctx.spark,
                    self.warehouse,
                    lambda days: self.source.filter(F.col("d").isin(list(days))),
                    run_date=last,
                    lookback_start=first,
                    lookback_end=last,
                )
        with tr.span("check.verify"):
            ok = fingerprint(out) == self.expected
        if tr.enabled:
            after = self._partition_dirs()
            new = [n for n, ino in after.items() if self.dirs_before.get(n) != ino]
            files = sum(
                1
                for n in new
                for f in os.listdir(f"{self.warehouse}/{n}")
                if f.endswith(".parquet")
            )
            self.written[tr.cycle] = (len(new), files)
        return ok

    def layer_metrics(self, cycle: int, store: StatusStore) -> dict[str, float]:
        spans, selfs = _cycle_spans(self.ctx.tracer, cycle)
        rd = next(s for s in spans if s.name == "pipeline.run_daily")
        swaps = [s for s in spans if s.name == "operators.atomic_swap"]
        verify = next(s for s in spans if s.name == "check.verify")
        write_s = sum(
            union_length(store.job_intervals(s.job_lo, s.job_hi), s.start, s.end)
            for s in swaps
        )
        st = store.stage_totals(rd.job_lo, rd.job_hi)
        parts, files = self.written[cycle]
        return {
            "pipeline.run_daily_s": selfs["pipeline.run_daily"],
            "pipeline.gap_scan_s": swaps[0].start - rd.start,
            "operators.atomic_swap.write_s": write_s,
            "operators.atomic_swap.swap_s": sum(s.end - s.start for s in swaps) - write_s,
            "pipeline.partitions_written": parts,
            "pipeline.files_written": files,
            "pipeline.written_mb": st["output_mb"],
            "stage.run_daily.stages": st["stages"],
            "stage.run_daily.task_s": st["task_s"],
            "stage.run_daily.slot_util": st["task_s"] / ((rd.end - rd.start) * self.ctx.slots),
            "check.verify_s": verify.end - verify.start,
        }


WORKLOADS = {w.name: w for w in (NftCascade, DailyRepair)}
