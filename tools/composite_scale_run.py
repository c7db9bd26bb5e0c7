"""Run the judged composites end-to-end at sf1 and record wall clock
plus shuffle volume — the round-6 verdict item 6: captures the
COMPOSITE pipelines at 10x the tuning scale for SCALE.md.

    python tools/composite_scale_run.py [sf_dir] [query ...]

Shuffle metrics come from Spark's status store (the UI stays off):
each query's run is a perfbench ``Tracer`` span, and the stages of
the jobs submitted inside it give the summed shuffle read/write bytes
and the single largest stage write, which is the number that
predicts executor spill pressure at 100TB. Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_QUERIES = ["ep1_daily_pipeline", "ep8_corpus_pipeline", "ep10_rag_retrieval"]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scratch/sf1"
    names = sys.argv[2:] or DEFAULT_QUERIES

    from innercircle_etl_spark.plans import QUERIES
    from innercircle_etl_spark.session import drop_query_caches, get_spark
    from perfbench.spans import StatusStore, Tracer

    spark = get_spark(
        app_name="composite_scale",
        # keep every stage of a stage-heavy query in the status store:
        # the default (1000) can evict its early stages and the summed
        # shuffle totals would undercount
        extra_conf={"spark.ui.retainedStages": "20000"},
    )
    tracer = Tracer(spark.sparkContext._jsc.sc().dagScheduler().nextJobId, lambda: 0.0)
    tracer.enabled = True
    out = {}
    for name in names:
        fn = QUERIES[name]
        # untimed warm-in at sf0.01 (JIT ramp), caches dropped after
        fn(spark, "/root/testdata/sf0.01").count()
        drop_query_caches(spark)
        with tracer.span(name):
            n = fn(spark, sf_dir).count()
        drop_query_caches(spark)
        s = tracer.spans[-1]
        stages = [st for job, st in StatusStore(spark).stages if s.job_lo <= job < s.job_hi]
        if s.job_hi > s.job_lo and not stages:
            # the store keeps a bounded stage list; if the query's
            # stages were evicted a summed total would silently
            # undercount — fail loudly instead
            raise RuntimeError(
                f"{name}: no stages of jobs {s.job_lo}..{s.job_hi - 1} in the "
                "status store; raise spark.ui.retainedStages"
            )
        out[name] = {
            "wall_s": round(s.end - s.start, 2),
            "rows": n,
            "shuffle_write_mb": round(sum(st["shuffleWriteBytes"] for st in stages) / 1e6, 1),
            "shuffle_read_mb": round(sum(st["shuffleReadBytes"] for st in stages) / 1e6, 1),
            "max_stage_write_mb": round(
                max((st["shuffleWriteBytes"] for st in stages), default=0) / 1e6, 1
            ),
        }
        print(f"# {name}: {out[name]}", file=sys.stderr)
    print(json.dumps({"sf_dir": sf_dir, "composites": out}))


if __name__ == "__main__":
    main()
