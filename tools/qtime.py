"""Isolated per-query timer and tracer for one-off runs.

Usage: python tools/qtime.py <query> [query ...]

Each query is warmed once at sf0.001 (code generation) and once,
untimed, at the measured SF (JIT), then timed over reps of count()
on the final DataFrame with caches dropped between reps. Every rep
is a perfbench ``Tracer`` span; its jobs and stages are read back
from Spark's status store (the UI stays off), so each rep reports
wall, jobs, stages, summed task time (``task_s``), ``slot_util``
(task time over wall × cores) and shuffle read + write
(``shuffle_mb``). Reps via $SPARK_GRAFT_QTIME_REPS (default 3), sf
dir via $SPARK_GRAFT_SF_DIR (default sf0.1). Prints one JSON line;
one line per rep on stderr.

The session is ``session.get_spark``'s: ``local[N]`` with N from
$SPARK_GRAFT_CPUS, else the CPUs this process may use. Its driver
heap defaults to 90g, so set $SPARK_DRIVER_MEM to fit the host (e.g.
``SPARK_DRIVER_MEM=4g`` on a 15 GB machine); a heap larger than the
host's free memory lets the JVM die mid-run ("Answer from Java side
is empty").
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from innercircle_etl_spark.plans import QUERIES  # noqa: E402
from innercircle_etl_spark.session import drop_query_caches, get_spark  # noqa: E402
from perfbench.spans import StatusStore, Tracer  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("SPARK_GRAFT_QTIME_REPS", "3"))


def main() -> dict:
    names = sys.argv[1:]
    spark = get_spark(app_name="qtime")
    sc = spark.sparkContext
    tracer = Tracer(sc._jsc.sc().dagScheduler().nextJobId, lambda: 0.0)
    tracer.enabled = True
    out = {}
    for name in names:
        fn = QUERIES[name]
        fn(spark, "/root/testdata/sf0.001").count()
        drop_query_caches(spark)
        fn(spark, SF_DIR).count()
        drop_query_caches(spark)
        reps = []
        for _ in range(REPS):
            with tracer.span(name):
                n = fn(spark, SF_DIR).count()
            drop_query_caches(spark)
            s, store = tracer.spans[-1], StatusStore(spark)
            wall = s.end - s.start
            st = store.stage_totals(s.job_lo, s.job_hi)
            reps.append({
                "wall_s": round(wall, 3),
                "jobs": len(store.job_intervals(s.job_lo, s.job_hi)),
                "stages": st["stages"],
                "task_s": round(st["task_s"], 3),
                "slot_util": round(st["task_s"] / (wall * sc.defaultParallelism), 3),
                "shuffle_mb": round(st["shuffle_mb"], 3),
            })
            print(f"# {name}: {reps[-1]}", file=sys.stderr)
        out[name] = {"n": n, "min": min(r["wall_s"] for r in reps), "reps": reps}
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main()
