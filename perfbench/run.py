"""Run one benchmark workload in a fresh process and print its metrics.

Run from the repository root; the deployment settings are the leading
arguments of ``command`` in BENCHMARK.json:

    python3 perfbench/run.py --cpus 4 --driver-mem 2g --scratch perfbench/.work \\
        --workload nft_cascade --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it gives the detail (cycle walls, warm-up, problems found). With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones, taken from spans around every call into
the program. The traced run reports its own cycle time
(``trace.cycle_s``, to compare with ``cycle_s`` of untraced runs) and
the time spent in span bookkeeping (``trace.cost_s``).

One client drives one Spark driver on ``local[N]`` in a closed loop:
each cycle starts when the previous one ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--cpus", type=int, required=True, help="local[N]; capped at the CPUs this process may use")
    p.add_argument("--driver-mem", required=True, help="spark.driver.memory, e.g. 2g")
    p.add_argument("--scratch", required=True, help="work directory, relative to the repository root")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "innercircle_etl_spark")):
        print(f"perfbench: no innercircle_etl_spark/ package under {ROOT}", file=sys.stderr)
        return 2
    cpus = max(1, min(args.cpus, len(os.sched_getaffinity(0))))
    scratch = os.path.join(ROOT, args.scratch)
    work = os.path.join(scratch, f"run-{os.getpid()}")
    for sub in ("spark-local", "graft-scratch", "tmp", "data"):
        os.makedirs(os.path.join(work, sub))
    # before the program is imported: some modules read these at import
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=args.driver_mem,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_SCRATCH=os.path.join(work, "graft-scratch"),
        TMPDIR=os.path.join(work, "tmp"),
        # the launcher JVM spark-submit starts first would write /tmp/hsperfdata_*
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        # glibc gives each JVM thread its own malloc arena (up to 32 on
        # 4 CPUs), and how many get touched varied the JVM's resident set
        # by up to 300 MB between runs; 4 is Hadoop's setting for its JVMs
        MALLOC_ARENA_MAX="4",
    )
    sys.path[0] = ROOT  # import perfbench and the program as packages
    try:
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        detail, result = run(args, WORKLOADS[args.workload], cpus, work, scratch)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


def run(args, workload_cls, cpus, work, scratch):
    from perfbench.spans import ProcessTree, StatusStore, Tracer
    from perfbench.workloads import END_TO_END, Context, per_layer_units

    procs = ProcessTree()
    t0 = time.perf_counter()
    spark = _start_spark(work, args.driver_mem)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    t_session = time.perf_counter()
    tracer = Tracer(dag.nextJobId, procs.python_worker_cpu_s)
    wl = workload_cls(Context(spark, tracer, os.path.join(work, "data"), args.seed, cpus))
    problems: list[str] = []
    try:
        wl.prepare()
        t_inputs = time.perf_counter()
        # Warm-up: two cycles are discarded. The first, cold one also
        # checks every output against its oracle; it takes about three
        # times a steady cycle (JIT, code generation, Python worker
        # start). The second still runs 15-30% slow; from the third on
        # cycles are steady. A third discarded cycle would not fit 48
        # runs into the benchmark's time budget.
        problems += wl.validate()
        warm = _cycle(wl, procs, dag, tracer, False, -1)
        if not warm["ok"]:
            problems.append(f"warm-up cycle: {warm['error']}")
        t_setup = time.perf_counter()

        cycles = []
        deadline = t_setup + args.seconds
        while not cycles or time.perf_counter() < deadline:
            cycles.append(_cycle(wl, procs, dag, tracer, bool(args.trace), len(cycles)))
        store = StatusStore(spark)
    finally:
        _stop_spark(spark, procs)

    failed = sum(not c["ok"] for c in cycles)
    problems += [f"cycle {i}: {c['error']}" for i, c in enumerate(cycles) if not c["ok"]]
    if args.trace:
        layers = [wl.layer_metrics(c["index"], store) for c in cycles]
        values = {name: _median(layers, name) for name in per_layer_units()}
        values |= {
            "session.get_spark_s": t_session - t0,
            "setup.inputs_s": t_inputs - t_session,
            "setup.warm_s": t_setup - t_inputs,
            "trace.cycle_s": statistics.median(c["wall"] for c in cycles),
            "trace.cost_s": tracer.cost_s / len(cycles),
            "trace.unattributed_s": statistics.median(
                _unattributed(tracer, c["index"]) for c in cycles
            ),
        }
        units = per_layer_units()
        tracer.dump(os.path.join(scratch, f"spans-{args.workload}.json"))
    else:
        values = {
            "setup_s": t_setup - t0,
            "cycle_s": statistics.median(c["wall"] for c in cycles),
            "cpu_s": statistics.median(c["cpu"] for c in cycles),
            "peak_rss_mb": statistics.median(sum(mb for _, mb in c["rss"].values()) for c in cycles),
            "shuffle_mb": statistics.median(
                store.stage_totals(c["job_lo"], c["job_hi"])["shuffle_mb"] for c in cycles
            ),
        }
        units = END_TO_END
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": cpus,
        "driver_mem": args.driver_mem,
        "cycles": len(cycles),
        "cycle_walls": [round(c["wall"], 3) for c in cycles],
        "warm_cycles_discarded": 2,
        "warm_s": round(t_setup - t_inputs, 3),
        # [processes, MB] by command, to tell a change in the number of
        # Python workers from one in any process's own memory
        "cycle_peak_rss_mb": [{k: [n, round(mb)] for k, (n, mb) in c["rss"].items()} for c in cycles],
        "problems": problems,
    }
    result = {
        "correct": not problems,
        "attempted": len(cycles),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    return detail, result


def _cycle(wl, procs, dag, tracer, traced: bool, index: int) -> dict:
    """Run one cycle; a cycle fails if it raises or its check fails."""
    wl.before_cycle()
    tracer.enabled, tracer.cycle = traced, index
    procs.reset_peak_rss()
    cpu0, job0, t = procs.cpu_s(), dag.nextJobId(), time.perf_counter()
    error = None
    try:
        with tracer.span("cycle"):
            ok = wl.cycle()
        if not ok:
            error = "output fingerprint mismatch"
    except Exception:  # a failed cycle is counted, and the loop goes on
        traceback.print_exc()
        ok, error = False, traceback.format_exc(limit=1).splitlines()[-1]
    wall = time.perf_counter() - t
    tracer.enabled = False
    return dict(
        index=index,
        ok=ok,
        error=error,
        wall=wall,
        cpu=procs.cpu_s() - cpu0,
        rss=procs.peak_rss_by_command(),
        job_lo=job0,
        job_hi=dag.nextJobId(),
    )


def _median(rows: list[dict], name: str) -> float:
    return statistics.median(r.get(name, 0.0) for r in rows)


def _unattributed(tracer, cycle: int) -> float:
    """Time of a traced cycle spent outside every layer span."""
    from perfbench.spans import cycle_self_times

    return next(t for s, t in cycle_self_times(tracer.spans, cycle) if s.name == "cycle")


def _start_spark(work: str, driver_mem: str):
    from innercircle_etl_spark.session import get_spark

    return get_spark(
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # The heap is fixed at its maximum and every page of it is
            # touched at start. A heap left to grow is sized by G1 from GC
            # timing, and its resident size varied by 0.2-0.25 of the
            # median between runs, past any usable bound; this way
            # peak_rss_mb is the heap plus what the program holds outside
            # it, and heap demand shows in gc_s, cpu_s and cycle_s instead.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -Xms{driver_mem} -XX:+AlwaysPreTouch"
            ),
            # keep every job and stage of the run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
    )


def _stop_spark(spark, procs) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until each process has ended."""
    from perfbench.spans import descendants

    children = [p for p in descendants(procs.root) if p != procs.root]
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    jvm = gateway.proc
    jvm.stdin.close()
    try:
        jvm.wait(timeout=30)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    deadline = time.monotonic() + 20
    for pid in children:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


if __name__ == "__main__":
    sys.exit(main())
