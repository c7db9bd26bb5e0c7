"""tools/qtime.py attributes each timed rep to its Spark jobs and
stages through perfbench's Tracer spans and the status store."""

from __future__ import annotations

import sys


def test_qtime_reports_jobs_stages_and_slot_use(spark, sf_dir, monkeypatch):
    from tools import qtime

    monkeypatch.setattr(qtime, "SF_DIR", sf_dir)
    monkeypatch.setattr(qtime, "REPS", 1)
    monkeypatch.setattr(sys, "argv", ["qtime.py", "a3_sum_min_max_avg"])
    reps = qtime.main()["a3_sum_min_max_avg"]["reps"]
    assert len(reps) == 1
    for r in reps:
        assert r["jobs"] >= 1 and r["stages"] >= 1, r
        assert r["task_s"] > 0 and r["slot_util"] > 0, r
