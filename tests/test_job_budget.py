"""Job budget of the daily incremental run. At a day's sizes the run
is fixed overhead: the number of Spark jobs it launches, not the rows
it moves, sets its cost. The budget pins that number for one
smoke-size day of the benchmark's `day_small` op: the source commit
plus `run_incremental_pipeline` over `e2e_q._pipeline_stages`."""

from __future__ import annotations

import os
import sys

# the benchmark's modules import each other by top-level name
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench"))

from spans import Tracer  # noqa: E402
from workloads import DayWorkload  # noqa: E402

#: jobs of the smoke day (seed 3). Every refresh publishes one commit:
#: its retraction deletes ride the upsert (`foreach_batch_upsert`'s
#: ``deletes=``) instead of an emptiness probe plus a deletion-vector
#: commit of their own. The text index's delta takes its new and
#: removed doc-length sums in one aggregate, after one emptiness probe.
DAY_JOB_BUDGET = 80


def test_day_run_job_budget(spark, tmp_path):
    wl = DayWorkload(str(tmp_path), "smoke")
    wl.setup(spark, 3)
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.dagScheduler().numTotalJobs()
    wl.op(spark, Tracer(spark, enabled=False), 1)
    jobs = jsc.dagScheduler().numTotalJobs() - before
    assert jobs <= DAY_JOB_BUDGET, jobs
