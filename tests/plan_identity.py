"""Print the plans every untraced ``beam_dofn`` benchmark job lowers.

Runs each job of ``perfbench.jobs.workload_jobs("beam_dofn",
traced=False)`` once on small generated inputs, records the optimized
and physical plan of every DataFrame ``PlanContext.lower`` returns, and
prints them with expression ids (``#12L``) and ``plan_id=N`` normalized
away. Run it against two trees over the same data directory and diff
the outputs: identical plans mean a change to the lowering cannot move
the benchmark's metrics.

    PYTHONPATH=<tree> python tests/plan_identity.py <data dir> > plans.txt

Inputs are generated into ``<data dir>`` on the first run and reused.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
from contextlib import nullcontext

import numpy as np

from beam_pyspark_runner_spark.plans.dag import PlanContext
from beam_pyspark_runner_spark.session import get_spark
from perfbench import datagen
from perfbench.jobs import Ctx, workload_jobs


class _NoTracer:
    def span(self, *_args, **_kwargs):
        return nullcontext()


def normalized_plan(df) -> str:
    qe = df._jdf.queryExecution()
    text = f"{qe.optimizedPlan()}\n{qe.executedPlan()}"
    return re.sub(r"plan_id=\d+", "plan_id=N", re.sub(r"#\d+L?", "#N", text))


def main(data_dir: str) -> int:
    beam_dir = os.path.join(data_dir, "beam")
    if not os.path.isdir(beam_dir):
        datagen.write_beam_inputs(beam_dir, np.random.default_rng(0), 200, 2_000, 100)
    sink_dir = os.path.join(data_dir, "sink")
    spark = get_spark(app_name="plan-identity")
    lowered: list = []
    lower = PlanContext.lower

    def recording_lower(self, *terminals):
        dfs = lower(self, *terminals)
        lowered.extend(dfs)
        return dfs

    PlanContext.lower = recording_lower
    for job in workload_jobs("beam_dofn", traced=False):
        shutil.rmtree(sink_dir, ignore_errors=True)
        lowered.clear()
        job.execute(Ctx(spark, _NoTracer(), "", beam_dir, sink_dir))
        for i, df in enumerate(lowered):
            print(f"=== {job.name} [{i}]\n{normalized_plan(df)}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
