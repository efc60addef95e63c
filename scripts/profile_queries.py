"""Per-query time breakdown, layer by layer (measure first).

    python scripts/profile_queries.py [sf_dir] name [name ...]

``sf_dir`` defaults to the benchmark's tables, ``perfbench/data/sf0.01``.

Runs each named registered query twice under ``perfbench/tracing.Tracer``,
the benchmark's own tracer, and prints both runs: the first pays the
builds of session-shared intermediates, the second reads them. For each
run it prints the self time of each layer (table loads, plan build,
Catalyst planning, collect, sink writes, streaming micro-batches, and the
residual no layer covers), then its jobs, stages, tasks, Py4J round trips
and PPJoin counters. The first query of the session also pays JVM
warm-up, so list a cheap query first when that matters.
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(ROOT), str(ROOT / "perfbench")]

from bigdata2016w_spark import get_spark  # noqa: E402
from bigdata2016w_spark.registry import all_specs  # noqa: E402
from tracing import LAYER_METRIC, Tracer  # noqa: E402

COUNTS = ("exec.jobs", "exec.stages", "exec.tasks", "driver.py4j_calls",
          "ppjoin.shingle_rows", "ppjoin.candidates", "ppjoin.verified")


def traced_run(tracer: Tracer, spark, sf_dir: str, name: str, fn,
               run: int) -> dict:
    """One op the way ``perfbench/worker.py`` traces it."""
    with tracer.op(name, run) as op:
        with tracer.span("plans.build"):
            df = fn(spark, sf_dir)
        with tracer.span("catalyst.plan") as plan:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
        tracer.catalyst_phases(plan, qe)
        with tracer.span("exec.collect"):
            df.collect()
    return op


def main() -> None:
    names = sys.argv[1:]
    specs = all_specs()
    sf_dir = (names.pop(0) if names and names[0] not in specs
              else str(ROOT / "perfbench" / "data" / "sf0.01"))
    spark = get_spark(app_name="profile-queries")
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark)
    runs = {name: [traced_run(tracer, spark, sf_dir, name, specs[name].fn, r)
                   for r in (0, 1)]
            for name in names}
    tracer.recount_ppjoin()
    for name, ops in runs.items():
        for label, op in zip(("cold", "warm"), ops):
            c = op["counts"]
            print(f"{name} {label}: wall={op['end'] - op['start']:.3f}s")
            print("    self_s " + " ".join(
                f"{metric.removesuffix('_s')}={c[metric]:.3f}"
                for metric in LAYER_METRIC.values()))
            print("    " + " ".join(f"{k}={int(c[k])}" for k in COUNTS))
    spark.stop()


if __name__ == "__main__":
    main()
