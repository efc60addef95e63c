"""Same-host A/B of spark.sql.join.preferSortMergeJoin over a query list.

The r12 verdict flagged a consistent ~1.3-1.6x slowdown on the
Jaccard/shingle tier across all four post-round runs, coincident with
the session-global preferSortMergeJoin=false flip (session.py). This
script measures ONE session (the env var SPARK_GRAFT_PREFER_SMJ decides
the join preference) over the named queries with the bench protocol
(shared-pipeline materialization first, then best-of-N collect per
query), and prints one JSON line. Run it alternately with
SPARK_GRAFT_PREFER_SMJ=true / =false on a quiet host (ABAB ordering) so
host-window drift cancels; compare the per-query numbers across the
paired runs.

Usage:
  SPARK_GRAFT_PREFER_SMJ=true  python scripts/ab_joinpref.py q1 q2 ...
  SPARK_GRAFT_PREFER_SMJ=false python scripts/ab_joinpref.py q1 q2 ...
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bigdata2016w_spark import get_spark  # noqa: E402
from bigdata2016w_spark.registry import all_specs  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    reps = int(os.environ.get("AB_REPS", "3"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="ab-joinpref")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    from bigdata2016w_spark.plans import pipeline as _pipe
    from bigdata2016w_spark.shared import forget

    specs = all_specs()
    out: dict[str, float] = {}
    jvm_gc = spark.sparkContext._jvm.System.gc

    # shared pipeline first, exactly like bench.py: forgotten entries, the
    # second materialization stays warm for the consumers
    best = float("inf")
    for _ in range(2):
        forget(spark, ("jaccard_pairs", sf_dir, _pipe.JACCARD_THRESHOLD))
        forget(spark, ("shingles", sf_dir))
        t0 = time.perf_counter()
        _pipe._shared_jaccard_pairs(spark, sf_dir).count()
        best = min(best, time.perf_counter() - t0)
    _pipe._shared_jaccard_pairs(spark, sf_dir).count()
    out["shared_shingle_pairs_pipeline"] = round(best, 3)

    for name in names:
        spark.sparkContext.setJobDescription(f"ab:{name}")
        jvm_gc()
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            specs[name].fn(spark, sf_dir).collect()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
        spark.sparkContext.setJobDescription(None)

    print(json.dumps({
        "prefer_smj": os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        "queries": out,
        "total": round(sum(out.values()), 3),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
