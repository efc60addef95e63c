"""Benchmark harness: times every registered query at $SPARK_GRAFT_SF_DIR.

Prints two JSON lines, the full payload and then a compact one; the last
line is the machine contract:
  {"metric": "suite_wall", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "ann_serve": {...}, "ppjoin": {...},
   "sf": <scale factor>, "sf_dir": <input dir>, "cpus": <parallelism>}
The compact line keeps the 16 slowest queries; every query's time is in
the full line and in BENCH_LOCAL.json, which each run rewrites.

Each query is executed to completion (collect) so the number is end-to-end
wall clock including scan, shuffle, and result fetch — comparable to the
reference's published job wall-clocks (BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from bigdata2016w_spark import get_spark  # noqa: E402
from bigdata2016w_spark.registry import all_specs  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.removeprefix("sf") or "0.1")
    spark = get_spark(app_name="bigdata2016w-bench")
    spark.sparkContext.setLogLevel("WARN")

    # warm the JVM/codegen once so the first timed query isn't charged
    # session startup
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    specs = all_specs()
    timings: dict[str, float] = {}

    # The shared shingle/Jaccard-pairs pipeline (plans/pipeline.py) is
    # memoized per (session, sf_dir) and consumed by several registered
    # queries — whichever consumer runs first would otherwise be charged
    # its full cost and the rest ~0. Materialize it up front as an
    # explicit bench line so the PPJoin path can't hide in consumer
    # timings; consumers below then show their marginal cost. Same
    # best-of-2 protocol as the queries (the shared entries are forgotten
    # between runs so both fully re-materialize; run 1 pays one-time
    # codegen); the second materialization stays shared for the consumers.
    from bigdata2016w_spark.plans import pipeline as _pipe

    from bigdata2016w_spark.operators.dedup import jaccard_near_dupes
    from bigdata2016w_spark.sources.catalog import load_table

    # run 1: un-memoized with Observations attached so the artifact
    # records the PPJoin cost breakdown (shingle rows → post-filter
    # candidates → verified pairs) — candidate/doc growth across rounds
    # is the skew signal a profiler would otherwise hide. run 2: through
    # the memoized path, leaving the cache warm for the consumers below.
    _pipe.forget_jaccard_pairs(spark, sf_dir)
    m: dict = {}
    t0 = time.perf_counter()
    jaccard_near_dupes(load_table(spark, sf_dir, "documents"), metrics=m).count()
    best = time.perf_counter() - t0
    ppjoin_metrics = {k: int(v.get["n"]) for k, v in m.items()}
    _pipe.forget_jaccard_pairs(spark, sf_dir)
    t0 = time.perf_counter()
    _pipe._shared_jaccard_pairs(spark, sf_dir).count()
    best = min(best, time.perf_counter() - t0)
    timings["shared_shingle_pairs_pipeline"] = round(best, 3)

    jvm_gc = spark.sparkContext._jvm.System.gc

    for i, (name, spec) in enumerate(specs.items()):
        # best of 2: the first execution of a plan shape pays one-time
        # whole-stage-codegen (Janino) compilation that a long-lived
        # cluster amortizes away; steady-state is the honest number.
        # collect() fully materializes (every query returns a small
        # grouped/top-k result).
        if i % 16 == 0:
            # periodic full GC: a 116-query single-JVM suite accumulates
            # old-gen + codegen-cache pressure that inflated late-suite
            # timings ~2-3x in round 3 (q6: 2.86 s in-suite vs 0.75 s
            # isolated); an occasional explicit collection keeps suite
            # numbers near isolated ones without a session per block
            jvm_gc()
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            _ = spec.fn(spark, sf_dir).collect()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
    total = round(sum(timings.values()), 3)

    # ANN fit-vs-serve split: the suite's ann_* lines re-fit Lloyd/PQ
    # per run (the registered queries are self-contained), but production
    # serves from the PERSISTED index — so the artifact carries both:
    # ann_ivfpq_index_build (the one-time fit+write) and two *_serve
    # lines (best-of-3 probe against the already-built index, the number
    # a steady-state deployment sees). A separate section, not the
    # timings map: these aren't registered queries, and suite_wall stays
    # comparable round-over-round.
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from bigdata2016w_spark.operators.similarity import knn_from_index
    from bigdata2016w_spark.plans.pipeline import (
        _IVF_PROBE,
        KNN_K,
        KNN_QUERY_IDS,
        RERANK_FACTOR,
        _shared_valid_embeddings,
    )
    from bigdata2016w_spark.sources.sinks import write_ivfpq_index

    ann_serve: dict[str, float] = {}
    idx_root = tempfile.mkdtemp(prefix="bench_ivfpq_idx_")
    try:
        emb = _shared_valid_embeddings(spark, sf_dir)
        queries_df = emb.where(F.col("vec_id").isin(*KNN_QUERY_IDS))
        jvm_gc()
        t0 = time.perf_counter()
        write_ivfpq_index(emb, f"{idx_root}/idx")
        ann_serve["ann_ivfpq_index_build"] = round(
            time.perf_counter() - t0, 3)
        for name, fn in (
            ("ann_ivfpq_from_index_serve", lambda: knn_from_index(
                spark, f"{idx_root}/idx", queries_df, KNN_K,
                n_probe=_IVF_PROBE)),
            ("ann_ivfpq_rerank_from_index_serve",
             lambda: knn_from_index(
                 spark, f"{idx_root}/idx", queries_df, KNN_K,
                 n_probe=_IVF_PROBE, rerank=RERANK_FACTOR,
                 embeddings=emb)),
        ):
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                fn().collect()
                best = min(best, time.perf_counter() - t0)
            ann_serve[name] = round(best, 3)
    finally:
        shutil.rmtree(idx_root, ignore_errors=True)

    cpus = spark.sparkContext.defaultParallelism
    payload = {
        "metric": "suite_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "ann_serve": ann_serve,
        "ppjoin": ppjoin_metrics,
        "sf": sf,
        "sf_dir": sf_dir,
        "cpus": cpus,
    }
    # The full per-query artifact lives in committed BENCH_LOCAL.json —
    # per-query history survives regardless of stdout capture limits.
    Path(__file__).with_name("BENCH_LOCAL.json").write_text(
        json.dumps(payload, indent=1) + "\n"
    )
    # The driver tail-captures stdout and parses the LAST line, and a
    # one-line dump of every query overflowed that capture (BENCH_r03..r05:
    # "parsed": null). Print the full payload first for humans, then a
    # COMPACT machine line last: suite_wall + the slowest 16 suite
    # timings + the serve split + the PPJoin cost counters (~1 KB).
    print(json.dumps(payload))
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:16])
    compact = {
        "metric": "suite_wall",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "n_queries": len(timings),
        "queries_full": "BENCH_LOCAL.json",
        "ann_serve": ann_serve,
        "ppjoin": ppjoin_metrics,
        "sf": sf,
        "sf_dir": sf_dir,
        "cpus": cpus,
    }
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    main()
