"""One benchmark run in a fresh process, started by ``run.py``.

Sets up Spark, runs the workload's cold pass and its warm passes one op
at a time (closed loop, one client), digests every result outside the
op's timing, and writes everything measured to the ``--out`` JSON file.
With ``--trace 1`` the layers are wrapped by ``tracing.Tracer``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import time
from contextlib import nullcontext
from pathlib import Path

from check import digest
from workloads import WORKLOADS, pass_order, warm_passes


def make_ops(spark, sf_dir: str, out_dir: str) -> tuple[dict, dict]:
    """Returns ``(ops, readback)``. ``ops``: op name -> zero-argument
    callable returning the op's DataFrame, or None for an op whose result
    is a write under ``out_dir``. ``readback``: write op name -> callable
    returning the digest of what it wrote (run outside the op's timing)."""
    from bigdata2016w_spark.operators import retrieval
    from bigdata2016w_spark.registry import all_specs
    from bigdata2016w_spark.sources import catalog, sinks

    ops = {name: (lambda s=spec: s.fn(spark, sf_dir)) for name, spec in all_specs().items()}
    postings_path = f"{out_dir}/postings"

    def postings_write():
        docs = catalog.load_table(spark, sf_dir, "documents")
        sinks.write_postings(retrieval.postings_flat(docs), postings_path)

    def postings_digest():
        df = spark.read.parquet(postings_path)
        return digest(df.columns, df.collect())

    ops["postings_write"] = postings_write
    return ops, {"postings_write": postings_digest}


def _vm_hwm_kb(pid) -> int:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run_ops(workload, seed, n_warm, ops, readback, tracer):
    records = []
    for p in range(1 + n_warm):
        with tracer.block("pass", **{"pass": p}) if tracer else nullcontext():
            records += run_pass(workload, seed, p, ops, readback, tracer)
    return records


def run_pass(workload, seed, p, ops, readback, tracer):
    records = []
    for name in pass_order(workload, seed, p):
        rec = {"pass": p, "op": name, "error": None, "digest": None}
        rows = df = None
        if tracer is None:
            t0 = time.perf_counter()
            try:
                df = ops[name]()
                rows = df.collect() if df is not None else None
            except Exception as e:  # a failed op counts; the run goes on
                rec["error"] = f"{type(e).__name__}: {e}"[:400]
            rec["wall_s"] = time.perf_counter() - t0
        else:
            with tracer.op(name, p) as span:
                try:
                    with tracer.span("plans.build"):
                        df = ops[name]()
                    if df is not None:
                        with tracer.span("catalyst.plan") as plan:
                            qe = df._jdf.queryExecution()
                            qe.executedPlan()
                        tracer.catalyst_phases(plan, qe)
                        with tracer.span("exec.collect"):
                            rows = df.collect()
                except Exception as e:
                    rec["error"] = f"{type(e).__name__}: {e}"[:400]
            rec["wall_s"] = span["end"] - span["start"]
            rec["counts"] = span["counts"]
            rec["counts"]["exec.result_rows"] = len(rows or ())
        if rec["error"] is None:
            try:
                rec["digest"] = (digest(df.columns, rows) if df is not None
                                 else readback[name]())
            except Exception as e:
                rec["error"] = f"check: {type(e).__name__}: {e}"[:400]
        records.append(rec)
    return records


def end_to_end(records) -> dict:
    cold = [r["wall_s"] for r in records if r["pass"] == 0]
    warm_by_pass: dict[int, float] = {}
    for r in records:
        if r["pass"] > 0:
            warm_by_pass[r["pass"]] = warm_by_pass.get(r["pass"], 0.0) + r["wall_s"]
    return {
        "cold_wall_s": sum(cold),
        "warm_wall_s": _median(list(warm_by_pass.values())),
    }


def per_layer(records, cores: int) -> dict:
    from tracing import OP_COUNTS

    by_pass: dict[int, dict] = {}
    for r in records:
        acc = by_pass.setdefault(r["pass"], {k: 0.0 for k in OP_COUNTS} | {"wall_s": 0.0})
        acc["wall_s"] += r["wall_s"]
        for k, v in r["counts"].items():
            acc[k] += v
    for acc in by_pass.values():
        acc["exec.core_util"] = (acc["exec.executor_run_s"] / (acc["exec.job_wall_s"] * cores)
                                 if acc["exec.job_wall_s"] else 0.0)
        acc["ppjoin.verified_per_candidate"] = (acc["ppjoin.verified"] / acc["ppjoin.candidates"]
                                                if acc["ppjoin.candidates"] else 0.0)
    out = {f"cold.{k}": v for k, v in by_pass[0].items()}
    warm = [acc for p, acc in by_pass.items() if p > 0]
    for k in by_pass[0]:
        out[f"warm.{k}"] = _median([acc[k] for acc in warm])
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    for flag in ("--workload", "--sf-dir", "--out", "--tmp", "--local", "--sinks"):
        ap.add_argument(flag, required=True)
    for flag in ("--seed", "--trace"):
        ap.add_argument(flag, type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    a = ap.parse_args()

    workload = WORKLOADS[a.workload]
    n_warm = warm_passes(workload, a.seconds)

    from bigdata2016w_spark import get_spark

    t0 = time.time()
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={a.tmp} -XX:-UsePerfData"})
    t_spark = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    t_ready = time.time()

    sc = spark.sparkContext
    jvm = spark._jvm
    jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
    stamp = {
        "default_parallelism": sc.defaultParallelism,
        "java_version": jvm.java.lang.System.getProperty("java.version"),
        "warm_passes": n_warm,
    }
    tracer = None
    if a.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
    ops, readback = make_ops(spark, a.sf_dir, a.sinks)
    with tracer.block("run") if tracer else nullcontext():
        records = run_ops(workload, a.seed, n_warm, ops, readback, tracer)

    peak_rss_kb = 0
    if tracer is not None:
        peak_rss_kb = _vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)
        tracer.recount_ppjoin()
    spark.stop()
    from tracing import du_bytes

    tmp_left = du_bytes(a.tmp) + du_bytes(a.local)

    metrics = end_to_end(records)
    metrics["tmp_left_mb"] = tmp_left / (1024.0 * 1024.0)
    result = {"setup_done": t_ready, "stamp": stamp, "records": records,
              "metrics": metrics}
    if tracer is not None:
        layers = per_layer(records, stamp["default_parallelism"])
        layers.update({
            "session.get_spark_s": t_spark - t0,
            "session.first_job_s": t_ready - t_spark,
            "driver.peak_rss_mb": peak_rss_kb / 1024.0,
            "tmp.dirs_created": len(tracer.dirs_created),
            "tmp.dirs_left": tracer.dirs_left(),
            "trace.overhead_s": tracer.own_s,
        })
        result["layers"] = layers
        result["spans"] = tracer.spans
    Path(a.out).write_text(json.dumps(result))


if __name__ == "__main__":
    main()
