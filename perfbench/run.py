"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload in a fresh worker process (``worker.py``) on
``local[<cores>]`` with a private TMPDIR and SPARK_LOCAL_DIRS, checks
every op result, and prints two lines on stdout: an environment stamp,
then the result object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run. The full record (every op, and the spans of a
traced run) is written under ``perfbench/out/``. See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"
RUN_TIMEOUT_S = 150  # the worker; the stop that follows waits at most 30 s

def _source_digest() -> str:
    h = hashlib.sha256()
    for f in sorted((ROOT / "bigdata2016w_spark").rglob("*.py")):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    """HEAD of the checkout, read from .git without running git."""
    head = ROOT / ".git" / "HEAD"
    if not head.is_file():
        return None
    ref = head.read_text().strip()
    if ref.startswith("ref: "):
        ref_file = ROOT / ".git" / ref[5:]
        return ref_file.read_text().strip() if ref_file.is_file() else None
    return ref


def _cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks since boot, from /proc/stat (0, 0 elsewhere).
    Stolen time is what the hypervisor gave other guests: the share of
    it during a run tells a slow host from a slow program."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return sum(ticks[:8]), ticks[7] if len(ticks) > 7 else 0


def _steal_frac(start: tuple[int, int]) -> float | None:
    end = _cpu_ticks()
    return (end[1] - start[1]) / (end[0] - start[0]) if end[0] > start[0] else None


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group and wait until it
    is gone (the JVM and Python daemons outlive the worker briefly)."""
    start = time.monotonic()
    while time.monotonic() - start < 30:
        proc.poll()  # reap the worker: a zombie leader keeps the group alive
        try:
            os.killpg(proc.pid, signal.SIGTERM if time.monotonic() - start < 10
                      else signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    print("perfbench: worker processes did not exit", file=sys.stderr)


def run_worker(args, sf_dir: Path, run_dir: Path) -> tuple[dict, float]:
    # tmp and local are the session's scratch space, measured for
    # tmp_left_mb; sinks holds what the write ops produce on purpose
    tmp, local, sinks = run_dir / "tmp", run_dir / "local", run_dir / "sinks"
    for d in (tmp, local, sinks):
        d.mkdir(parents=True)
    out = run_dir / "result.json"
    cores = len(os.sched_getaffinity(0))
    # get_spark's knobs (master, partitions, heap, join and state store)
    # keep their defaults, whatever the caller's shell sets
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(PYTHONPATH=str(ROOT), TMPDIR=str(tmp), SPARK_LOCAL_DIRS=str(local),
               SPARK_GRAFT_CPUS=str(cores), SPARK_GRAFT_WAREHOUSE=str(tmp / "warehouse"))
    cmd = [sys.executable, str(HERE / "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--sf-dir", str(sf_dir), "--out", str(out),
           "--tmp", str(tmp), "--local", str(local), "--sinks", str(sinks)]
    t0 = time.time()
    proc = subprocess.Popen(cmd, env=env, cwd=run_dir, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, start_new_session=True)
    try:
        proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker exceeded {RUN_TIMEOUT_S}s", file=sys.stderr)
    finally:
        _stop_group(proc)
    if proc.returncode != 0 or not out.is_file():
        raise SystemExit(f"perfbench: worker failed (exit {proc.returncode})")
    return json.loads(out.read_text()), t0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf-dir", type=Path, default=HERE / "data" / "sf0.01",
                    help="input tables (default: the committed sf0.01 copy)")
    args = ap.parse_args(argv)
    # a terminated run still stops its worker group (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "bigdata2016w_spark" / "__init__.py").is_file():
        print(f"perfbench: no bigdata2016w_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    sf_dir = args.sf_dir.resolve()
    load_start, ticks_start = os.getloadavg(), _cpu_ticks()

    import pyspark
    from check import expected_digests

    expected = expected_digests(workload.ops, sf_dir)
    run_dir = OUT / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        result, t0 = run_worker(args, sf_dir, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failures = []
    for r in result["records"]:
        want = expected.get(r["op"])
        if r["error"] is None and want is None:
            r["error"] = "no expected digest"
        elif r["error"] is None and r["digest"] != want:
            r["error"] = "result differs from the expected digest"
        if r["error"] is not None:
            failures.append(f"pass {r['pass']} {r['op']}: {r['error']}")
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.trace:
        wanted, values = spec["per_layer"], result["layers"]
    else:
        wanted = spec["end_to_end"]
        values = dict(result["metrics"], setup_s=result["setup_done"] - t0)
    stamp = dict(result["stamp"], workload=args.workload, seed=args.seed,
                 seconds=args.seconds, trace=args.trace, sf_dir=str(sf_dir),
                 cores=len(os.sched_getaffinity(0)), python=sys.version.split()[0],
                 pyspark=pyspark.__version__, git_commit=_git_commit(),
                 source_digest=_source_digest(), loadavg_start=load_start,
                 loadavg_end=os.getloadavg(), cpu_steal_frac=_steal_frac(ticks_start))
    line = {
        "correct": not failures,
        "attempted": len(result["records"]),
        "failed": len(failures),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }
    OUT.mkdir(exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json"
    (OUT / name).write_text(json.dumps(dict(result, stamp=stamp, summary=line)))
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
