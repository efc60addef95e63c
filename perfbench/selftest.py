"""Self-test of the benchmark on the sf0.001 tables (a few minutes).

    python3 perfbench/selftest.py

Checks that:
- two seeds give different op orders over the same op multiset;
- every metric BENCHMARK.json names is emitted, with its unit, by an
  untraced and a traced run of each workload it names;
- a corrupted op result, injected here at the result check, makes the
  run report failed > 0 and correct = false;
- without the package next to it the benchmark exits non-zero and prints
  no result.
"""

from __future__ import annotations

import contextlib
import io
import json
import shutil
import subprocess
import sys
from collections import Counter

import check
import run
from workloads import WORKLOADS, pass_order

SF = run.HERE / "data" / "sf0.001"


def bench_run(workload, trace, corrupt=False) -> dict:
    real = run.run_worker

    def corrupted(*a, **k):
        result, t0 = real(*a, **k)
        result["records"][0]["digest"] = check.digest(["x"], [(1,)])
        return result, t0

    run.run_worker = corrupted if corrupt else real
    out = io.StringIO()
    try:
        with contextlib.redirect_stdout(out):
            code = run.main(["--workload", workload, "--seed", "7", "--seconds", "1",
                             "--trace", str(trace), "--sf-dir", str(SF)])
    finally:
        run.run_worker = real
    assert code == 0, f"{workload} trace {trace}: exit {code}"
    return json.loads(out.getvalue().strip().splitlines()[-1])


def main() -> None:
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())

    for w in WORKLOADS.values():
        a, b = pass_order(w, 1, 1), pass_order(w, 2, 1)
        assert Counter(a) == Counter(b) == Counter(w.ops), w.name
        assert a != b or len(w.ops) < 3, f"{w.name}: seeds 1 and 2 give one order"
    cols = ["k", "v"]
    assert check.digest(cols, [(1, 2.0), (2, 3.0)]) == check.digest(cols, [(2, 3.0), (1, 2.0)])
    assert check.digest(cols, [(1, 2.0)]) != check.digest(cols, [(1, 2.5)])
    print("selftest: seeded orders and digests ok")

    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            line = bench_run(w["name"], trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            assert got == want, f"{w['name']} trace {trace}: {set(got) ^ set(want)}"
            assert all(isinstance(v["value"], (int, float)) for v in line["metrics"].values())
            assert line["correct"] and line["failed"] == 0, line
            print(f"selftest: {w['name']} trace {trace}: {len(got)} metrics, "
                  f"{line['attempted']} ops, all correct")

    line = bench_run(spec["workloads"][0]["name"], 0, corrupt=True)
    assert line["failed"] > 0 and not line["correct"], line
    print(f"selftest: corrupted result -> failed {line['failed']}/{line['attempted']}")

    bare = run.OUT / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(run.ROOT / "BENCHMARK.json", bare)
        shutil.copytree(run.HERE, bare / run.HERE.name,
                        ignore=shutil.ignore_patterns("out", ".cache", "__pycache__"))
        p = subprocess.run([sys.executable, *spec["command"][1:], "--workload",
                            spec["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                            "--trace", "0"], cwd=bare, capture_output=True, text=True,
                           timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0 and "correct" not in p.stdout, (p.returncode, p.stdout)
    print(f"selftest: bare directory -> exit {p.returncode}, no result")
    print("selftest: ok")


if __name__ == "__main__":
    main()
