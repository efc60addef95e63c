"""Report on traced runs: per-op layer self times, the tracing overhead
against an untraced run, and whether counters repeat across traced runs.

    python3 perfbench/report.py TRACED.json [TRACED2.json] [--untraced RUN.json]

The inputs are the run records ``run.py`` writes under ``perfbench/out/``.
Give two traced runs of the same workload and seed to check repeatability,
and an untraced run of the same workload and seed for the overhead.
"""

from __future__ import annotations

import argparse
import json
from pathlib import Path

SELF = ("catalog.load_s", "plans.build_s", "catalyst.plan_s", "exec.collect_s",
        "sinks.write_s", "streaming.self_s", "op.residual_s")
COUNTS = ("exec.jobs", "catalog.load_jobs", "plans.build_jobs", "driver.py4j_calls",
          "ppjoin.candidates")
# counters that must repeat exactly across traced runs of one seed
EXACT = ("exec.jobs", "catalog.load_jobs", "ppjoin.shingle_rows",
         "ppjoin.candidates", "ppjoin.verified")


def _load(path):
    return json.loads(Path(path).read_text())


def _key(r):
    return (r["pass"], r["op"])


def per_op_table(traced, untraced) -> list[str]:
    plain = {_key(r): r["wall_s"] for r in untraced["records"]} if untraced else {}
    short = [k.split(".")[0] if k != "op.residual_s" else "resid" for k in SELF]
    head = (["pass", "op", "wall"] + short + ["untraced", "unt_resid"]
            + [c.split(".")[-1] for c in COUNTS])
    table = [head]
    for r in traced["records"]:
        c = r["counts"]
        layers = sum(c[k] for k in SELF if k != "op.residual_s")
        u = plain.get(_key(r))
        row = [str(r["pass"]), r["op"], f"{r['wall_s']:.3f}"]
        row += [f"{c[k]:.3f}" for k in SELF]
        row += [f"{u:.3f}" if u is not None else "-",
                f"{u - layers:.3f}" if u is not None else "-"]
        row += [str(int(c[k])) for k in COUNTS]
        table.append(row)
    widths = [max(len(r[i]) for r in table) for i in range(len(head))]
    return ["  ".join(v.rjust(w) if i > 1 else v.ljust(w)
                      for i, (v, w) in enumerate(zip(r, widths))) for r in table]


def overhead(traced, untraced) -> list[str]:
    lines = [f"tracer's own time (trace.overhead_s): {traced['layers']['trace.overhead_s']:.3f} s"]
    if untraced:
        for phase in ("cold", "warm"):
            t = traced["layers"][f"{phase}.wall_s"]
            u = (untraced["metrics"]["cold_wall_s"] if phase == "cold"
                 else untraced["metrics"]["warm_wall_s"])
            lines.append(f"{phase} pass wall: traced {t:.3f} s, untraced {u:.3f} s, "
                         f"overhead {t - u:+.3f} s ({(t - u) / u:+.1%})")
    return lines


def repeatability(a, b) -> list[str]:
    ra = {_key(r): r["counts"] for r in a["records"]}
    rb = {_key(r): r["counts"] for r in b["records"]}
    lines = []
    for k in EXACT + ("driver.py4j_calls",):
        diffs = [(key, ra[key][k], rb[key][k]) for key in ra
                 if key in rb and ra[key][k] != rb[key][k]]
        if not diffs:
            lines.append(f"{k}: repeats exactly on all {len(ra)} ops")
        else:
            spread = max(abs(x - y) / max(x, y, 1) for _, x, y in diffs)
            tag = "NOT REPEATABLE" if k in EXACT else "differs"
            lines.append(f"{k}: {tag} on {len(diffs)} ops, max relative spread "
                         f"{spread:.2%}; first: {diffs[0]}")
    return lines


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("traced", nargs="+")
    ap.add_argument("--untraced")
    a = ap.parse_args()
    runs = [_load(p) for p in a.traced]
    untraced = _load(a.untraced) if a.untraced else None
    print(f"# {runs[0]['stamp']['workload']} seed {runs[0]['stamp']['seed']}")
    print("\n## per-op layer self times (s) and counts")
    print("\n".join(per_op_table(runs[0], untraced)))
    print("\n## tracing overhead")
    print("\n".join(overhead(runs[0], untraced)))
    if len(runs) > 1:
        print("\n## repeatability across traced runs")
        print("\n".join(repeatability(runs[0], runs[1])))


if __name__ == "__main__":
    main()
