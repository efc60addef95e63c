"""Rewrite ``digests.json``: the expected result digest of every workload
op that has no DuckDB oracle, for each committed data directory.

    PYTHONPATH=. python3 perfbench/digests.py

Run it only when such an op's output is meant to change, and say so in
the change that commits the new digests.
"""

from __future__ import annotations

import json
import sys
import tempfile

from check import DIGESTS_FILE, HERE, digest
from worker import make_ops
from workloads import WORKLOADS


def main() -> None:
    from bigdata2016w_spark import get_spark
    from bigdata2016w_spark.registry import all_specs

    specs = all_specs()
    names = sorted({op for w in WORKLOADS.values() for op in w.ops
                    if op not in specs or specs[op].oracle is None})
    spark = get_spark(app_name="perfbench-digests")
    out = {}
    try:
        with tempfile.TemporaryDirectory() as tmp:
            for sf_dir in sorted((HERE / "data").iterdir()):
                ops, readback = make_ops(spark, str(sf_dir), f"{tmp}/{sf_dir.name}")
                for name in names:
                    df = ops[name]()
                    d = (digest(df.columns, df.collect()) if df is not None
                         else readback[name]())
                    out[f"{sf_dir.name}/{name}"] = d
                    print(sf_dir.name, name, d, file=sys.stderr)
    finally:
        spark.stop()
    DIGESTS_FILE.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
