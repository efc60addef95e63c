"""Result checking: every op result is reduced to a digest of its
order-insensitive row multiset and compared with an expected digest.

- Oracle-backed registry ops: the expected digest is the op's DuckDB
  oracle SQL run on the same tables. Oracle results are cached under
  ``perfbench/.cache`` keyed by the SQL text and the table bytes, because
  the O(n^2) dedup oracles take tens of seconds.
- Ops without an oracle: the expected digest is stored in
  ``perfbench/digests.json`` (``python3 perfbench/digests.py`` rewrites it).

The multiset semantics are those of ``tests/oracle.py``: columns sorted
by name, values normalized, rows sorted. Decimals are additionally
normalized so that equal values with different scales hash alike.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import os
from decimal import Decimal
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DIGESTS_FILE = HERE / "digests.json"
CACHE_DIR = HERE / ".cache"


@functools.cache
def _oracle():
    """The repo's test oracle module, loaded from its file."""
    spec = importlib.util.spec_from_file_location("oracle", ROOT / "tests" / "oracle.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _canon(v):
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, tuple):
        return tuple(_canon(x) for x in v)
    return v


def digest(cols, rows) -> str:
    """sha256 of the sorted column names and the normalized row multiset."""
    ms = [_canon(r) for r in _oracle().rows_to_multiset(list(cols), [tuple(r) for r in rows])]
    h = hashlib.sha256(repr(sorted(cols)).encode())
    h.update(repr(ms).encode())
    return h.hexdigest()


def _data_key(sf_dir: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(sf_dir.glob("*.parquet")):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def expected_digests(ops, sf_dir: Path) -> dict[str, str]:
    """op name -> expected digest, for every op that has one."""
    from bigdata2016w_spark.registry import all_specs

    specs = all_specs()
    stored = json.loads(DIGESTS_FILE.read_text())
    data_key = _data_key(sf_dir)
    out, todo = {}, {}
    for op in ops:
        spec = specs.get(op)
        if spec is None or spec.oracle is None:
            if f"{sf_dir.name}/{op}" in stored:
                out[op] = stored[f"{sf_dir.name}/{op}"]
            continue
        key = hashlib.sha256(f"{data_key}\n{spec.oracle}".encode()).hexdigest()
        cached = CACHE_DIR / f"oracle-{key}.txt"
        if cached.exists():
            out[op] = cached.read_text().strip()
        else:
            todo[op] = (spec.oracle, cached)
    if todo:
        import duckdb

        con = duckdb.connect()
        try:
            for t in sf_dir.glob("*.parquet"):
                con.sql(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
            CACHE_DIR.mkdir(exist_ok=True)
            for op, (sql, cached) in todo.items():
                rel = con.sql(sql)
                out[op] = digest(rel.columns, rel.fetchall())
                tmp = cached.with_suffix(f".{os.getpid()}")
                tmp.write_text(out[op] + "\n")
                tmp.replace(cached)
        finally:
            con.close()
    return out
