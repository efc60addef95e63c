"""bigdata2016w_spark.shared: one session-owned store for the
intermediates several queries consume, and temp dirs that die with the
session."""

import ast
import json
import os
import re
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

from bigdata2016w_spark import shared as shared_mod
from bigdata2016w_spark.shared import forget, shared

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "bigdata2016w_spark"


@pytest.fixture
def isolated_store(monkeypatch):
    """A private store, so the fake sessions below do not evict the
    suite's live session entries."""
    monkeypatch.setattr(shared_mod, "_SESSIONS", {})


def _fake_session(app_id: str):
    return SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId=app_id))


def _counting_build(calls: list, value):
    def build():
        calls.append(value)
        return value
    return build


def test_shared_builds_once_per_key(isolated_store):
    s = _fake_session("app-once")
    calls: list = []
    assert shared(s, ("k", 1), _counting_build(calls, "a")) == "a"
    assert shared(s, ("k", 1), _counting_build(calls, "b")) == "a"
    assert shared(s, ("k", 2), _counting_build(calls, "c")) == "c"
    assert calls == ["a", "c"]


def test_shared_drops_old_session_entries_on_new_application(isolated_store):
    old, new = _fake_session("app-old"), _fake_session("app-new")
    calls: list = []
    shared(old, "k", _counting_build(calls, "old"))
    shared(old, "other", _counting_build(calls, "old-other"))
    assert shared(new, "k", _counting_build(calls, "new")) == "new"
    # the old application's entries are gone, not parked: coming back
    # to it (which PySpark cannot do) would rebuild every key
    assert shared(old, "other", _counting_build(calls, "rebuilt")) == \
        "rebuilt"
    assert calls == ["old", "old-other", "new", "rebuilt"]


def test_forget_forces_a_rebuild(isolated_store):
    s = _fake_session("app-forget")
    calls: list = []
    shared(s, "k", _counting_build(calls, 1))
    forget(s, "k")
    forget(s, "never-stored")  # no error
    assert shared(s, "k", _counting_build(calls, 2)) == 2
    assert calls == [1, 2]


def test_failed_build_stores_nothing(isolated_store):
    s = _fake_session("app-fail")

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        shared(s, "k", boom)
    assert shared(s, "k", lambda: "ok") == "ok"


_STOP_SCRIPT = """
import json, os, sys
from bigdata2016w_spark import get_spark
from bigdata2016w_spark.plans.maintenance import _evolving_orders_root

spark = get_spark(app_name="shared-scratch-test", master="local[1]")
root = _evolving_orders_root(spark, sys.argv[1])
built = os.path.isdir(f"{root}/batch=v3")
spark.stop()
left = [
    os.path.join(d, n)
    for top in (os.environ["TMPDIR"], os.environ["SPARK_LOCAL_DIRS"])
    for d, dirs, _ in os.walk(top) for n in dirs
    if n.startswith("bigdata2016w_")
]
print(json.dumps({"built": built, "exists": os.path.exists(root),
                  "left": left}))
"""


def test_scratch_dirs_are_deleted_when_the_session_stops(tmp_path, sf_dir):
    """A shared builder's temp dir is gone right after ``spark.stop()``,
    before interpreter exit, and no ``bigdata2016w_*`` dir is left
    under the private TMPDIR / SPARK_LOCAL_DIRS."""
    tmp, local = tmp_path / "tmp", tmp_path / "local"
    tmp.mkdir()
    local.mkdir()
    env = dict(os.environ, PYTHONPATH=str(REPO), TMPDIR=str(tmp),
               SPARK_LOCAL_DIRS=str(local))
    proc = subprocess.run(
        [sys.executable, "-c", _STOP_SCRIPT, sf_dir],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got == {"built": True, "exists": False, "left": []}


def _lint_findings(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else \
                getattr(f, "id", None)
            if name == "mkdtemp":
                found.append(f"{path.name}:{node.lineno} mkdtemp call")
    for node in tree.body:
        targets = (node.targets if isinstance(node, ast.Assign)
                   else [node.target] if isinstance(node, ast.AnnAssign)
                   else [])
        for t in targets:
            if isinstance(t, ast.Name) and re.fullmatch(r"_\w*_CACHE", t.id):
                found.append(f"{path.name}:{node.lineno} {t.id}")
    return found


def test_shared_intermediates_go_through_one_module():
    """Keying and lifetime of shared intermediates are decided in
    bigdata2016w_spark/shared.py only: no other package module creates
    a temp dir with ``mkdtemp`` (use ``shared.scratch_dir``, which Spark
    deletes on stop) or keeps a module-level ``_*_CACHE`` dict (use
    ``shared.shared``)."""
    findings = [
        f
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "shared.py"
        for f in _lint_findings(path)
    ]
    assert findings == []
