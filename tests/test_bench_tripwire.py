"""Unit tests for bench.py's regression tripwire (flag_regressions).

The r8 driver artifact flagged four queries as "regressions" on a round
with ZERO code change — all were committed ~0.2–1.2 s lines jittering by
sub-1.5 s absolute deltas. The tripwire now requires BOTH >1.5x the
committed time AND >0.5 s absolute delta, so host-noise jitter can't
cry wolf while a real 2x regression still trips.
"""

from __future__ import annotations

from bench import flag_regressions


def test_no_flags_on_small_absolute_jitter():
    # the r8 false-flag shapes: big ratios, tiny absolute deltas
    prev = {"winnow_cross_candidates": 1.21, "asof_purchase_view": 0.60,
            "corpus_curation": 0.84, "graph_triangles": 0.78,
            "tiny": 0.2}
    now = {"winnow_cross_candidates": 1.70, "asof_purchase_view": 1.03,
           "corpus_curation": 1.33, "graph_triangles": 1.22,
           "tiny": 0.35}
    assert flag_regressions(prev, now) == {}


def test_real_regression_still_trips():
    prev = {"q7_top_revenue": 1.0, "stable": 2.0}
    now = {"q7_top_revenue": 2.4, "stable": 2.1}
    got = flag_regressions(prev, now)
    assert got == {"q7_top_revenue": [1.0, 2.4]}


def test_fast_query_real_regression_trips_despite_small_committed_time():
    # a committed 0.2 s query blowing up to 2 s is REAL (10x, +1.8 s) —
    # the jitter guard must not swallow it
    got = flag_regressions({"fast": 0.2}, {"fast": 2.0})
    assert got == {"fast": [0.2, 2.0]}


def test_zero_committed_and_unknown_names_are_skipped():
    prev = {"trivial": 0.0}
    now = {"trivial": 5.0, "brand_new_query": 9.9}
    assert flag_regressions(prev, now) == {}


def test_cap_keeps_worst_by_ratio():
    prev = {f"q{i}": 1.0 for i in range(12)}
    now = {f"q{i}": 2.0 + i for i in range(12)}
    got = flag_regressions(prev, now, cap=8)
    assert len(got) == 8
    # the worst ratios (largest new times) survive the cap
    assert "q11" in got and "q0" not in got


def test_pinned_baseline_catches_two_step_creep():
    """The rolling ``queries`` map re-baselines every run, so a slow
    regression landing in two ≤1.5x steps is never flagged; the pinned
    ``baseline_queries`` map carries forward unchanged, so the second
    1.4x step trips (1.96x cumulative, +0.96 s)."""
    from bench import roll_baseline

    # run 0: committed artifact (baseline == timings, steady state)
    prev = {"sf": 0.1, "queries": {"q": 1.0},
            "baseline_queries": {"q": 1.0}}
    # run 1: 1.4x — below the tripwire, baseline must NOT move
    t1 = {"q": 1.4}
    b1 = roll_baseline(prev, t1)
    assert b1 == {"q": 1.0}
    assert flag_regressions(b1, t1) == {}
    # run 2: another 1.4x on top — the rolling map would see 1.4/1.4
    # and stay silent; the pinned baseline sees 1.96/1.0 and trips
    prev2 = {"sf": 0.1, "queries": t1, "baseline_queries": b1}
    t2 = {"q": 1.96}
    b2 = roll_baseline(prev2, t2)
    assert b2 == {"q": 1.0}
    assert flag_regressions(b2, t2) == {"q": [1.0, 1.96]}


def test_roll_baseline_seeds_new_and_honors_rebaseline():
    from bench import roll_baseline

    prev = {"baseline_queries": {"old": 1.0, "gone": 3.0}}
    t = {"old": 2.0, "new": 0.7}
    # carry-forward for known, seed for new, drop for removed
    assert roll_baseline(prev, t) == {"old": 1.0, "new": 0.7}
    # deliberate full reset
    assert roll_baseline(prev, t, "all") == {"old": 2.0, "new": 0.7}
    # deliberate per-name reset
    assert roll_baseline(prev, t, "old") == {"old": 2.0, "new": 0.7}
    # legacy artifact without baseline_queries: fall back to queries
    legacy = {"queries": {"old": 1.5}}
    assert roll_baseline(legacy, t) == {"old": 1.5, "new": 0.7}


def test_isolated_block_covers_every_slow_suite_query():
    """Isolated-block POLICY lint (r11): any query whose committed
    suite-mode time exceeds 1.5 s must have an isolated best-of-3 twin
    in bench.ISOLATED_QUERIES, so interference adjudication never lags
    a round (corpus_curation r9, corpus_curation_semdedup r10).

    Lints the COMMITTED artifact (``git show HEAD:BENCH_LOCAL.json``),
    not the working tree: a verification harness that runs bench before
    pytest overwrites the working-tree file with numbers from ITS host
    window, and this policy lint then failed on an artifact the test
    run itself mutated two rounds straight (r11, r12 — both adjudicated
    as harness coupling, not engine bugs). The policy is about what the
    repo SHIPS, so the committed file is the right subject; fall back
    to the working tree only when git is unavailable. The price is a
    one-commit lag: a commit that adds a slow query together with its
    refreshed artifact is flagged by the next test run, not this one."""
    import json
    import subprocess
    from pathlib import Path

    from bench import ISOLATED_QUERIES

    repo = Path(__file__).parent.parent
    try:
        text = subprocess.run(
            ["git", "-C", str(repo), "show", "HEAD:BENCH_LOCAL.json"],
            capture_output=True, text=True, timeout=30, check=True,
        ).stdout
    except (OSError, subprocess.SubprocessError):
        text = (repo / "BENCH_LOCAL.json").read_text()
    art = json.loads(text)
    slow = {n for n, t in art["queries"].items() if t > 1.5}
    missing = slow - set(ISOLATED_QUERIES)
    assert not missing, (
        f"suite queries over 1.5 s without an isolated twin: {missing}"
    )
    # and the block only names real queries (or the pipeline pseudo-line)
    from bigdata2016w_spark.registry import all_specs
    known = set(all_specs()) | {"shared_shingle_pairs_pipeline"}
    assert set(ISOLATED_QUERIES) <= known
