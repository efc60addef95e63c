"""CLI surface tests.

Two invocation tiers: ``_run`` spawns a REAL subprocess (fresh
interpreter + JVM) — kept for the cheap smoke tests that pin the true
process surface (module entry point, exit codes through the OS) — while
``_call`` drives the SAME ``cli.main(argv)`` argparse surface in-process,
reusing the session-scoped Spark (cli's get_spark is getOrCreate, and no
verb stops the session). Everything argparse/verb-logic related is
identical through both; the in-process tier exists because a fresh JVM
per invocation cost the suite ~5 minutes (r11 durations profile)."""

import json
import subprocess
import sys
from types import SimpleNamespace

REPO = "/root/repo"


def _run(*args):
    return subprocess.run(
        [sys.executable, "-m", "bigdata2016w_spark", *args],
        capture_output=True, text=True, cwd=REPO, timeout=300,
        env={"PATH": "/usr/bin:/bin", "HOME": "/root",
             "JAVA_HOME": __import__("os").environ.get("JAVA_HOME", ""),
             "SPARK_GRAFT_CPUS": "2"},
    )


def _call(capsys, *args):
    """In-process twin of ``_run``: same argv surface, same return-code
    contract (argparse's own errors surface as SystemExit(2))."""
    from bigdata2016w_spark.cli import main

    try:
        code = main(list(args))
    except SystemExit as e:
        code = e.code if isinstance(e.code, int) else 2
    out = capsys.readouterr()
    return SimpleNamespace(returncode=code, stdout=out.out, stderr=out.err)


def test_cli_list():
    p = _run("list")
    assert p.returncode == 0
    assert "q7_top_revenue" in p.stdout and "[oracle]" in p.stdout


def test_cli_retrieve(capsys, spark):
    p = _call(capsys, "retrieve", "scan column AND",
             "--sf-dir", "/root/testdata/sf0.001", "--limit", "3")
    assert p.returncode == 0
    assert "doc_id" in p.stdout and "text" in p.stdout
    p2 = _call(capsys, "retrieve", "scan column AND OR",
              "--sf-dir", "/root/testdata/sf0.001")
    assert p2.returncode == 2
    assert "malformed" in p2.stderr


def test_cli_run_and_unknown():
    p = _run("run", "nation_distinct_counts",
             "--sf-dir", "/root/testdata/sf0.001", "--limit", "3")
    assert p.returncode == 0
    assert "n_segments" in p.stdout
    p2 = _run("run", "nope_not_a_query")
    assert p2.returncode == 2
    assert "unknown query" in p2.stderr


def test_cli_export(capsys, tmp_path, spark):
    out = str(tmp_path / "exp")
    p = _call(capsys, "export", out, "--sf-dir", "/root/testdata/sf0.001")
    assert p.returncode == 0, p.stderr[-500:]
    card = json.loads(p.stdout.strip().splitlines()[-1])
    assert card["total_docs"] == 500
    assert card["train"]["n_docs"] > card["test"]["n_docs"] > 0
    import os

    assert os.path.exists(f"{out}/train") and os.path.exists(f"{out}/test")
    assert json.load(open(f"{out}/datacard.json")) == card


def test_cli_export_scrub_spans(capsys, tmp_path, spark):
    """--scrub-spans must export span-scrubbed text for exactly the docs
    the scrubber touched (everyone else keeps their original bytes), the
    survivor set must be unchanged, and the exported n_tokens metadata
    must describe the SHIPPED text, not the pre-scrub text."""
    plain, scrub = str(tmp_path / "plain"), str(tmp_path / "scrub")
    p1 = _call(capsys, "export", plain, "--sf-dir", "/root/testdata/sf0.001")
    assert p1.returncode == 0, p1.stderr[-500:]
    p2 = _call(capsys, "export", scrub, "--sf-dir", "/root/testdata/sf0.001",
              "--scrub-spans")
    assert p2.returncode == 0, p2.stderr[-500:]
    card = json.loads(p2.stdout.strip().splitlines()[-1])
    assert card["scrub_spans"] is True

    import pyspark.sql.functions as F

    from bigdata2016w_spark.functions.tokenizer import tokenize
    from bigdata2016w_spark.plans.curation import scrub_dup_spans
    from bigdata2016w_spark.sources.catalog import load_table

    def rows(d):
        df = spark.read.parquet(f"{d}/train", f"{d}/test")
        return {r.doc_id: r for r in df.collect()}

    rp, rs = rows(plain), rows(scrub)
    assert set(rs) == set(rp)  # same curated survivors

    # ground truth from the operator over the full corpus
    truth = {r.doc_id: r for r in scrub_dup_spans(
        load_table(spark, "/root/testdata/sf0.001", "documents")).collect()}
    touched = {d for d in rs if truth[d].n_removed > 0}
    assert touched  # the fixture corpus must exercise the rewrite path
    for d in rs:
        if d in touched:
            assert rs[d].text == truth[d].scrubbed_text
        else:
            assert rs[d].text == rp[d].text  # original bytes preserved
        # metadata describes the shipped text
        expected_tok = truth[d].n_tokens - truth[d].n_removed
        assert rs[d].n_tokens == expected_tok

    # datacard token mass = sum over shipped rows
    exported_tok = sum(r.n_tokens for r in rs.values())
    assert card["train"]["n_tokens"] + card["test"]["n_tokens"] \
        == exported_tok


def test_cli_admit(capsys, tmp_path, spark):
    """The admit subcommand replays a doc directory as micro-batches and
    reports the accepted count; a planted duplicate is rejected."""
    import os
    import shutil

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows1 = [(1, base), (2, "one two three four five six seven")]
    rows2 = [(10, base), (11, "eight nine ten eleven twelve lucky charm")]
    sdir = tmp_path / "in"
    sdir.mkdir()
    for i, rows in enumerate((rows1, rows2)):
        tmp = tmp_path / f"w{i}"
        spark.createDataFrame(
            rows, "doc_id long, text string").coalesce(1).write.parquet(str(tmp))
        part = next(p for p in tmp.rglob("part-*.parquet"))
        dst = sdir / f"{i:03d}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_600_000_000 + i, 1_600_000_000 + i))
    out = str(tmp_path / "corpus")
    p = _call(capsys, "admit", str(sdir), out)
    assert p.returncode == 0, p.stderr[-500:]
    assert "accepted corpus: 3 docs" in p.stdout


def test_cli_compact_sketches(capsys, tmp_path, spark):
    """`compact sketches <dir>` must fold planted batch partials into
    one dir through the CLI verb, preserving the merged counters."""
    from bigdata2016w_spark.streaming.batches import batch_dirs
    from bigdata2016w_spark.streaming.sketch_sink import read_merged_cms

    target = str(tmp_path / "sk")
    for b in range(2):
        spark.createDataFrame(
            [(0, 1, 5 + b)], "j int, slot int, cnt bigint"
        ).write.parquet(f"{target}/batch={b}/cms")
        spark.createDataFrame(
            [(3, 4 + b)], "bucket int, rho int"
        ).write.parquet(f"{target}/batch={b}/hll")
    want = sorted(map(tuple, read_merged_cms(spark, target).collect()))
    p = _call(capsys, "compact", "sketches", target)
    assert p.returncode == 0, p.stderr[-500:]
    assert "removed 1 batch dirs" in p.stdout
    assert len(batch_dirs(spark, target)) == 1
    assert sorted(map(tuple,
                      read_merged_cms(spark, target).collect())) == want


def test_cli_compact_index(capsys, tmp_path, spark):
    """`compact index <path>` must fold a streamed batch into the base
    codes through the CLI verb; the folded row count is printed and
    the streamed read comes back empty."""
    import shutil

    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.sources.sinks import write_ivfpq_index
    from bigdata2016w_spark.streaming.index_sink import (
        ivfpq_append_sink,
        read_streamed_codes,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "idx")
    write_ivfpq_index(emb.where(emb.vec_id % 2 == 0), idx)
    w = tmp_path / "w"
    emb.where(emb.vec_id % 2 == 1).select("vec_id", "embedding") \
        .coalesce(1).write.parquet(str(w))
    sdir = tmp_path / "in"
    sdir.mkdir()
    shutil.copy(next(w.rglob("part-*.parquet")), sdir / "0.parquet")
    src = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .parquet(str(sdir))
    )
    ivfpq_append_sink(src, idx, str(tmp_path / "ckpt")).awaitTermination()
    n = read_streamed_codes(spark, idx).count()
    assert n > 0
    base_before = spark.read.parquet(f"{idx}/codes").count()

    p = _call(capsys, "compact", "index", idx)
    assert p.returncode == 0, p.stderr[-500:]
    assert f"folded {n} streamed code rows" in p.stdout
    assert read_streamed_codes(spark, idx).collect() == []
    assert spark.read.parquet(f"{idx}/codes").count() == base_before + n


def test_cli_export_dedup_tiers(capsys, tmp_path, spark):
    """--dedup {jaccard,winnow,exact,semdedup}: each tier's exported
    survivor set (train ∪ test doc_ids) must equal the set derived from
    the REGISTERED queries — the quality gate of doc_stats minus that
    tier's loser list (dedup_jaccard / winnow_dup_candidates doc_b's,
    semantic_dedup dropped_ids, or everyone outside dedup_exact's
    keep_id set) — so the one-command export and the piecewise query
    surface can never drift apart."""
    sf = "/root/testdata/sf0.001"

    from bigdata2016w_spark.plans.pipeline import QUALITY_MIN
    from bigdata2016w_spark.registry import all_specs

    specs = all_specs()
    quality_ok = {
        r.doc_id for r in specs["doc_stats"].fn(spark, sf).collect()
        if r.quality >= QUALITY_MIN
    }
    jac_losers = {r.doc_b for r in
                  specs["dedup_jaccard"].fn(spark, sf).collect()}
    win_losers = {r.doc_b for r in
                  specs["winnow_dup_candidates"].fn(spark, sf).collect()}
    exact_keep = {r.keep_id for r in
                  specs["dedup_exact"].fn(spark, sf).collect()}
    sem_losers = {r.dropped_id for r in
                  specs["semantic_dedup"].fn(spark, sf).collect()}
    expected = {
        "jaccard": quality_ok - jac_losers,
        "winnow": quality_ok - win_losers,
        "exact": quality_ok & exact_keep,
        "semdedup": quality_ok - sem_losers,
    }

    for tier in ("jaccard", "winnow", "exact", "semdedup"):
        out = str(tmp_path / tier)
        p = _call(capsys, "export", out, "--sf-dir", sf, "--dedup", tier)
        assert p.returncode == 0, (tier, p.stderr[-500:])
        card = json.loads(p.stdout.strip().splitlines()[-1])
        assert card["dedup"] == tier
        got = {r.doc_id for r in spark.read.parquet(
            f"{out}/train", f"{out}/test").select("doc_id").collect()}
        assert got == expected[tier], tier
        assert card["train"]["n_docs"] + card["test"]["n_docs"] == len(got)


def test_cli_zorder(capsys, tmp_path, spark):
    """Z-order rewrite through the CLI verb: rows preserved, output
    files carry narrow per-file ranges on BOTH clustered columns (spot-
    checked via the same pyarrow footer stats tests/test_zorder.py
    measures exhaustively), and bad input is rejected with exit 2."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    spark.range(20_000).selectExpr(
        "id AS a", "pmod(hash(id), 1000) AS b"
    ).write.parquet(src)

    p = _call(capsys, "zorder", src, dst, "--cols", "a,b", "--files", "8")
    assert p.returncode == 0, p.stderr
    assert "z-ordered" in p.stdout

    out = spark.read.parquet(dst)
    assert out.count() == 20_000
    assert sorted(r.a for r in out.collect()) == list(range(20_000))

    import glob

    import pyarrow.parquet as pq

    files = glob.glob(f"{dst}/*.parquet")
    assert len(files) >= 4
    # per-file 'a' spans must be narrow vs the full domain: the Morton
    # sort localizes both dimensions (b spans less so at 8 files, but a
    # single-file span covering the whole domain would mean no layout)
    spans = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        ai = md.schema.names.index("a")
        st = md.row_group(0).column(ai).statistics
        lo, hi = st.min, st.max
        for rg in range(md.num_row_groups):
            s = md.row_group(rg).column(ai).statistics
            lo, hi = min(lo, s.min), max(hi, s.max)
        spans.append(hi - lo)
    assert sorted(spans)[len(spans) // 2] < 20_000 / 2

    p2 = _call(capsys, "zorder", src, dst + "2", "--cols", "a")
    assert p2.returncode == 2 and "at least two" in p2.stderr
    p3 = _call(capsys, "zorder", src, dst + "3", "--cols", "a,nope")
    assert p3.returncode == 2 and "nope" in p3.stderr


def test_cli_audit_exit_code_reflects_failures(capsys, spark):
    """The audit verb is an ingest gate: the sf0.001 fixture trips the
    deliberately tight price-cap rule, so the exit code is 1 and every
    rule prints a verdict line."""
    r = _call(capsys, "audit", "--sf-dir", "/root/testdata/sf0.001")
    assert r.returncode == 1, r.stderr[-800:]
    out = r.stdout
    assert "FAIL  rule:o_totalprice_cap_125k" in out
    assert out.count("PASS") >= 6
    assert "6/7 rules passed" in out


def test_cli_reconcile(capsys, tmp_path, spark):
    """Exit 0 on identical replicas; exit 1 with the divergent
    partition named when the replica loses rows."""
    from bigdata2016w_spark.sources.catalog import load_table

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    orders.write.parquet(a)
    orders.write.parquet(b)
    r = _call(capsys, "reconcile", a, b, "--partition-col", "o_orderstatus")
    assert r.returncode == 0, r.stderr[-500:]
    assert "3/3 partitions match" in r.stdout

    b2 = str(tmp_path / "b2")
    orders.where("o_orderkey % 500 <> 7").write.parquet(b2)
    r = _call(capsys, "reconcile", a, b2, "--partition-col", "o_orderstatus")
    assert r.returncode == 1
    assert "DIFF" in r.stdout and "rows_missing=" in r.stdout
