"""Table-maintenance tier: constraint audit, incremental view
maintenance, compaction planning (plans/maintenance.py).

Each query gets (1) the full typed oracle parity check the driver gate
replays and (2) a semantic assertion the oracle alone can't make — the
audit's verdict split, the IVM merge equalling an in-engine from-scratch
rebuild, the compaction plan's conservation/shape invariants.
"""

from pyspark.sql import functions as F

from bigdata2016w_spark.plans.maintenance import (
    _DELTA_PRED,
    _TARGET_BINS,
    events_compaction_plan,
    orders_constraint_audit,
    orders_ivm_nation_revenue,
)
from bigdata2016w_spark.registry import all_specs
from bigdata2016w_spark.sources.catalog import load_table
from tests.oracle import compare_spark_duckdb


def _spec(name):
    return all_specs()[name]


# ---------------------------------------------------------------- audit

def test_constraint_audit_matches_oracle(spark, duck, sf_dir):
    s = _spec("orders_constraint_audit")
    compare_spark_duckdb(s.fn(spark, sf_dir), duck, s.oracle)


def test_constraint_audit_verdicts(spark, sf_dir):
    rows = {r["rule"]: r for r in
            orders_constraint_audit(spark, sf_dir).collect()}
    assert len(rows) == 7
    # structural rules hold on the clean generator
    for rule in ("unique:o_orderkey", "fk:o_custkey->customer",
                 "not_null:o_custkey", "domain:o_orderstatus",
                 "range:o_totalprice_positive"):
        assert rows[rule]["passed"] and rows[rule]["n_violations"] == 0
    # the deliberately tight business rule reports real violations
    cap = rows["rule:o_totalprice_cap_125k"]
    assert not cap["passed"] and cap["n_violations"] > 0
    # every rule reports against the same full-table row count
    n = load_table(spark, sf_dir, "orders").count()
    assert {r["n_rows"] for r in rows.values()} == {n}


# ------------------------------------------------------------------ ivm

def test_ivm_matches_oracle(spark, duck, sf_dir):
    s = _spec("orders_ivm_nation_revenue")
    compare_spark_duckdb(s.fn(spark, sf_dir), duck, s.oracle)


def test_ivm_equals_from_scratch_rebuild(spark, sf_dir):
    """The merged base⊕delta view must equal a from-scratch rebuild
    computed inside Spark too (the oracle proves it against DuckDB;
    this pins it engine-internally, so a delta-predicate drift can't
    hide behind a matching oracle edit)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    scratch = (
        orders.select("o_custkey",
                      F.col("o_totalprice").cast("decimal(18,2)")
                      .alias("price"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(F.sum("price").cast("decimal(18,2)").cast("double")
             .alias("revenue"),
             F.count("*").alias("n_orders"))
    )
    got = {r["c_nationkey"]: (r["revenue"], r["n_orders"])
           for r in orders_ivm_nation_revenue(spark, sf_dir).collect()}
    want = {r["c_nationkey"]: (r["revenue"], r["n_orders"])
            for r in scratch.collect()}
    assert got == want
    # the split is real: both sides non-empty, delta ≈ 15%
    n = orders.count()
    nd = orders.where(F.expr(_DELTA_PRED)).count()
    assert 0 < nd < n and 0.10 < nd / n < 0.20


# ----------------------------------------------------------- compaction

def test_compaction_plan_matches_oracle(spark, duck, sf_dir):
    s = _spec("events_compaction_plan")
    compare_spark_duckdb(s.fn(spark, sf_dir), duck, s.oracle)


def test_compaction_plan_invariants(spark, sf_dir):
    plan = events_compaction_plan(spark, sf_dir).collect()
    events = load_table(spark, sf_dir, "events")
    files = events.groupBy("event_type",
                           F.date_trunc("hour", F.col("ts"))).count()
    total = events.count()
    n_files = files.count()
    # conservation: every file lands in exactly one bin
    assert sum(r["bin_rows"] for r in plan) == total
    assert sum(r["n_files"] for r in plan) == n_files
    # bins are contiguous 0..n-1 and bounded by the target
    assert [r["bin"] for r in plan] == list(range(len(plan)))
    assert len(plan) <= _TARGET_BINS
    cap = -(-total // _TARGET_BINS)
    # next-fit bound: a bin overshoots capacity by less than one file
    for r in plan:
        assert r["bin_rows"] < cap + r["largest_file_rows"]
        assert 0 < r["fill_bp"] <= (10000 * (cap + r["largest_file_rows"])) // cap
    # all bins except the last run essentially full (≥ 80% here —
    # largest-first next-fit leaves at most one fragmented tail bin)
    for r in plan[:-1]:
        assert r["fill_bp"] >= 8000


# ----------------------------------------------------------- reconcile

def test_replica_reconcile_matches_oracle(spark, duck, sf_dir):
    s = _spec("orders_replica_reconcile")
    compare_spark_duckdb(s.fn(spark, sf_dir), duck, s.oracle)


def test_replica_reconcile_flags_exactly_the_tampered_months(spark, sf_dir):
    from bigdata2016w_spark.plans.maintenance import (
        _TAMPER_PRED,
        orders_replica_reconcile,
    )

    rows = orders_replica_reconcile(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders")
    tampered = (
        orders.where(F.expr(_TAMPER_PRED))
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .count()
    )
    lost = {r["month"]: r["count"] for r in tampered.collect()}
    assert lost  # the fixture really diverges
    for r in rows:
        if r["month"] in lost:
            assert not r["digests_match"]
            assert r["rows_missing"] == lost[r["month"]]
        else:
            assert r["digests_match"] and r["rows_missing"] == 0
    # every month of the table is covered
    n_months = orders.select(
        F.date_format("o_orderdate", "yyyy-MM")
    ).distinct().count()
    assert len(rows) == n_months


def test_compaction_plan_dense_bins_under_hot_file(spark, tmp_path):
    """A single partition-file larger than the bin capacity (the skew
    case) makes raw cumulative bin indices skip values — the plan must
    still come out densely numbered 0..n-1 with conservation intact."""
    from datetime import datetime, timedelta

    from bigdata2016w_spark.plans.maintenance import events_compaction_plan

    t0 = datetime(2024, 6, 1)
    rows = []
    eid = 0
    # hot file: one (event_type, hour) with half of all rows
    for i in range(800):
        rows.append((eid, t0, 1, "hot", 1.0, "{}")); eid += 1
    # 80 uniform files of 10 rows
    for h in range(80):
        for i in range(10):
            rows.append((eid, t0 + timedelta(hours=h + 1), 1,
                         "cold", 1.0, "{}")); eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    plan = events_compaction_plan(spark, str(tmp_path)).collect()
    assert [r["bin"] for r in plan] == list(range(len(plan)))
    assert sum(r["bin_rows"] for r in plan) == 1600
    assert sum(r["n_files"] for r in plan) == 81
    # the hot file sits alone in bin 0 (largest-first) and overflows cap
    assert plan[0]["n_files"] == 1 and plan[0]["bin_rows"] == 800
    assert plan[0]["fill_bp"] > 10000


def test_reconcile_digest_catches_content_change(spark):
    """Equal row counts, one payload changed: the COUNT cannot tell the
    partitions apart, the content digest must."""
    from bigdata2016w_spark.operators.reconcile import (
        default_canon,
        reconcile_digests,
        table_digests,
    )

    a = spark.createDataFrame(
        [(1, "p0", "x"), (2, "p0", "y"), (3, "p1", "z")],
        "id long, part string, payload string",
    )
    b = spark.createDataFrame(
        [(1, "p0", "x"), (2, "p0", "CHANGED"), (3, "p1", "z")],
        "id long, part string, payload string",
    )

    def dig(df):
        return table_digests(df, F.col("part"), default_canon(df))

    rows = {r["part"]: r
            for r in reconcile_digests(dig(a), dig(b)).collect()}
    assert not rows["p0"]["digests_match"]
    assert rows["p0"]["rows_missing"] == 0          # counts agree
    assert rows["p1"]["digests_match"]


def test_reconcile_default_canon_null_vs_empty_distinct(spark):
    """The NULL sentinel keeps (NULL) and ('') rows distinct — a plain
    concat_ws would silently collapse them into equal digests."""
    from bigdata2016w_spark.operators.reconcile import (
        default_canon,
        reconcile_digests,
        table_digests,
    )

    a = spark.createDataFrame([(1, "p", None)],
                              "id long, part string, payload string")
    b = spark.createDataFrame([(1, "p", "")],
                              "id long, part string, payload string")

    def dig(df):
        return table_digests(df, F.col("part"), default_canon(df))

    r = reconcile_digests(dig(a), dig(b)).collect()[0]
    assert not r["digests_match"] and r["rows_missing"] == 0


# ------------------------------------------------------- streamed ivm

def test_ivm_streamed_matches_oracle(spark, duck, sf_dir):
    s = _spec("orders_ivm_streamed")
    compare_spark_duckdb(s.fn(spark, sf_dir), duck, s.oracle)


def test_ivm_streamed_equals_batch_ivm_totals(spark, sf_dir):
    """The stream-maintained view must equal the batch IVM query's
    merged view key-for-key (both equal the from-scratch rebuild via
    their oracles; this pins the two engine surfaces to EACH OTHER, so
    neither can drift behind a matching oracle edit). Also pins that
    the streamed corpus really was maintained in two delta batches."""
    from bigdata2016w_spark.plans.maintenance import (
        _streamed_ivm_view,
        orders_ivm_streamed,
    )
    from bigdata2016w_spark.streaming.batches import batch_dirs

    got = {r["c_nationkey"]: (r["revenue"], r["n_orders"])
           for r in orders_ivm_streamed(spark, sf_dir).collect()}
    want = {r["c_nationkey"]: (r["revenue"], r["n_orders"])
            for r in orders_ivm_nation_revenue(spark, sf_dir).collect()}
    assert got == want and got
    view = _streamed_ivm_view(spark, sf_dir)
    assert len(batch_dirs(spark, view)) == 2


# ------------------------------------------------- ivm with retractions

def test_ivm_retractions_matches_oracle(spark, duck, sf_dir):
    s = _spec("orders_ivm_retractions")
    compare_spark_duckdb(s.fn(spark, sf_dir), duck, s.oracle)


def test_ivm_retractions_drops_emptied_group(spark, tmp_path):
    """The retraction-specific step the sf tables can't exercise: a
    group whose every row is retracted must LEAVE the view (merged
    count 0 → dropped), not linger as a (key, 0.00, 0) tombstone; and
    a retraction must cancel its insertion bit-for-bit in DECIMAL."""
    from bigdata2016w_spark.plans.maintenance import orders_ivm_retractions

    spark.createDataFrame(
        [(1, 10), (2, 20)], "c_custkey long, c_nationkey int"
    ).write.parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        [
            (2, 1, 100.0),   # base, retracted (k%20=2)
            (5, 1, 50.0),    # base, retracted (k%20=5) -> nation 10 empties
            (1, 2, 10.0),    # base, kept
            (11, 2, 20.0),   # insert
            (7, 2, 999.0),   # never-arrived slice: in no tier
        ],
        "o_orderkey long, o_custkey long, o_totalprice double",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    rows = [tuple(r) for r in
            orders_ivm_retractions(spark, str(tmp_path)).collect()]
    assert rows == [(20, 30.0, 2)]


def test_ivm_cdc_streamed_matches_oracle(spark, duck, sf_dir):
    s = _spec("orders_ivm_cdc_streamed")
    compare_spark_duckdb(s.fn(spark, sf_dir), duck, s.oracle)


def test_ivm_cdc_streamed_equals_batch_retractions(spark, sf_dir):
    """The CDC-stream-maintained view must equal the batch retraction
    query key-for-key (both equal the post-change rebuild via the
    shared oracle; this pins the two engine surfaces to EACH OTHER),
    and the streamed corpus really ran as two delta batches."""
    from bigdata2016w_spark.plans.maintenance import (
        _streamed_cdc_view,
        orders_ivm_cdc_streamed,
        orders_ivm_retractions,
    )
    from bigdata2016w_spark.streaming.batches import batch_dirs

    got = {r["c_nationkey"]: (r["revenue"], r["n_orders"])
           for r in orders_ivm_cdc_streamed(spark, sf_dir).collect()}
    want = {r["c_nationkey"]: (r["revenue"], r["n_orders"])
            for r in orders_ivm_retractions(spark, sf_dir).collect()}
    assert got == want and got
    view = _streamed_cdc_view(spark, sf_dir)
    assert len(batch_dirs(spark, view)) == 2


def test_cdc_read_view_drops_fully_retracted_group(spark, tmp_path):
    """Crafted CDC stream where one nation's only insert is retracted
    in a later batch: the drop_empty read must remove the key while
    the plain read still shows the zero-count tombstone (so the
    insert-only surface is unchanged)."""
    import os
    import shutil
    from pathlib import Path

    from bigdata2016w_spark.streaming.ivm import (
        cdc_ivm_view_sink,
        read_view,
    )

    dim = spark.createDataFrame(
        [(1, 10), (2, 20)], "c_custkey long, c_nationkey int"
    )
    schema = "o_orderkey bigint, o_custkey bigint, o_totalprice double, op string"
    b1 = [(1, 1, 100.0, "I"), (2, 2, 50.0, "I")]
    b2 = [(1, 1, 100.0, "D"), (3, 2, 25.0, "I")]
    src = tmp_path / "in"
    src.mkdir()
    for i, rows in enumerate((b1, b2)):
        w = tmp_path / f"w{i}"
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(str(w))
        dst = src / f"{i:03d}.parquet"
        shutil.copy(next(w.rglob("part-*.parquet")), dst)
        os.utime(dst, (1_600_000_000 + i, 1_600_000_000 + i))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(str(src))
    )
    view = str(tmp_path / "view")
    cdc_ivm_view_sink(stream, dim, view, str(tmp_path / "ckpt")) \
        .awaitTermination()
    merged = {r.c_nationkey: (float(r.revenue), r.n_orders)
              for r in read_view(spark, view).collect()}
    assert merged == {10: (0.0, 0), 20: (75.0, 2)}
    live = {r.c_nationkey: (float(r.revenue), r.n_orders)
            for r in read_view(spark, view, drop_empty=True).collect()}
    assert live == {20: (75.0, 2)}


# ------------------------------------------------------- join-view IVM

def test_ivm_join_delta_matches_oracle(spark, duck, sf_dir):
    s = _spec("orders_ivm_join_delta")
    compare_spark_duckdb(s.fn(spark, sf_dir), duck, s.oracle)


def test_ivm_join_delta_terms_partition_the_new_view(spark, sf_dir):
    """Bilinear-delta invariants the output oracle can't state directly:
    over the UNFILTERED delta (the registered query bounds output by
    price), base ∪ ΔR⋈S_old ∪ R_old⋈ΔS ∪ ΔR⋈ΔS must equal the
    from-scratch R_new ⋈ S_new exactly, with the four terms pairwise
    disjoint — o_orderkey is the view key (each order joins exactly one
    customer), so count(union) == distinct-count(union) == count(full)
    proves completeness AND disjointness at once."""
    from bigdata2016w_spark.plans.maintenance import (
        _JIVM_CUST_PRED,
        _JIVM_ORD_PRED,
    )

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey")
    o_new = orders.where(F.expr(_JIVM_ORD_PRED))
    o_old = orders.where(~F.expr(_JIVM_ORD_PRED))
    c_new = cust.where(F.expr(_JIVM_CUST_PRED))
    c_old = cust.where(~F.expr(_JIVM_CUST_PRED))

    def j(o, c):
        return o.join(c, F.col("o_custkey") == F.col("c_custkey")).select(
            "o_orderkey")

    union = (j(o_new, c_old).unionByName(j(o_old, c_new))
             .unionByName(j(o_new, c_new)).unionByName(j(o_old, c_old)))
    nf = j(orders, cust).count()
    assert union.count() == nf
    assert union.distinct().count() == nf
    # both deltas are real (non-degenerate split at every SF)
    assert 0 < o_new.count() < orders.count()
    assert 0 < c_new.count() < cust.count()


def test_ivm_join_delta_sources_are_exact(spark, sf_dir):
    """Every emitted row's provenance tag must agree with the split
    predicates re-evaluated on the row itself."""
    from bigdata2016w_spark.plans.maintenance import (
        orders_ivm_join_delta,
    )

    got = orders_ivm_join_delta(spark, sf_dir).collect()
    assert got
    for r in got:
        onew = r.o_orderkey % 10 in (3, 7)
        cnew = r.c_custkey % 8 == 5
        want = ("both" if onew and cnew
                else "order" if onew else "customer")
        assert (onew or cnew) and r.delta_source == want


# ---------------------------------------------------- schema evolution

def test_schema_evolution_matches_oracle(spark, duck, sf_dir):
    s = _spec("orders_schema_evolution_read")
    compare_spark_duckdb(s.fn(spark, sf_dir), duck, s.oracle)


def test_read_conformed_semantics_and_pushdown(spark, tmp_path):
    """Crafted two-generation directory: added column fills with the
    typed default, int32 widens to the declared bigint, and a
    post-conform filter's pushdown reaches BOTH generations' scans
    through the union. Also pins the motivation: mergeSchema refuses
    this directory outright (int/long is a merge conflict)."""
    import pytest
    from pyspark.sql import types as T
    from pyspark.sql.utils import AnalysisException

    from bigdata2016w_spark.sources.catalog import read_conformed

    spark.createDataFrame([(1, 10), (2, 20)], ["k", "v"]) \
        .selectExpr("k", "CAST(v AS INT) AS v") \
        .write.parquet(str(tmp_path / "b1"))
    spark.createDataFrame([(3, 30, "x")], ["k", "v", "tag"]) \
        .selectExpr("k", "CAST(v AS BIGINT) AS v", "tag") \
        .write.parquet(str(tmp_path / "b2"))

    target = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.LongType()),
        T.StructField("tag", T.StringType()),
    ])
    dirs = [str(tmp_path / "b1"), str(tmp_path / "b2")]
    df = read_conformed(spark, dirs, target, defaults={"tag": "legacy"})
    assert df.schema == target
    got = sorted((r.k, r.v, r.tag) for r in df.collect())
    assert got == [(1, 10, "legacy"), (2, 20, "legacy"), (3, 30, "x")]

    # pushdown reaches each generation's scan through the union
    plan = df.where(F.col("k") > 1)._jdf.queryExecution() \
        .explainString(spark._jvm.org.apache.spark.sql.execution
                       .ExplainMode.fromString("formatted"))
    assert plan.count("GreaterThan(k,1)") == 2

    # the directory that motivates the reader: mergeSchema can't read it
    with pytest.raises(Exception, match="[Mm]erg|SCHEMA|[Cc]onflict"):
        spark.read.option("mergeSchema", True).parquet(*dirs).collect()
