"""Reference-native .tbl ingestion end-to-end: export parquet → .tbl text,
re-ingest with read_tbl, run a real query on it — proving a reference user
can point their existing pipe-delimited dumps at this engine."""

from pathlib import Path

import pyspark.sql.functions as F
import pytest

from bigdata2016w_spark.sources.catalog import SCHEMAS

PERFBENCH_SF = str(Path(__file__).resolve().parent.parent
                   / "perfbench" / "data" / "sf0.01")


@pytest.mark.parametrize("table", list(SCHEMAS))
@pytest.mark.parametrize("data", ["test", "perfbench"])
def test_load_table_returns_declared_schema(spark, sf_dir, data, table):
    """The parquet path and the declared-schema readers (read_tbl,
    read_jsonl, read_csv_table) agree on every column type: what
    load_table returns is exactly what SCHEMAS declares, on the test
    tables and on the benchmark's."""
    from bigdata2016w_spark.sources.catalog import load_table

    d = sf_dir if data == "test" else PERFBENCH_SF
    declared = [(f.name, f.dataType.simpleString())
                for f in SCHEMAS[table].fields]
    assert load_table(spark, d, table).dtypes == declared


def test_tbl_roundtrip_q1(spark, sf_dir, tmp_path):
    from bigdata2016w_spark.functions.dates import date_prefix_filter
    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.sources.text_formats import read_tbl

    li = load_table(spark, sf_dir, "lineitem")
    # write the reference's .tbl format (pipe-delimited, dates as strings)
    out = str(tmp_path / "lineitem_tbl")
    (
        li.withColumn("l_shipdate", F.date_format("l_shipdate",
                                                  "yyyy-MM-dd HH:mm:ss"))
        .write.option("sep", "|").mode("overwrite").csv(out)
    )

    back = read_tbl(spark, out, "lineitem")
    assert back.dtypes == li.dtypes  # names+types (nullability may differ)
    assert back.count() == li.count()

    # q1 semantics against the text ingestion must match parquet
    pred = date_prefix_filter(F.col("l_shipdate"), "1996-03")
    assert back.where(pred).count() == li.where(pred).count()


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    """parquet → CSV (declared schema, no inference pass) → parquet must
    preserve the orders table exactly, including the timestamp column."""
    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.sources.text_formats import read_csv_table, write_csv

    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_csv")
    write_csv(orders, path)
    back = read_csv_table(spark, path, "orders")
    assert back.dtypes == orders.dtypes
    a = sorted(map(tuple, orders.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_orc_roundtrip_partitioned(spark, sf_dir, tmp_path):
    """parquet → hive-partitioned ORC → scan with a partition filter:
    rows preserved and the filter prunes at the partition level."""
    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.sources.text_formats import read_orc, write_orc

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_orc")
    write_orc(orders, path, partition_by=["order_year"])
    back = read_orc(spark, path)
    assert back.count() == orders.count()
    got = back.where(F.col("order_year") == 1996)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert got.count() == orders.where(F.col("order_year") == 1996).count()


def test_jsonl_roundtrip(spark, sf_dir, tmp_path):
    """parquet → JSONL → parquet must preserve rows exactly (documents
    table: long/string columns)."""
    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.sources.text_formats import read_jsonl, write_jsonl

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, path)
    back = read_jsonl(spark, path, "documents")
    a = sorted(map(tuple, docs.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b
