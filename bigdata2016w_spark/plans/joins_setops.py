"""Explicit semi/anti-join and relational set-operation queries.

The reference's semi-joins are hand-rolled broadcast-map existence filters
(``SCALA/assignment5/Q4.scala:80-83``, ``Q5.scala:66-69``); relational
union/intersect/except never appear (SURVEY §2.7). Registered here as
first-class, oracle-backed operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata2016w_spark.registry import QuerySpec, register
from bigdata2016w_spark.shared import shared
from bigdata2016w_spark.sources.catalog import load_table

ACTIVE_YEAR = "1996"


def customers_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with ≥1 order in 1996 — LEFT SEMI join (the broadcast
    existence filter of Q4.scala:80-83, as the real join type)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(f"{ACTIVE_YEAR}-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_nationkey")


def customers_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with NO orders at all — LEFT ANTI join."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def segment_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational INTERSECT/EXCEPT: market segments served in nation 0 and
    nation 1 — tagged union of (both) and (only nation 0)."""
    customer = load_table(spark, sf_dir, "customer")
    seg0 = customer.where(F.col("c_nationkey") == 0).select("c_mktsegment")
    seg1 = customer.where(F.col("c_nationkey") == 1).select("c_mktsegment")
    both = seg0.intersect(seg1).select(
        F.col("c_mktsegment").alias("segment"), F.lit("both").alias("tag")
    )
    only0 = seg0.subtract(seg1).select(
        F.col("c_mktsegment").alias("segment"), F.lit("only_nation_0").alias("tag")
    )
    return both.union(only0)


_SEMI_SQL = f"""
SELECT c_custkey, c_name, c_nationkey FROM customer
WHERE c_custkey IN (
  SELECT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '{ACTIVE_YEAR}-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
)
"""

_ANTI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""

_SETOPS_SQL = """
SELECT c_mktsegment AS segment, 'both' AS tag FROM (
  SELECT c_mktsegment FROM customer WHERE c_nationkey = 0
  INTERSECT
  SELECT c_mktsegment FROM customer WHERE c_nationkey = 1
)
UNION ALL
SELECT c_mktsegment AS segment, 'only_nation_0' AS tag FROM (
  SELECT c_mktsegment FROM customer WHERE c_nationkey = 0
  EXCEPT
  SELECT c_mktsegment FROM customer WHERE c_nationkey = 1
)
"""

register(QuerySpec("customers_semi_join", customers_semi, _SEMI_SQL,
                   doc=customers_semi.__doc__))
register(QuerySpec("customers_anti_join", customers_anti, _ANTI_SQL,
                   doc=customers_anti.__doc__))
register(QuerySpec("segment_set_ops", segment_set_ops, _SETOPS_SQL,
                   doc=segment_set_ops.__doc__))


def daily_orders_events_reconcile(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """FULL OUTER join of two daily summaries — orders per day vs events
    per day — the reconciliation shape (find days present in one feed but
    not the other). The date ranges barely overlap, so both null sides
    are genuinely exercised. Shuffle on the (low-cardinality) date key
    only, after each side pre-aggregates with map-side combine."""
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    od = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count("*").alias("n_orders")
    )
    ed = events.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").alias("n_events")
    )
    return od.join(ed, "d", "full_outer").select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n_orders",
        "n_events",
    )


_RECONCILE_SQL = """
WITH od AS (
  SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n_orders
  FROM orders GROUP BY 1
),
ed AS (
  SELECT CAST(ts AS DATE) AS d, count(*) AS n_events
  FROM events GROUP BY 1
)
SELECT strftime(coalesce(od.d, ed.d), '%Y-%m-%d') AS day,
       n_orders, n_events
FROM od FULL OUTER JOIN ed ON od.d = ed.d
"""

register(QuerySpec("daily_orders_events_reconcile",
                   daily_orders_events_reconcile, _RECONCILE_SQL,
                   doc=daily_orders_events_reconcile.__doc__))


# ------------------------------------------------------- bucketed join

_N_BUCKETS = 8


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders/lineitem as bucketed+sorted catalog tables ONCE per
    (session, sf_dir) — the write-time co-location investment the query
    below amortizes, exactly like a production lakehouse laying out its
    fact tables for repeated key joins. Shared like the streamed-probe
    index and the validated embedding corpus."""
    import re
    import shutil

    # table names carry the sf slug: two sf_dirs in one session (the
    # empty-table robustness fixture, multi-sf test runs) must not
    # overwrite each other's buckets behind the shared entry's back
    slug = re.sub(r"[^A-Za-z0-9]", "_", sf_dir).strip("_")
    bo, bl = f"bj_orders_{slug}", f"bj_lineitem_{slug}"

    def build() -> tuple[str, str]:
        for t in (bo, bl):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            wh = spark.conf.get("spark.sql.warehouse.dir")
            shutil.rmtree(f"{wh.removeprefix('file:')}/{t}",
                          ignore_errors=True)
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus"
        ).write.bucketBy(_N_BUCKETS, "o_orderkey").sortBy(
            "o_orderkey"
        ).mode("overwrite").saveAsTable(bo)
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        ).write.bucketBy(_N_BUCKETS, "l_orderkey").sortBy(
            "l_orderkey"
        ).mode("overwrite").saveAsTable(bl)
        return bo, bl

    return shared(spark, ("bucketed_tables", sf_dir), build)


def lineitem_bucketed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join served from BUCKETED tables: lineitem revenue per
    order status through a zero-exchange sort-merge join — write-time
    co-location replaces the reference's PartitionGraph pre-partitioning
    (JAVA/assignment4/PartitionGraph.java:107-126) and is the 100-TB
    recipe for any repeatedly-joined fact pair.

    The MERGE join hint pins the sort-merge strategy declaratively (at
    toy scale the planner would broadcast and silently skip the
    bucketing claim; at fact-fact scale SMJ is what runs — and a hint,
    unlike a session-conf toggle, survives replanning at action time).
    The plan pin in tests asserts NO Exchange feeds the join — both
    sides stream straight from bucket-pruned, pre-sorted files. The
    oracle is the plain unbucketed join: a MATCH certifies the layout
    is semantically transparent, the salting-tier convention applied
    to bucketing."""
    bo, bl = _bucketed_tables(spark, sf_dir)
    joined = spark.table(bl).hint("merge").join(
        spark.table(bo), F.col("l_orderkey") == F.col("o_orderkey")
    )
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_lineitems"),
            F.sum("price").cast("decimal(18,2)").alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


_BUCKETED_SQL = """
SELECT o_orderstatus, count(*) AS n_lineitems,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
         AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

register(QuerySpec("lineitem_bucketed_revenue", lineitem_bucketed_revenue,
                   _BUCKETED_SQL, doc=lineitem_bucketed_revenue.__doc__))
