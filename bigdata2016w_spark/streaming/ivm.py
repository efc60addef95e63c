"""Streaming incremental view maintenance: the nation-revenue
join-aggregate view of ``plans/maintenance.orders_ivm_nation_revenue``,
maintained by a stream of order batches instead of a one-shot delta.

Each micro-batch computes its own ΔV (batch ⋈ broadcast dim →
group-by-key partial aggregate, DECIMAL money math) and lands it in
``batch=N``, the replay-safe layout of ``streaming.batches``: a replayed
batch REWRITES its own delta instead of double-applying it.
``read_view`` merges the deltas at read time (sum is
associative/commutative, so merge order is irrelevant and the DECIMAL
totals are bit-equal to a from-scratch batch rebuild — pinned in
tests/test_streaming.py).

At 100 TB the delta dirs are keys × batches rows of METADATA (25
nations here), so merge-on-read costs nothing; a fold into a single
base batch when fan-in ever mattered is the ``compact_sketch_batches``
marker/tombstone protocol applied verbatim to these partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata2016w_spark.streaming.batches import read_batches, start_batches

_DELTA_SCHEMA = ("c_nationkey int, revenue decimal(18,2), "
                 "n_orders bigint")


def apply_ivm_batch(
    batch_df: DataFrame, batch_id: int, dim: DataFrame, view_dir: str
) -> None:
    """Compute one batch's ΔV and land it in ``batch=<id>`` (overwrite:
    replays rewrite, never double-apply). ``dim`` is the static
    (c_custkey, c_nationkey) dimension — broadcast, the delta batch is
    the small side's probe at any corpus scale. The delta definition is
    ``plans.maintenance.nation_revenue_delta`` — the SAME function the
    batch IVM query uses, so the two surfaces cannot drift apart."""
    from bigdata2016w_spark.plans.maintenance import nation_revenue_delta

    delta = nation_revenue_delta(batch_df, dim, bcast_dim=True)
    delta.write.mode("overwrite").parquet(f"{view_dir}/batch={batch_id}")


def ivm_view_sink(
    orders_stream: DataFrame,
    dim: DataFrame,
    view_dir: str,
    checkpoint_dir: str,
):
    """Start the view-maintenance stream (availableNow); returns the
    StreamingQuery. view_dir and checkpoint_dir live and die together."""
    dim = dim.select("c_custkey", "c_nationkey")
    return start_batches(
        orders_stream, view_dir, checkpoint_dir,
        lambda batch_df, bid: apply_ivm_batch(batch_df, bid, dim, view_dir),
    )


def read_view(
    spark: SparkSession, view_dir: str, drop_empty: bool = False
) -> DataFrame:
    """Merge-on-read over the batch-stamped deltas: the maintained view
    (c_nationkey, revenue, n_orders). Empty before the first commit.
    ``drop_empty`` (the CDC read) drops groups whose merged count is
    ≤ 0 — a fully-retracted key leaves the view instead of lingering
    as a (key, 0.00, 0) tombstone; insert-only views never produce
    one, so their read is unchanged."""
    merged = (
        read_batches(spark, view_dir, _DELTA_SCHEMA)
        .groupBy("c_nationkey")
        .agg(
            F.sum("revenue").cast("decimal(18,2)").alias("revenue"),
            F.sum("n_orders").alias("n_orders"),
        )
    )
    return merged.where(F.col("n_orders") > 0) if drop_empty else merged


def apply_cdc_ivm_batch(
    batch_df: DataFrame, batch_id: int, dim: DataFrame, view_dir: str
) -> None:
    """The CDC (change-data-capture) batch apply: rows carry an ``op``
    column — 'I' inserts, 'D' deletes — and the batch's ΔV is the
    SIGNED delta (plans.maintenance.nation_revenue_signed_delta, the
    same definition the batch retraction query proves against its
    oracle), so a delete cancels its insert bit-for-bit in DECIMAL.
    Same batch-stamped overwrite layout as the insert-only sink:
    replays rewrite their own delta, never double-apply."""
    from bigdata2016w_spark.plans.maintenance import (
        nation_revenue_signed_delta,
    )

    # unknown ops FAIL the batch in-plan rather than silently applying
    # as inserts — 'U' updates (or corrupted op strings) need an
    # explicit delete+insert encoding upstream, not a guessed sign
    signed = batch_df.withColumn(
        "__sgn",
        F.when(F.col("op") == "I", F.lit(1))
        .when(F.col("op") == "D", F.lit(-1))
        .otherwise(
            F.raise_error(F.concat(
                F.lit("unsupported CDC op (expected 'I' or 'D'): "),
                F.coalesce(F.col("op"), F.lit("NULL")),
            )).cast("int")
        ),
    )
    delta = nation_revenue_signed_delta(signed, dim, bcast_dim=True)
    delta.write.mode("overwrite").parquet(f"{view_dir}/batch={batch_id}")


def cdc_ivm_view_sink(
    cdc_stream: DataFrame,
    dim: DataFrame,
    view_dir: str,
    checkpoint_dir: str,
):
    """Start the CDC view-maintenance stream (availableNow); the
    insert-only :func:`ivm_view_sink` is this with every op = 'I'.
    Read the maintained view back with ``read_view(...,
    drop_empty=True)`` — groups whose inserts have all been retracted
    must LEAVE the view, not linger as zero-count tombstones."""
    dim = dim.select("c_custkey", "c_nationkey")
    return start_batches(
        cdc_stream, view_dir, checkpoint_dir,
        lambda batch_df, bid: apply_cdc_ivm_batch(
            batch_df, bid, dim, view_dir),
    )
