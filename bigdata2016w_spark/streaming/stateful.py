"""Custom stateful streaming operator via ``applyInPandasWithState`` —
the engine's answer to 'an operator Structured Streaming lacks' (SURVEY
§2.11 extension; tier (b) of the custom-operator policy).

``spend_alerts``: per-user cumulative spend tracker that emits one row
each time a user's running total crosses another multiple of
``threshold``. Not expressible as a windowed aggregate (the emission
condition depends on unbounded running state), so it carries explicit
GroupState: {total: double, alerts: long}.

State is per-key and bounded (2 numbers per user); at scale the shuffle
partitions by user_id exactly like any keyed agg, and state lives in the
state store with checkpointing. At cluster scale set
``SPARK_GRAFT_ROCKSDB_STATE=1`` (see ``session.get_spark``) so this
per-user state lives in RocksDB on executor-local disk with changelog
checkpointing instead of the JVM heap — key cardinality then bounds
disk, not memory. Both providers produce identical results
(tests/test_streaming.py::test_rocksdb_state_store_parity).
"""

from __future__ import annotations

from collections.abc import Iterator
from decimal import ROUND_HALF_UP, Decimal
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import col as F_col
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

ALERT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("alert_no", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("total", T.DoubleType()),
        T.StructField("alerts", T.LongType()),
    ]
)


def spend_alerts(events: DataFrame, threshold: float = 100.0) -> DataFrame:
    """events(user_id, value, ...) stream → alert rows on each crossing of
    ``threshold`` multiples of cumulative value per user."""

    def track(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        total, alerts = state.get if state.exists else (0.0, 0)
        out = []
        # concat BEFORE sorting: a group larger than one Arrow record
        # batch arrives as several chunks in arbitrary order, and a
        # chunk-local sort would interleave them wrongly
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            for v in batch.sort_values(["ts", "event_id"])["value"]:
                total += float(v)
                while total >= (alerts + 1) * threshold:
                    alerts += 1
                    out.append((user_id, alerts, total))
        state.update((total, alerts))
        if out:
            yield pd.DataFrame(out, columns=["user_id", "alert_no", "total_value"])

    return (
        events.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            track,
            outputStructType=ALERT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_upsert_to_parquet(
    updates_stream, target_dir: str, key: str, checkpoint_dir: str,
    order_col: str | None = None,
):
    """Streaming keyed upsert (MERGE) into a parquet snapshot via
    ``foreachBatch`` — the continuous twin of ``operators.upsert.upsert``
    and the standard sink pattern when no transactional table format is
    available: each micro-batch last-writer-wins-merges into the target.

    Within a micro-batch, several updates can share a key; ``order_col``
    picks the survivor (max wins, ties broken arbitrarily but the batch
    reduce is deterministic for distinct order values). foreachBatch gives
    exactly-once *per batch id* on retries as long as the merge is
    idempotent — last-writer-wins is.

    The snapshot swap is staged: the merged result is written to a
    batch-stamped staging dir, then the old target is deleted and the
    staging dir renamed into place. A crash between delete and rename
    leaves no target but a complete staging snapshot; the next attempt
    recovers `current` from the newest staging dir, so no merged keys are
    lost. Existence is probed via the Hadoop FS API — a corrupt footer or
    transient FS error surfaces as an exception instead of silently
    restarting the snapshot from one batch.

    At 100 TB the same loop applies with the target bucketed by key (the
    anti-join becomes co-located) or swapped for MERGE INTO on a
    transactional format; the micro-batch logic is unchanged.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from bigdata2016w_spark.operators.upsert import upsert
    from bigdata2016w_spark.streaming.batches import fs_path, start_batches

    def _merge(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if order_col is not None:
            w = Window.partitionBy(key).orderBy(F.desc(order_col))
            batch_df = (
                batch_df.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn")
            )
        else:
            batch_df = batch_df.dropDuplicates([key])

        target, fs = fs_path(spark, target_dir)
        matches = fs.globStatus(
            fs_path(spark, target_dir + ".staging-*")[0]) or []
        stagings = sorted(
            (s.getPath() for s in matches),
            key=lambda p: int(p.getName().rsplit("-", 1)[1]),
        )
        if fs.exists(target):
            current = spark.read.parquet(target_dir)
        elif stagings:
            # prior attempt crashed between delete(target) and rename:
            # the newest staging dir holds the complete merged snapshot
            current = spark.read.parquet(str(stagings[-1].toUri()))
        else:
            current = None
        merged = (
            batch_df if current is None
            else upsert(current, batch_df.select(*current.columns), key)
        )
        # materialize (executor-side) before the swap: the merge plan
        # reads the directory tree it is about to rewrite
        merged = merged.localCheckpoint(eager=True)
        staging, _ = fs_path(spark, f"{target_dir}.staging-{batch_id}")
        merged.write.mode("overwrite").parquet(str(staging.toUri()))
        # the staging write is complete → safe to retire target + old stagings
        fs.delete(target, True)
        for old in stagings:
            if str(old) != str(staging):
                fs.delete(old, True)
        if not fs.rename(staging, target):
            raise IOError(
                f"rename {staging} -> {target} failed; snapshot left in staging"
            )

    return start_batches(updates_stream, target_dir, checkpoint_dir, _merge)


ANOMALY_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("n_window", T.LongType()),
    ]
)

ANOMALY_STATE_SCHEMA = T.StructType(
    [T.StructField("recent_cents", T.ArrayType(T.LongType()))]
)


def rolling_anomalies(events: DataFrame, frame: int = 20,
                      min_n: int = 8, z: int = 3) -> DataFrame:
    """Streaming twin of ``plans/corpus_ext.events_user_value_anomalies``:
    per-user rolling z-score outliers with BOUNDED explicit state — the
    last ``frame`` cents-quantized values per user, nothing else.

    The test is the same exact-int64 inequality as the batch query
    ((c·n − S)²·(n−1) > z²·n·(n·Q − S²)), so on an in-order replay
    (availableNow over a sorted source, or any in-order stream) the
    emitted rows are bit-identical to the batch plan — asserted in
    tests/test_streaming.py. State is O(frame) longs per active user and
    lives in the state store, partitioned by user_id like any keyed agg.
    Cross-batch ordering is the stream's responsibility (event-time
    ordered sources); within a batch rows are sorted by (ts, event_id).
    """

    def detect(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        recent: list[int] = list(state.get[0]) if state.exists else []
        out = []
        # concat BEFORE sorting: a group larger than one Arrow record
        # batch arrives as several chunks in arbitrary order; a
        # chunk-local sort would process later-chunk events with earlier
        # timestamps out of order and corrupt the rolling window
        batch = pd.concat(list(pdfs), ignore_index=True)
        ordered = batch.sort_values(["ts", "event_id"]) if len(batch) else batch
        for eid, v in zip(ordered.get("event_id", []),
                          ordered.get("value", [])):
            x = float(v) * 100
            # Spark's round() converts the double via its shortest
            # decimal repr and applies HALF_UP; replicate exactly.
            # (floor(x+0.5) is NOT equivalent: binary addition can carry
            # x across an integer boundary, e.g. the largest double
            # below 0.5; Python's round() is half-to-even and disagrees
            # on exact .5 ties.)
            c = int(Decimal(repr(x)).quantize(Decimal(1),
                                              rounding=ROUND_HALF_UP))
            n = len(recent)
            if n >= min_n:
                s = sum(recent)
                q = sum(x2 * x2 for x2 in recent)
                lhs = c * n - s
                if lhs * lhs * (n - 1) > z * z * n * (n * q - s * s):
                    out.append((int(eid), user_id, float(v), n))
            recent.append(c)
            if len(recent) > frame:
                del recent[0]
        state.update((recent,))
        if out:
            yield pd.DataFrame(
                out, columns=["event_id", "user_id", "value", "n_window"]
            )

    return (
        events.select("user_id", "ts", "event_id", "value")
        # same exclusions as the batch twin: NULL ts has no stream order,
        # NULL value has no cents (and would crash the Python fold)
        .where(F_col("ts").isNotNull() & F_col("value").isNotNull())
        .groupBy("user_id")
        .applyInPandasWithState(
            detect,
            outputStructType=ANOMALY_SCHEMA,
            stateStructType=ANOMALY_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
