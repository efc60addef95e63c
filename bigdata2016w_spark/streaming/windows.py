"""Structured Streaming windowed aggregations — streaming extension
(SURVEY §2.11; the reference is pure batch).

Stock Structured Streaming only: file source → event-time windows with
watermarks → sink. No custom state stores. Each transformation here is the
streaming twin of a registered batch query in ``plans/events.py``; parity
is asserted in tests/test_streaming.py by running the stream with an
``availableNow`` trigger into a memory sink and diffing against batch.

At scale these run unchanged against a Kafka/object-store source: the
watermark bounds state, and the shuffle is keyed on (window, key) exactly
like the batch plan. Window/dedup state defaults to the in-heap
HDFSBackedStateStore; for high-cardinality keys (hourly-distinct user
maps, streaming dedup) set ``SPARK_GRAFT_ROCKSDB_STATE=1`` (see
``session.get_spark``) to keep state in executor-local RocksDB with
changelog checkpointing — identical results, heap-independent state size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdata2016w_spark.sources.catalog import SCHEMAS


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (schema from catalog —
    streaming sources require a declared schema).

    The testdata's file stores naive µs timestamps (TIMESTAMP_NTZ); a
    file written as TIMESTAMP(NANOS) would read as a raw-nanos long
    (legacy ``nanosAsLong``) or, with native ns support, as a
    µs-truncated timestamp. Rather than hard-code one, probe the batch
    reader's resolved dtype under this session — the file stream source
    resolves the footer the same way — and declare the matching schema,
    so batch/stream parity holds bit-for-bit on any session."""
    # ensure the session carries the same events-read confs as the batch
    # loader, then inspect the raw (pre-conversion) footer resolution
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ts_type = (
        spark.read.parquet(f"{sf_dir}/events.parquet").schema["ts"].dataType
    )
    raw_nanos = isinstance(ts_type, T.LongType)
    schema = T.StructType(
        [
            T.StructField(f.name, T.LongType() if raw_nanos and f.name == "ts"
                          else ts_type if f.name == "ts" else f.dataType)
            for f in SCHEMAS["events"].fields
        ]
    )
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if raw_nanos:
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    # watermarks require TIMESTAMP (not NTZ); the session tz is pinned to
    # UTC so the cast is value-preserving
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour count+sum per event_type with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Sliding (1 hour, 30 min) global counts."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
        )
    )


def session_counts(events: DataFrame, gap: str = "30 minutes",
                   watermark: str = "2 hours") -> DataFrame:
    """Stateful session windows per user (session_window + watermark)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .alias("session_start"),
            "n_events",
        )
    )


def enriched_counts(
    events: DataFrame, users: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-static enrichment join: the event stream joins a static user
    dimension (broadcast per micro-batch — the streaming analogue of the
    reference's collectAsMap broadcast, Q3.scala:42-57), then aggregates
    per enrichment key. ``users`` must be a batch DataFrame
    [user_id, user_bucket]."""
    return (
        events.withWatermark("ts", watermark)
        .join(users, "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_bucket")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "user_bucket",
            "n_events",
        )
    )


def dedup_events(
    events: DataFrame,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming first-arrival dedup per key with *bounded* state:
    ``dropDuplicatesWithinWatermark`` evicts key state once the event-time
    watermark passes, so memory is proportional to keys-per-horizon, not
    keys-ever-seen. (Plain ``dropDuplicates`` on a stream is the classic
    scale trap — its state grows without bound.) The batch twin is
    ``SELECT DISTINCT keys``; parity on the key set is asserted in
    tests/test_streaming.py."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def attribution_join(
    views: DataFrame,
    purchases: DataFrame,
    horizon_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: every (view, purchase) pair for the
    same user where the purchase lands within ``horizon_minutes`` after
    the view (ad-attribution shape). Both sides carry event-time
    watermarks and the join condition bounds view_ts to a closed interval
    around purchase_ts, so Spark can evict buffered rows once the other
    side's watermark passes — state is proportional to events-per-horizon,
    not the stream's history. Works identically on batch inputs
    (withWatermark is a no-op there); parity is asserted in
    tests/test_streaming.py against the registered batch twin.
    """
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    p = purchases.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    horizon = F.expr(f"INTERVAL {int(horizon_minutes)} MINUTES")
    return (
        p.join(
            v,
            (F.col("v_user") == F.col("user_id"))
            & (F.col("view_ts") <= F.col("purchase_ts"))
            & (F.col("view_ts") >= F.col("purchase_ts") - horizon),
        )
        .select(
            "user_id",
            "view_id",
            "purchase_id",
            (
                (
                    F.unix_micros(F.col("purchase_ts").cast("timestamp"))
                    - F.unix_micros(F.col("view_ts").cast("timestamp"))
                )
                / 1e6
            ).alias("gap_seconds"),
            "purchase_value",
        )
    )


def run_to_memory(stream_df: DataFrame, name: str,
                  output_mode: str = "complete") -> DataFrame:
    """Execute a streaming DF with availableNow into a memory sink and
    return the materialized result (test/driver helper). Aggregating
    streams replay in ``complete`` mode; non-aggregating ones (dedup,
    maps) need ``append``."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def trending_key_counts(events: DataFrame,
                        watermark: str = "2 hours") -> DataFrame:
    """Streaming half of the trending-keys query: watermarked tumbling
    per-(window, props.k) counts. Ranking (top-k per window) is not a
    streaming-supported window function, so the counts stream into a
    sink and the bounded rank runs downstream per micro-batch or over
    the sink table — exactly how production trending dashboards split
    the work. Parity with the batch twin is asserted in
    tests/test_streaming.py by ranking this stream's availableNow
    output."""
    keyed = events.withWatermark("ts", watermark).select(
        "ts",
        F.expr("try_cast(get_json_object(props, '$.k') as int)").alias("k"),
    ).where(F.col("k").isNotNull())
    return (
        keyed.groupBy(F.window("ts", "1 hour").alias("w"), "k")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
            .alias("window_start"),
            "k",
            "cnt",
        )
    )


def hourly_unique_users(events: DataFrame,
                        watermark: str = "2 hours") -> DataFrame:
    """Streaming exact distinct users per hour via CHAINED stateful
    operators: watermarked dedup of (hour, user) pairs feeding a
    windowed count — the supported streaming decomposition of
    COUNT(DISTINCT), with both states bounded by the watermark horizon.
    Parity with the batch twin is asserted in tests/test_streaming.py."""
    pairs = (
        # NULL users are KEPT through the dedup (stateful dedup keys
        # treat NULLs as equal, so an hour's NULL-user rows collapse to
        # one state row) so that an hour whose events are all NULL-user
        # still emits a (window, 0) row like the batch twin's
        # COUNT(DISTINCT); the count below skips the NULL survivor.
        events.withWatermark("ts", watermark)
        # keep ONLY the window as the event-time column: carrying the raw
        # ts alongside it leaves two event-time columns and the chained
        # stateful query is rejected
        .select(F.window("ts", "1 hour").alias("w"), "user_id")
        .dropDuplicatesWithinWatermark(["w", "user_id"])
    )
    return (
        pairs.groupBy("w")
        .agg(F.count("user_id").alias("unique_users"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
            .alias("window_start"),
            "unique_users",
        )
    )


def nation_hourly(events: DataFrame, dim: DataFrame,
                  watermark: str = "2 hours") -> DataFrame:
    """STREAM-STATIC join: each micro-batch broadcast-joins the static
    customer→nation dimension (the static side is re-resolved per batch,
    so a slowly-changing dim picks up updates between batches), then the
    watermarked tumbling rollup per nation. Twin of the batch
    ``events_nation_hourly``; the stream never shuffles for the join —
    only the (window, nation) aggregate is stateful, and its state is
    watermark-bounded."""
    from pyspark.sql.functions import broadcast

    return (
        events.where(F.col("ts").isNotNull())
        .withWatermark("ts", watermark)
        .join(broadcast(dim), F.col("user_id") == F.col("c_custkey"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "nation")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
            .alias("window_start"),
            "nation", "n_events", "total_value",
        )
    )
