"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM), but every
config here is chosen to also hold on a 1000-executor cluster:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  broadcast-join demotion/promotion replace any hand-tuned reducer counts
  (the reference hand-set ``-reducers`` / custom partitioners everywhere).
- ``spark.sql.shuffle.partitions`` is only a pre-AQE ceiling; we default it
  to a small value locally (override via env) and let AQE coalesce.
- Arrow enabled so the few Pandas-UDF operators batch via Arrow, never
  row-at-a-time pickling.
- Session timezone pinned to UTC so timestamp semantics are deterministic
  and match naive-timestamp oracles (DuckDB) bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Catalyst's InferFiltersFromGenerate rewrites explode(expr) into
# Filter(size(expr) > 0 AND isnotnull(expr)) + Generate, duplicating the
# generator expression into the filter. Every Generate in this engine runs
# over a *computed* array (tokenize / shingle / sequence expressions),
# never a bare scanned column, so the inferred filter can never reach a
# data source — it only re-evaluates heavy higher-order expressions two
# extra times per row (measured 6-16x slowdown on shingle explodes at
# sf0.01). Excluded here and, for sessions not built by get_spark, at
# runtime in sources.catalog.load_table. Results are unaffected: the rule
# is a pure optimization, and rows it would pre-filter (empty arrays)
# produce no Generate output anyway.
EXCLUDED_OPTIMIZER_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


def get_spark(
    app_name: str = "bigdata2016w-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        # keep stdout clean: bench.py's one-line JSON contract must not
        # be drowned by stage progress bars (BENCH_r03 was truncated to
        # an unparseable tail by exactly this)
        .config("spark.ui.showConsoleProgress", "false")
        # fallback for an events.parquet written as TIMESTAMP(NANOS): Spark
        # has no ns timestamp type, so such a file reads as long and the
        # loader converts it (ns → µs floor, matching DuckDB's internal µs
        # truncation); the testdata's µs timestamps read as TIMESTAMP_NTZ
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.optimizer.excludedRules", EXCLUDED_OPTIMIZER_RULES)
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/bigdata2016w-warehouse"),
        )
    )
    # Streaming state store: per-key state (spend_alerts' running totals,
    # rolling_anomalies' per-user windows, hourly-distinct dedup maps)
    # lives in the executor state store. The default HDFSBackedStateStore
    # keeps every key's state on the JVM heap — fine for the test corpora,
    # but at 100x users it competes with execution memory and full-
    # snapshots each checkpoint. RocksDB spills state to local disk with
    # changelog (incremental) checkpointing, bounding heap usage
    # regardless of key cardinality. Env-gated so local pytest runs skip
    # the per-query RocksDB instance spin-up; flip on at cluster deploy.
    if os.environ.get("SPARK_GRAFT_ROCKSDB_STATE") == "1":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        ).config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
