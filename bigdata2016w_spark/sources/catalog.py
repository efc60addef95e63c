"""Table catalog: explicit schemas + loaders for the engine's tables.

The reference is schema-less — every record is a text line, columns are
recovered positionally (``line.split('|')(10)`` = ``l_shipdate``,
``src/main/scala/.../assignment5/Q1.scala:39-41``). Here every table has a
declared ``StructType`` once, in one registry; loaders produce DataFrames
whose scans benefit from Parquet column pruning + predicate pushdown.

Tables follow the driver testdata layout: ``{sf_dir}/{name}.parquet``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_S = T.StringType()
_I = T.IntegerType()
_L = T.LongType()
_D = T.DoubleType()
# every parquet timestamp in the testdata (events.ts included) is INT64
# µs with isAdjustedToUTC=false; Spark 4 reads those as TIMESTAMP_NTZ —
# declare the same so text-format ingestion (read_tbl, read_jsonl)
# produces the schema load_table returns
_TS = T.TimestampNTZType()


def _st(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in fields])


SCHEMAS: dict[str, T.StructType] = {
    "region": _st(("r_regionkey", _I), ("r_name", _S)),
    "nation": _st(("n_nationkey", _I), ("n_name", _S), ("n_regionkey", _I)),
    "customer": _st(
        ("c_custkey", _L), ("c_name", _S), ("c_nationkey", _I),
        ("c_acctbal", _D), ("c_mktsegment", _S),
    ),
    "supplier": _st(
        ("s_suppkey", _L), ("s_name", _S), ("s_nationkey", _I), ("s_acctbal", _D),
    ),
    "part": _st(
        ("p_partkey", _L), ("p_name", _S), ("p_brand", _S), ("p_type", _S),
        ("p_size", _I), ("p_retailprice", _D),
    ),
    "orders": _st(
        ("o_orderkey", _L), ("o_custkey", _L), ("o_orderstatus", _S),
        ("o_totalprice", _D), ("o_orderdate", _TS), ("o_orderpriority", _S),
    ),
    "lineitem": _st(
        ("l_orderkey", _L), ("l_partkey", _L), ("l_suppkey", _L),
        ("l_linenumber", _I), ("l_quantity", _D), ("l_extendedprice", _D),
        ("l_discount", _D), ("l_tax", _D), ("l_returnflag", _S),
        ("l_linestatus", _S), ("l_shipdate", _TS),
    ),
    "events": _st(
        ("event_id", _L), ("ts", _TS), ("user_id", _L),
        ("event_type", _S), ("value", _D), ("props", _S),
    ),
    "documents": _st(
        ("doc_id", _L), ("text", _S), ("lang", _S), ("source", _S), ("n_chars", _L),
    ),
    "embeddings": _st(
        ("vec_id", _L), ("embedding", T.ArrayType(T.FloatType())), ("label", _I),
    ),
}

TABLES: tuple[str, ...] = tuple(SCHEMAS)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table from ``{sf_dir}/{name}.parquet``."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Runtime-settable perf conf for sessions not built by get_spark (an
    # external harness builds its own): see session.EXCLUDED_OPTIMIZER_RULES
    # for why InferFiltersFromGenerate is never useful to this engine.
    from bigdata2016w_spark.session import EXCLUDED_OPTIMIZER_RULES

    spark.conf.set("spark.sql.optimizer.excludedRules", EXCLUDED_OPTIMIZER_RULES)
    if name == "events":
        # fallback for an events file written as TIMESTAMP(NANOS), which
        # Spark reads only with nanosAsLong (the testdata's is µs).
        # Sessions not built by session.get_spark (e.g. an external
        # harness) lack the conf; it is runtime-settable, so set it here.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read via nanosAsLong — floor to µs precision,
        # exactly what DuckDB does internally with ns parquet timestamps
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return df


def read_conformed(
    spark: SparkSession,
    batch_dirs: list[str],
    schema: T.StructType,
    defaults: dict[str, object] | None = None,
) -> DataFrame:
    """Schema-evolution-safe batch reader: conform every parquet batch
    dir to one DECLARED target schema, then concatenate.

    A year of ingest batches rarely shares one physical schema — columns
    get added, ints get widened. Spark's ``mergeSchema`` handles
    additions but hard-fails on type widening (int32 vs int64 is a merge
    CONFLICT), and yields the union of whatever is on disk rather than a
    declared contract. This reader makes the contract explicit: each
    batch is read with its embedded schema, missing columns materialize
    as typed defaults (NULL unless ``defaults`` says otherwise), present
    columns cast to the declared type, and the conformed batches
    concatenate by name.

    100-TB shape: the union is plan-level (no shuffle, no driver data);
    column pruning and predicate pushdown reach EACH batch's parquet
    scan through the union; casts/defaults are JVM column expressions.
    The reference has no schema story at all (positional
    ``line.split('|')`` recovery, assignment5/Q1.scala:39-41) — this is
    its modern replacement for a lake whose layout drifted over time."""
    if not batch_dirs:
        raise ValueError("read_conformed needs at least one batch dir")
    defaults = defaults or {}
    out = None
    for d in batch_dirs:
        df = spark.read.parquet(d)
        have = set(df.columns)
        part = df.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                if f.name in have
                else F.lit(defaults.get(f.name)).cast(f.dataType)
                .alias(f.name)
                for f in schema.fields
            ]
        )
        out = part if out is None else out.unionByName(part)
    return out


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count from parquet FOOTER metadata — a catalog-stats
    lookup, not a Spark job. Operators that size themselves to the input
    (``embedding_near_dupes``'s adaptive plane count) use this instead of
    a ``count()`` action, saving one full scan per invocation; on a real
    warehouse this is the table-stats read every CBO already does."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    return dir_row_count(f"{sf_dir}/{name}.parquet")


def dir_row_count(path: str) -> int:
    """Exact row count of one parquet directory from footer metadata
    (shared by :func:`table_row_count` and the streaming sinks' accepted-
    corpus sizing). Falls back to reading the footer explicitly when a
    fragment carries no inline metadata — silently treating that case as
    0 rows would undersize every consumer that scales to the input."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    dataset = ds.dataset(path, format="parquet")
    return sum(
        (f.metadata.num_rows if f.metadata is not None
         else pq.read_metadata(f.path).num_rows)
        for f in dataset.get_fragments()
    )


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every catalog table (lazy — scans happen per-query)."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every catalog table as a temp view so the full surface is
    reachable through ``spark.sql`` (the engine's SQL API — the reference
    had no SQL surface at all).

    Resilient per table: one unloadable/missing table must not sink
    queries that never touch it, so failures are skipped with a warning.
    """
    import warnings

    for name in TABLES:
        try:
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
        except Exception as exc:  # pragma: no cover - depends on bad data
            warnings.warn(f"register_views: skipping table {name!r}: {exc}")
