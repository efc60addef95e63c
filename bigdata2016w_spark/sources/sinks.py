"""Sinks — the engine's write surface.

Reference counterparts: ``TextOutputFormat``/``saveAsTextFile`` goldens
(``JAVA/assignment0/WordCount.java:162``), SequenceFile iteration
checkpoints (``RunPersonalizedPageRankBasic.java:540``), sorted MapFile
postings (``BuildInvertedIndexCompressed.java:238``), and the delete-
output-dir-first idiom (``WordCount.java:169-170``) — which is just
``mode('overwrite')`` here.

Parquet is canonical; the postings writer sorts within partitions so
Parquet min/max (plus optional bloom filters on ``term``) serve the
MapFile-style point lookups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from bigdata2016w_spark.streaming.batches import (
    exists,
    fs_path,
    refuse_while_compacting,
)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None,
                  mode: str = "overwrite") -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_text_golden(df: DataFrame, path: str, sep: str = "\t",
                      mode: str = "overwrite") -> None:
    """Reference-style text golden output (tab-separated, one part per
    partition — coalesce upstream if a single file is wanted)."""
    df.write.mode(mode).option("sep", sep).csv(path)


def write_range_partitioned(
    df: DataFrame, path: str, cols: list[str],
    num_partitions: int | None = None, mode: str = "overwrite",
) -> None:
    """Globally range-partitioned, in-file-sorted output — the engine's
    twin of the reference's RangePartitioner (RangePartitioner.java:23-25,
    which splits PageRank node ids into contiguous ranges per reducer).
    ``repartitionByRange`` samples range bounds (TotalOrderPartitioner's
    sampled split points, but in-plan), ``sortWithinPartitions`` orders
    rows inside each part file: every file then holds a disjoint key
    range, internally sorted, so concatenating files in range order is a
    total order and Parquet min/max prune point/range reads to one file."""
    part = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions
        else df.repartitionByRange(*cols)
    )
    part.sortWithinPartitions(*cols).write.mode(mode).parquet(path)


def write_postings(postings: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Sorted, bloom-filtered postings table — the MapFile/HBase
    replacement. Term-sorted row groups give Parquet min/max pruning on
    point lookups; the bloom filter catches misses cheaply."""
    (
        postings.repartition("term")
        .sortWithinPartitions("term")
        .write.mode(mode)
        .option("parquet.bloom.filter.enabled#term", "true")
        .parquet(path)
    )


def compact_parquet(
    spark, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_file_bytes)`` files (the maintenance job
    every long-lived streaming/upsert sink needs — micro-batches and
    per-key writers leave thousands of KB-sized files whose open/footer
    overhead dominates scans at 100 TB).

    Uses coalesce (narrow — no shuffle: compaction must not pay a full
    re-shuffle just to merge files) and stages the rewrite next to the
    target before an atomic-as-the-FS-allows swap, same discipline as
    the streaming upsert sink. Returns the new file count.
    """
    import math

    target, fs = fs_path(spark, path)
    total = fs.getContentSummary(target).getLength()
    n_files = max(1, math.ceil(total / target_file_bytes))

    df = spark.read.parquet(path)
    staging, _ = fs_path(spark, path + ".compact-staging")
    df.coalesce(n_files).write.mode("overwrite").parquet(str(staging.toUri()))
    fs.delete(target, True)
    if not fs.rename(staging, target):
        raise IOError(f"rename {staging} -> {target} failed")
    return n_files


def zorder_value(cols, mins, maxs, bits: int = 16):
    """Morton (Z-order) interleave of ``len(cols)`` numeric columns, each
    width-bucketed into 2^bits cells between its [min, max] literals (one
    tiny agg collects the bounds; skewed columns can pass quantile-based
    bounds instead). Bit i of each bucket id lands at interleaved
    position i*n_cols+j, so a range predicate on ANY participating
    column maps to contiguous-ish z-ranges — the multi-column data-
    skipping layout (OPTIMIZE ZORDER) built from plain expressions.
    """
    from pyspark.sql import functions as F

    n = len(cols)
    ids = []
    for c, lo, hi in zip(cols, mins, maxs):
        span = float(hi) - float(lo) or 1.0
        cell = (
            (F.col(c).cast("double") - float(lo)) / span * ((1 << bits) - 1)
        ).cast("long")
        ids.append(F.greatest(F.lit(0), F.least(cell, F.lit((1 << bits) - 1))))
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, b in enumerate(ids):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(b, i).bitwiseAND(F.lit(1)), i * n + j
                )
            )
    return z


def write_zordered(
    df: DataFrame, path: str, cols: list[str], bits: int = 16,
    mode: str = "overwrite", row_group_bytes: int | None = None,
    num_files: int | None = None,
) -> None:
    """Z-order clustered parquet: range-partition + sort by the Morton
    value of ``cols`` so row-group min/max stats prune scans filtered on
    ANY of the clustered columns (a single-column sort prunes only its
    own column). Bounds come from one min/max aggregate."""
    from pyspark.sql import functions as F

    bounds = df.agg(
        *[F.min(c).alias(f"lo_{c}") for c in cols],
        *[F.max(c).alias(f"hi_{c}") for c in cols],
    ).collect()[0]
    z = zorder_value(
        cols,
        [bounds[f"lo_{c}"] for c in cols],
        [bounds[f"hi_{c}"] for c in cols],
        bits,
    )
    w = (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, "__z")
        if num_files else df.withColumn("__z", z).repartitionByRange("__z")
    )
    w = (
        w
        .sortWithinPartitions("__z")
        .drop("__z")  # dropped AFTER the sort: layout keeps the order
        .write.mode(mode)
    )
    if row_group_bytes:
        w = w.option("parquet.block.size", str(row_group_bytes))
    w.parquet(path)


def write_ivf_index(assigned: DataFrame, path: str,
                    mode: str = "overwrite") -> None:
    """Persist an IVF cell assignment (vec_id, embedding, cell) as the
    on-disk inverted file: hive-partitioned by cell, so a probe that
    touches n_probe of n_cells cells reads only those directories — the
    scan-fraction guarantee the IVF docstrings promise, made physical.
    One file per cell partition (the cell table is already the coarse
    unit of work); at 100 TB each cell directory would hold many
    size-bounded files and the same pruning applies."""
    (
        assigned.repartition("cell")
        .write.mode(mode)
        .partitionBy("cell")
        .parquet(path)
    )


def write_pq_index(embeddings: DataFrame, path: str,
                   mode: str = "overwrite") -> None:
    """Persist a product-quantization index: ``{path}/codebook`` (M·K
    codeword rows — the model artifact) and ``{path}/codes`` (one row
    per vector: M byte-sized code ids packed positionally). Downstream
    ADC search (``operators.similarity.knn_from_index``) scans ONLY
    the codes table — M bytes per vector instead of 4·dim — which is
    what makes a 100 TB embedding corpus searchable from disk without
    rehydrating the floats. Training cost is bounded by the codebook's
    deterministic sample regardless of corpus size; encoding is one
    map-side pass (``operators.similarity.pq_encode``)."""
    from pyspark.sql import functions as F

    from bigdata2016w_spark.operators.similarity import (
        _pq_codebook_literal,
        PQ_CODES,
        PQ_SUBSPACES,
        pack_pq_codes,
        pq_encode,
    )

    spark = embeddings.sparkSession
    row = embeddings.where(
        F.col("embedding").isNotNull()
    ).select("embedding").first()
    if row is None:  # empty (or all-NULL) corpus: a valid, empty index
        spark.createDataFrame([], "m int, code bigint, cv array<double>"
                              ).write.mode(mode).parquet(f"{path}/codebook")
        spark.createDataFrame([], "vec_id bigint, codes array<tinyint>"
                              ).write.mode(mode).parquet(f"{path}/codes")
        return
    dim = len(row["embedding"])
    cb = _pq_codebook_literal(embeddings, PQ_CODES, PQ_SUBSPACES, dim)
    codes = pq_encode(embeddings, cb, PQ_SUBSPACES, dim)
    cb.write.mode(mode).parquet(f"{path}/codebook")
    pack_pq_codes(codes).write.mode(mode).parquet(f"{path}/codes")


def write_ivfpq_index(embeddings: DataFrame, path: str,
                      mode: str = "overwrite",
                      n_cells: int = 16, n_iter: int = 2,
                      meta_cols: tuple[str, ...] = ()) -> None:
    """Persist the full residual IVF-PQ index — the production ANN
    artifact that composes both bounds on disk: ``{path}/centroids``
    (the Lloyd coarse quantizer, n_cells rows), ``{path}/codebook``
    (the residual PQ codewords, M·K rows), and ``{path}/codes``
    (hive-partitioned by cell: vec_id + M positionally-packed byte
    codes of the vector's RESIDUAL against its cell centroid). A probe
    (``operators.similarity.knn_from_index``) reads n_probe cell
    DIRECTORIES of M-byte rows — scan fraction × scan footprint both
    enforced by the filesystem, which is what lets a 100 TB embedding
    corpus re-fit NOTHING at query time: both models are train-once
    artifacts here, and queries are one broadcast away from their ADC
    ranks.

    ``meta_cols`` additionally persists ``{path}/meta`` — an attribute
    SIDECAR (vec_id + the named metadata columns from the input frame),
    hive-partitioned by the same ``cell`` as the codes — so a
    metadata-filtered probe (candidate_filter in knn_from_index)
    prunes BOTH scans to the probed cells and pushes the predicate into
    the sidecar's parquet scan; candidate cost stays selectivity ×
    probed-fraction of the corpus. Costs one extra assignment pass at
    build time, nothing at serve time when unused."""
    from pyspark.sql import functions as F

    from bigdata2016w_spark.operators.similarity import (
        PQ_SUBSPACES,
        _assign_to_literal_centroids,
        _centroid_frame,
        _ivf_residual_frame,
        lloyd_centroids,
        pack_pq_codes,
        pq_encode,
        residual_pq_codebook,
    )

    spark = embeddings.sparkSession
    # (re)writing the models: drop any session-shared copy for this path
    # (normalized key — a trailing-slash or relative alias must not
    # leave a stale entry behind)
    from bigdata2016w_spark.operators.similarity import _index_cache_key
    from bigdata2016w_spark.shared import forget

    forget(spark, _index_cache_key(path))
    e = embeddings.where(F.col("embedding").isNotNull())
    row = e.select("embedding").first()
    if row is None:  # empty (or all-NULL) corpus: a valid, empty index
        _centroid_frame(spark, []).write.mode(mode).parquet(
            f"{path}/centroids")
        spark.createDataFrame([], "m int, code bigint, cv array<double>"
                              ).write.mode(mode).parquet(f"{path}/codebook")
        spark.createDataFrame(
            [], "vec_id bigint, codes array<tinyint>, cell int"
        ).write.mode(mode).partitionBy("cell").parquet(f"{path}/codes")
        if meta_cols:
            (
                e.select("vec_id", *meta_cols)
                .withColumn("cell", F.lit(0).cast("int"))
                .limit(0)
                .write.mode(mode).partitionBy("cell")
                .parquet(f"{path}/meta")
            )
        # forget again AFTER the write: a concurrent probe may have
        # re-filled the entry from the half-written index in between
        forget(spark, _index_cache_key(path))
        return
    dim = len(row["embedding"])
    cent_lit = lloyd_centroids(e, n_cells, n_iter, dim)
    cent = _centroid_frame(spark, cent_lit)
    cb = residual_pq_codebook(e, n_cells, dim=dim, n_iter=n_iter,
                              centroids=cent_lit)
    res = _ivf_residual_frame(
        _assign_to_literal_centroids(e, cent_lit), cent, dim
    )
    codes = pq_encode(res, cb, PQ_SUBSPACES, dim, keep=("vec_id", "cell"))
    cent.write.mode(mode).parquet(f"{path}/centroids")
    cb.write.mode(mode).parquet(f"{path}/codebook")
    (
        pack_pq_codes(codes, keep=("vec_id", "cell"))
        .repartition("cell")
        .write.mode(mode)
        .partitionBy("cell")
        .parquet(f"{path}/codes")
    )
    if meta_cols:
        # the attribute sidecar: same cell partitioning as the codes so
        # a filtered probe prunes both scans identically (one extra
        # assignment pass at build time; the codes path's assignment is
        # inside its own residual/encode chain and stays untouched)
        (
            _assign_to_literal_centroids(e, cent_lit, keep=meta_cols)
            .select("vec_id", *meta_cols, "cell")
            .repartition("cell")
            .write.mode(mode).partitionBy("cell")
            .parquet(f"{path}/meta")
        )
    else:
        # a REWRITE without meta_cols must not leave a previous write's
        # sidecar behind: filtered probes would silently semi-join the
        # new codes against the OLD corpus's (vec_id, cell) assignments
        _delete_meta_sidecar(spark, path)
    # forget again AFTER a successful write: a concurrent probe may have
    # re-filled the entry from the half-written index in between
    forget(spark, _index_cache_key(path))


def _delete_meta_sidecar(spark, index_path: str) -> None:
    p, fs = fs_path(spark, f"{index_path}/meta")
    if fs.exists(p):
        fs.delete(p, True)


def index_meta_cols(spark, index_path: str) -> tuple[str, ...]:
    """The metadata sidecar's attribute columns (empty tuple if the
    index has no sidecar) — read from the parquet schema, a metadata
    operation. The sidecar's own layout columns (vec_id + the hive
    ``cell``) are excluded."""
    if not exists(spark, f"{index_path}/meta"):
        return ()
    cols = spark.read.parquet(f"{index_path}/meta").columns
    return tuple(c for c in cols if c not in ("vec_id", "cell"))


def _ivfpq_frozen_models(spark, index_path: str):
    """Read a persisted residual IVF-PQ index's model artifacts back as
    frozen encode inputs: (cent_lit, cent DataFrame, codebook DataFrame,
    n_subspaces, dim). Raises on an empty index — there is no model to
    encode against. Shared by :func:`ivfpq_index_append` and the
    streaming ``streaming.index_sink.ivfpq_append_sink``. Model rows
    come from the session-scoped ``_index_models`` cache (coherent under
    the train-once contract; invalidated by :func:`write_ivfpq_index`)."""
    from bigdata2016w_spark.operators.similarity import (
        _centroid_frame,
        _index_models,
    )

    cb_rows, cent_lit = _index_models(spark, index_path)
    if not cent_lit:
        raise ValueError(
            f"index at {index_path!r} has no centroids — it was written "
            "from an empty corpus; build it with write_ivfpq_index on a "
            "non-empty corpus before appending"
        )
    n_subspaces = cb_rows[-1][0] + 1
    sd = max(len(r[2]) for r in cb_rows)
    cb = spark.createDataFrame(cb_rows, "m int, code bigint, cv array<double>")
    return cent_lit, _centroid_frame(spark, cent_lit), cb, n_subspaces, n_subspaces * sd


def ivfpq_encode_packed(new_embeddings: DataFrame, cent_lit, cent: DataFrame,
                        cb: DataFrame, n_subspaces: int, dim: int
                        ) -> DataFrame:
    """(vec_id, codes, cell): one map-side pass — cell assignment +
    residual encode + positional byte-packing — of new vectors against
    FROZEN index models (no training shuffle, the append-path encode of
    ``ivfpq_index_append`` and the streaming index sink)."""
    from pyspark.sql import functions as F

    from bigdata2016w_spark.operators.similarity import (
        _assign_to_literal_centroids,
        _ivf_residual_frame,
        pack_pq_codes,
        pq_encode,
    )

    e = new_embeddings.where(F.col("embedding").isNotNull())
    res = _ivf_residual_frame(
        _assign_to_literal_centroids(e, cent_lit), cent, dim
    )
    codes = pq_encode(res, cb, n_subspaces, dim, keep=("vec_id", "cell"))
    return pack_pq_codes(codes, keep=("vec_id", "cell"))


def ivfpq_index_append(spark, index_path: str,
                       new_embeddings: DataFrame) -> None:
    """Append new vectors to a persisted residual IVF-PQ index WITHOUT
    re-training — the other half of ``write_ivfpq_index``'s train-once
    claim, and where an admission sink's survivors flow: the centroids
    and codebook are read back as the frozen model artifacts, the new
    batch takes ONE map-side pass (cell assignment + residual encode),
    and its packed codes land in the existing cell partitions with
    ``mode('append')`` — no existing file is rewritten, searches see the
    union immediately. The caller owns vec_id uniqueness across appends
    (the same contract as every keyed sink here). Appending to an empty
    index raises: there is no model to encode against. NOT replay-safe
    by itself (a retried append doubles its rows) — a streaming caller
    uses ``streaming.index_sink.ivfpq_append_sink``, whose batch-stamped
    overwrite layout makes each micro-batch's append idempotent.

    Refuses while a crashed compaction's marker stands (same guard as
    the streaming sink): an append into ``codes`` would shift the base
    row count the marker recorded, so recovery could no longer classify
    the crash point — at worst (batch size exactly equal to the unfolded
    streamed rows) it would mis-read the fold as landed and delete
    unfolded batch dirs. Run ``ivfpq_index_compact`` to auto-recover
    first."""
    from bigdata2016w_spark.streaming.index_sink import _stream_dir

    refuse_while_compacting(spark, _stream_dir(index_path))
    cent_lit, cent, cb, n_subspaces, dim = _ivfpq_frozen_models(
        spark, index_path
    )
    (
        ivfpq_encode_packed(new_embeddings, cent_lit, cent, cb,
                            n_subspaces, dim)
        .repartition("cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(f"{index_path}/codes")
    )
    # a sidecar'd index keeps its ATTRIBUTE rows in lockstep with the
    # codes: appended vectors must land in {path}/meta too, or every
    # filtered probe silently excludes them (the semi-join trap the
    # include_streamed guard raises on). Cells come from the SAME
    # frozen centroids as the codes, so the (vec_id, cell) keys agree.
    meta_cols = index_meta_cols(spark, index_path)
    if meta_cols:
        from pyspark.sql import functions as F

        from bigdata2016w_spark.operators.similarity import (
            _assign_to_literal_centroids,
        )

        missing = [c for c in meta_cols if c not in new_embeddings.columns]
        if missing:
            raise ValueError(
                f"index at {index_path!r} has a metadata sidecar with "
                f"columns {meta_cols} but the appended frame lacks "
                f"{missing} — appending without them would silently "
                "exclude the new vectors from every filtered search"
            )
        (
            _assign_to_literal_centroids(
                new_embeddings.where(F.col("embedding").isNotNull()),
                cent_lit, keep=meta_cols,
            )
            .select("vec_id", *meta_cols, "cell")
            .repartition("cell")
            .write.mode("append")
            .partitionBy("cell")
            .parquet(f"{index_path}/meta")
        )
