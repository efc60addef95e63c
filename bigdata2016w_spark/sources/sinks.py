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


def _write_by_cell(df: DataFrame, path: str, mode: str) -> None:
    """``df`` hive-partitioned by its ``cell`` column, one file per cell
    partition: the layout of every inverted-file table (the IVF index,
    the IVF-PQ codes and their attribute sidecar)."""
    df.repartition("cell").write.mode(mode).partitionBy("cell").parquet(path)


def write_ivf_index(assigned: DataFrame, path: str,
                    mode: str = "overwrite") -> None:
    """Persist an IVF cell assignment (vec_id, embedding, cell) as the
    on-disk inverted file: hive-partitioned by cell, so a probe that
    touches n_probe of n_cells cells reads only those directories — the
    scan-fraction guarantee the IVF docstrings promise, made physical.
    One file per cell partition (the cell table is already the coarse
    unit of work); at 100 TB each cell directory would hold many
    size-bounded files and the same pruning applies."""
    _write_by_cell(assigned, path, mode)


def _first_dim(embeddings: DataFrame) -> int | None:
    """Length of the first non-NULL embedding — the geometry an index is
    built for — or None for an empty (or all-NULL) corpus."""
    from pyspark.sql import functions as F

    row = embeddings.where(
        F.col("embedding").isNotNull()
    ).select("embedding").first()
    return None if row is None else len(row["embedding"])


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
    map-side pass (``operators.similarity.pq_encode``). Every vector is
    checked once against the first one's length."""
    from bigdata2016w_spark.operators.similarity import (
        PQ_CODES,
        PQ_SUBSPACES,
        _checked,
        _pq_codebook_literal,
        _pq_encode,
        pack_pq_codes,
    )

    spark = embeddings.sparkSession
    dim = _first_dim(embeddings)
    if dim is None:  # empty (or all-NULL) corpus: a valid, empty index
        spark.createDataFrame([], "m int, code bigint, cv array<double>"
                              ).write.mode(mode).parquet(f"{path}/codebook")
        spark.createDataFrame([], "vec_id bigint, codes array<tinyint>"
                              ).write.mode(mode).parquet(f"{path}/codes")
        return
    e = _checked(embeddings, dim)
    cb = _pq_codebook_literal(e, PQ_CODES, PQ_SUBSPACES, dim)
    codes = _pq_encode(e, cb, PQ_SUBSPACES, dim)
    cb.write.mode(mode).parquet(f"{path}/codebook")
    pack_pq_codes(codes).write.mode(mode).parquet(f"{path}/codes")


def _encode_packed(e: DataFrame, cent_lit, codebook: DataFrame,
                   n_subspaces: int, dim: int) -> DataFrame:
    """(vec_id, cell, codes): the residual codes of the checked frame
    ``e`` (``operators.similarity._fused_assign_encode``, one map-side
    pass) packed positionally — what every IVF-PQ writer persists: the
    index build, the batch append and the streaming sink."""
    from bigdata2016w_spark.operators.similarity import (
        _fused_assign_encode,
        pack_pq_codes,
    )

    return pack_pq_codes(
        _fused_assign_encode(e, cent_lit, codebook, n_subspaces, dim,
                             residual=True),
        keep=("vec_id", "cell"),
    )


def _write_meta(e: DataFrame, cent_lit, meta_cols: tuple[str, ...],
                index_path: str, mode: str) -> None:
    """The attribute sidecar rows of ``e`` — vec_id + ``meta_cols``,
    each row in the cell the frozen ``cent_lit`` assign it, the same cell
    its codes land in — written to ``{index_path}/meta``."""
    from bigdata2016w_spark.operators.similarity import (
        _assign_to_literal_centroids,
    )

    _write_by_cell(
        _assign_to_literal_centroids(e, cent_lit, keep=meta_cols)
        .select("vec_id", *meta_cols, "cell"),
        f"{index_path}/meta", mode,
    )


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
    ranks. Every vector is checked once against the first one's length.

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
        PQ_CODES,
        PQ_SUBSPACES,
        _centroid_frame,
        _checked,
        _index_cache_key,
        _lloyd_fit,
        _residual_codebook,
    )
    from bigdata2016w_spark.shared import forget

    spark = embeddings.sparkSession
    # (re)writing the models: drop any session-shared copy for this path
    # (normalized key — a trailing-slash or relative alias must not
    # leave a stale entry behind)
    forget(spark, _index_cache_key(path))
    dim = _first_dim(embeddings)
    if dim is None:  # empty (or all-NULL) corpus: a valid, empty index
        _centroid_frame(spark, []).write.mode(mode).parquet(
            f"{path}/centroids")
        spark.createDataFrame([], "m int, code bigint, cv array<double>"
                              ).write.mode(mode).parquet(f"{path}/codebook")
        spark.createDataFrame(
            [], "vec_id bigint, codes array<tinyint>, cell int"
        ).write.mode(mode).partitionBy("cell").parquet(f"{path}/codes")
        if meta_cols:
            (
                embeddings.select("vec_id", *meta_cols)
                .withColumn("cell", F.lit(0).cast("int"))
                .limit(0)
                .write.mode(mode).partitionBy("cell")
                .parquet(f"{path}/meta")
            )
        # forget again AFTER the write: a concurrent probe may have
        # re-filled the entry from the half-written index in between
        forget(spark, _index_cache_key(path))
        return
    e = _checked(embeddings, dim)
    cent_lit = _lloyd_fit(e, n_cells, n_iter)
    cb = _residual_codebook(e, cent_lit, n_cells, PQ_CODES, PQ_SUBSPACES,
                            dim)
    _centroid_frame(spark, cent_lit).write.mode(mode).parquet(
        f"{path}/centroids")
    cb.write.mode(mode).parquet(f"{path}/codebook")
    _write_by_cell(_encode_packed(e, cent_lit, cb, PQ_SUBSPACES, dim),
                   f"{path}/codes", mode)
    if meta_cols:
        _write_meta(e, cent_lit, meta_cols, path, mode)
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
    frozen encode inputs: (cent_lit, codebook DataFrame, n_subspaces,
    dim). Raises on an empty index — there is no model to encode
    against. Shared by :func:`ivfpq_index_append` and the streaming
    ``streaming.index_sink.ivfpq_append_sink``. Model rows come from the
    session-scoped ``_index_models`` cache (coherent under the
    train-once contract; invalidated by :func:`write_ivfpq_index`)."""
    from bigdata2016w_spark.operators.similarity import _index_models

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
    return cent_lit, cb, n_subspaces, n_subspaces * sd


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
    (the same contract as every keyed sink here). The new vectors are
    checked once against the index's geometry. Appending to an empty
    index raises: there is no model to encode against. NOT replay-safe
    by itself (a retried append doubles its rows) — a streaming caller
    uses ``streaming.index_sink.ivfpq_append_sink``, whose batch-stamped
    overwrite layout makes each micro-batch's append idempotent.

    A sidecar'd index keeps its ATTRIBUTE rows in lockstep with the
    codes: appended vectors land in ``{path}/meta`` too, in the cells
    the same frozen centroids give their codes, or every filtered probe
    would silently exclude them. A frame that lacks the sidecar's
    columns is refused before anything is written.

    Refuses while a crashed compaction's marker stands (same guard as
    the streaming sink): an append into ``codes`` would shift the base
    row count the marker recorded, so recovery could no longer classify
    the crash point — at worst (batch size exactly equal to the unfolded
    streamed rows) it would mis-read the fold as landed and delete
    unfolded batch dirs. Run ``ivfpq_index_compact`` to auto-recover
    first."""
    from bigdata2016w_spark.operators.similarity import _checked
    from bigdata2016w_spark.streaming.index_sink import _stream_dir

    refuse_while_compacting(spark, _stream_dir(index_path))
    cent_lit, cb, n_subspaces, dim = _ivfpq_frozen_models(spark, index_path)
    meta_cols = index_meta_cols(spark, index_path)
    missing = [c for c in meta_cols if c not in new_embeddings.columns]
    if missing:
        raise ValueError(
            f"index at {index_path!r} has a metadata sidecar with "
            f"columns {meta_cols} but the appended frame lacks "
            f"{missing} — appending without them would silently "
            "exclude the new vectors from every filtered search"
        )
    e = _checked(new_embeddings, dim)
    _write_by_cell(_encode_packed(e, cent_lit, cb, n_subspaces, dim),
                   f"{index_path}/codes", "append")
    if meta_cols:
        _write_meta(e, cent_lit, meta_cols, index_path, "append")
