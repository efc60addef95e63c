"""Streaming ingestion with dedup admission — the end-to-end shape of a
production training-data intake: documents arrive as a stream, each
micro-batch is deduplicated within itself AND against everything already
accepted, and only the survivors land in the corpus.

``foreachBatch`` because the admission decision needs a batch-vs-table
join (the cross-corpus PPJoin of ``operators.dedup``), which stock
streaming aggregation cannot express. Survivors of batch N land in
``{target_dir}/batch=N``: the replay-safe layout of
``streaming.batches``, which also refuses a fresh checkpoint pointed at a
populated target. What is this module's own: a replayed batch reads the
accepted corpus only BEFORE its own id (:func:`_accepted`).

At 100 TB the accepted corpus is the same parquet layout bucketed by its
prefix-index keys, and the per-batch cross PPJoin reads only the index
buckets its probe shingles hash to; the micro-batch logic is unchanged.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata2016w_spark.streaming.batches import (
    batch_dirs,
    batch_id,
    read_batches,
    start_batches,
)


def _accepted(
    spark, target_dir: str, schema, before_batch: int | None = None
) -> DataFrame:
    """All previously admitted docs (batch-stamped subdirs), or an empty
    frame with the right schema before the first batch commits.

    ``before_batch`` (the replaying sink passes its own batch id) excludes
    that batch's — and any later — subdirectory. Without it, a replay of a
    batch whose parquet write succeeded but whose checkpoint commit did not
    would anti-join the batch against its OWN prior output, classify every
    doc as already-accepted, and overwrite ``batch=N`` with an empty set:
    silent permanent loss."""
    return read_batches(spark, target_dir, schema, before_batch)


def read_admission_ledger(
    spark, target_dir: str, schema, id_col: str
) -> DataFrame:
    """The admission ledger (batch, ``id_col``) of an admission sink's
    output: every admitted id stamped with the micro-batch that admitted
    it, ordered by (batch, ``id_col``)."""
    parts = [
        spark.read.schema(schema).parquet(d).select(
            F.lit(batch_id(d)).cast("long").alias("batch"), id_col,
        )
        for d in batch_dirs(spark, target_dir)
    ]
    return reduce(DataFrame.unionAll, parts).orderBy("batch", id_col)


def admit_batch(
    batch_df: DataFrame, accepted: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Pure admission logic (shared by the sink and its batch tests):
    in-batch exact dedup (min doc_id per text) → in-batch near-dup dedup
    (drop the higher id of each Jaccard≥t pair, the corpus_curation
    survivor convention) → drop anything whose text already exists in
    ``accepted`` (semi-join) or near-dups an accepted doc (cross PPJoin,
    never intra-side)."""
    from bigdata2016w_spark.operators.dedup import (
        jaccard_cross_near_dupes,
        jaccard_near_dupes,
    )

    keep_exact = batch_df.groupBy("text").agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    b = batch_df.join(keep_exact, "doc_id", "left_semi")
    losers = jaccard_near_dupes(b, threshold).select(
        F.col("doc_b").alias("doc_id")
    ).distinct()
    b = b.join(losers, "doc_id", "left_anti")
    b = b.join(accepted.select("text").distinct(), "text", "left_anti")
    near = jaccard_cross_near_dupes(accepted, b, threshold).select(
        F.col("probe_id").alias("doc_id")
    ).distinct()
    return b.join(near, "doc_id", "left_anti").select(*batch_df.columns)


def _start_admission(stream: DataFrame, target_dir: str,
                     checkpoint_dir: str, admit):
    """Start an admission stream: batch N's survivors,
    ``admit(batch_df, accepted, N)``, overwrite ``{target_dir}/batch=N``,
    where ``accepted`` is every batch admitted before N."""

    def _admit(batch_df: DataFrame, bid: int) -> None:
        accepted = _accepted(batch_df.sparkSession, target_dir,
                             batch_df.schema, before_batch=bid)
        admit(batch_df, accepted, bid).write.mode("overwrite").parquet(
            f"{target_dir}/batch={bid}"
        )

    return start_batches(stream, target_dir, checkpoint_dir, _admit)


def dedup_admission_sink(
    docs_stream: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
):
    """Start the admission stream: returns the StreamingQuery. Survivors
    of batch N (:func:`admit_batch`) land in ``{target_dir}/batch=N``."""
    return _start_admission(
        docs_stream, target_dir, checkpoint_dir,
        lambda batch_df, accepted, _: admit_batch(
            batch_df, accepted, threshold),
    )


def _accepted_count(spark, target_dir: str,
                    before_batch: int | None = None) -> int:
    """Row count of the accepted corpus from parquet FOOTER metadata —
    the catalog-stats read, NOT a per-batch count() job over every
    batch= subdir; the scan-free way to size the cross-checker's LSH
    planes as the corpus grows. Same Hadoop listing as ``_accepted``
    for the replay-safety semantics, then ``catalog.dir_row_count``
    for the footers (which falls back to an explicit footer read when
    a fragment carries no inline metadata — counting such a fragment
    as 0 would undersize the blocker). The Hadoop listing's URIs are
    passed to pyarrow VERBATIM — stripping to ``.path`` would drop the
    host/bucket and read the wrong (or no) filesystem on any non-local
    DFS. pyarrow's filesystem layer resolves the schemes it knows
    (``file:`` — single- and triple-slash forms verified — ``hdfs:``,
    ``s3:``); a Hadoop-only scheme spelling like ``s3a://`` fails
    LOUDLY at dataset construction rather than silently reading a
    wrong local path, and would need a scheme mapping here plus a
    filesystem-aware fallback in ``dir_row_count`` to support."""
    from bigdata2016w_spark.sources.catalog import dir_row_count

    return sum(
        dir_row_count(d)
        for d in batch_dirs(spark, target_dir, before_batch)
    )


def admit_embedding_batch(
    batch_df: DataFrame,
    accepted: DataFrame,
    threshold: float = 0.9,
    dim: int = 64,
    n_accepted: int | None = None,
) -> DataFrame:
    """Embedding-space admission (shared by the sink and batch tests):
    in-batch semantic dedup — drop the higher vec_id of every cosine ≥
    threshold pair (``similarity.embedding_near_dupes``; exact copies
    are cosine 1.0, so no separate exact tier) — then drop anything
    whose cosine to an already-accepted vector reaches the threshold
    (``similarity.embedding_cross_near_dupes``, probe-vs-index only).
    The near-identical-vector gate of an embedding-indexed corpus:
    ingest-time SemDeDup."""
    from bigdata2016w_spark.operators.similarity import (
        embedding_cross_near_dupes,
        embedding_near_dupes,
    )

    losers = embedding_near_dupes(batch_df, threshold, dim=dim).select(
        F.col("vec_b").alias("vec_id")
    ).distinct()
    b = batch_df.join(losers, "vec_id", "left_anti")
    near = embedding_cross_near_dupes(
        accepted, b, threshold, dim=dim, n_index=n_accepted
    ).select(F.col("probe_id").alias("vec_id")).distinct()
    return b.join(near, "vec_id", "left_anti").select(*batch_df.columns)


def admit_winnow_batch(
    batch_df: DataFrame, accepted: DataFrame, min_shared: int = 1
) -> DataFrame:
    """Winnow-fingerprint admission logic (shared by the sink and its
    batch tests) — the CHEAPEST long-span dup gate: in-batch exact dedup
    (min doc_id per text) → in-batch long-span dedup (drop the higher id
    of every pair sharing ≥ ``min_shared`` rare winnow fingerprints) →
    drop anything whose text already exists in ``accepted`` → drop
    anything sharing ≥ ``min_shared`` rare fingerprints with an accepted
    doc (``winnow_cross_candidates``, probe-vs-index only, never
    intra-side). ``min_shared`` defaults to 1: one shared fingerprint is
    already the winnowing guarantee for any shared span of ≥ k+w−1
    tokens, so this tier is LOSSLESS for long-span dups at a fingerprint
    density of ~2/(w+1) of the k-grams — far fewer index rows than the
    PPJoin shingle gate of :func:`admit_batch`, which remains the
    stronger (Jaccard-over-whole-doc) but costlier tier."""
    from bigdata2016w_spark.operators.sketches import (
        winnow_cross_candidates,
        winnow_dup_candidates,
    )

    keep_exact = batch_df.groupBy("text").agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    b = batch_df.join(keep_exact, "doc_id", "left_semi")
    losers = winnow_dup_candidates(b, min_shared=min_shared).select(
        F.col("doc_b").alias("doc_id")
    ).distinct()
    b = b.join(losers, "doc_id", "left_anti")
    b = b.join(accepted.select("text").distinct(), "text", "left_anti")
    near = winnow_cross_candidates(accepted, b, min_shared=min_shared).select(
        F.col("probe_id").alias("doc_id")
    ).distinct()
    return b.join(near, "doc_id", "left_anti").select(*batch_df.columns)


def winnow_admission_sink(
    docs_stream: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    min_shared: int = 1,
):
    """Streaming winnow-fingerprint admission gate: the long-span-dup
    analogue of :func:`dedup_admission_sink`. Survivors of batch N
    (:func:`admit_winnow_batch`) land in ``{target_dir}/batch=N``."""
    return _start_admission(
        docs_stream, target_dir, checkpoint_dir,
        lambda batch_df, accepted, _: admit_winnow_batch(
            batch_df, accepted, min_shared),
    )


def embedding_admission_sink(
    vec_stream: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.9,
    dim: int = 64,
):
    """Streaming embedding-admission gate: the vector analogue of
    :func:`dedup_admission_sink`. Survivors of batch N
    (:func:`admit_embedding_batch`, its LSH planes sized by the accepted
    corpus's footer row count) land in ``{target_dir}/batch=N``."""
    return _start_admission(
        vec_stream, target_dir, checkpoint_dir,
        lambda batch_df, accepted, bid: admit_embedding_batch(
            batch_df, accepted, threshold, dim,
            n_accepted=_accepted_count(batch_df.sparkSession, target_dir,
                                       before_batch=bid),
        ),
    )
