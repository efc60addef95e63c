"""Streaming maintenance of a persisted residual IVF-PQ index — the
vector-index member of the foreachBatch sink family.

``sources.sinks.ivfpq_index_append`` encodes new vectors against the
FROZEN model artifacts (centroids + codebook) in one map-side pass, but
its ``mode('append')`` write is not replay-safe: a micro-batch whose
parquet write succeeded but whose checkpoint commit did not would append
its rows AGAIN on replay. This sink keeps the one-pass frozen-model
encode and swaps the landing zone for the replay-safe layout of
``streaming.batches``: batch N's packed codes land under
``{index}/codes_stream/batch=N``, hive-partitioned by cell inside the
batch dir. Probes union the base
``codes`` partitions with the streamed ones
(``knn_from_index(include_streamed=True)``); both sides prune to
the probed cells BEFORE the union, so the scan stays n_probe cell
directories of M-byte rows on each side.

At 100 TB the streamed tail stays tiny relative to the base index, and
:func:`ivfpq_index_compact` periodically folds ``codes_stream`` batches
into the base ``codes`` partitions (quiesce the stream first) to bound
read-side fan-in — the same compaction story as the sketch partials
(``sketch_sink.compact_sketch_batches``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bigdata2016w_spark.streaming.batches import (
    batch_dirs,
    clear_marker,
    fs_path,
    leave_tombstone,
    read_marker,
    refuse_unsafe_start,
    refuse_while_compacting,
    start_batches,
    write_marker,
)

CODES_SCHEMA = "vec_id bigint, codes array<tinyint>, cell int"


def _stream_dir(index_path: str) -> str:
    return f"{index_path}/codes_stream"


def read_streamed_codes(spark: SparkSession, index_path: str) -> DataFrame:
    """(vec_id, codes, cell): every committed micro-batch's packed codes
    (see ``streaming.batches``). No batches yet → empty typed frame.
    Each batch dir is itself hive-partitioned by cell, so a cell filter
    on this frame still prunes directories at the scan."""
    refuse_while_compacting(spark, _stream_dir(index_path))
    dirs = batch_dirs(spark, _stream_dir(index_path))
    if not dirs:
        return spark.createDataFrame([], CODES_SCHEMA)
    # basePath anchors partition discovery at the stream root so each
    # batch dir's nested cell= level parses as (batch, cell) instead of
    # CONFLICTING_DIRECTORY_STRUCTURES; only committed batch dirs are
    # listed, so an in-flight batch still can't leak in
    return (
        spark.read.option("basePath", _stream_dir(index_path))
        .parquet(*dirs)
        .select("vec_id", "codes", "cell")
    )


def ivfpq_index_compact(spark: SparkSession, index_path: str) -> int:
    """Fold every streamed batch's codes into the base ``codes``
    partitions and remove ``codes_stream``'s batch dirs — the periodic
    job that bounds probe-side fan-in as the streamed tail grows.
    Returns the number of code rows folded (0 = nothing to compact).

    Run against a QUIESCED stream whose last batch committed — and with
    no concurrent BATCH appends either (``sources.sinks
    .ivfpq_index_append`` refuses while the marker stands, but an append
    that starts before the marker lands would shift the recorded base
    row count mid-fold) — and keep using the ORIGINAL checkpoint
    afterwards — a fresh checkpoint would
    re-process every input file and re-encode vectors that now live in
    the base partitions. The sink enforces that even after the batch
    dirs are gone: compaction leaves a permanent tombstone
    (``streaming.batches.leave_tombstone``) that keeps the
    fresh-checkpoint guard armed.

    Crash safety: before the base append, a marker records the base and
    streamed row counts. The append itself only ever ADDS rows, so on
    restart those two numbers classify the crash point exactly —
    base unchanged → the append never landed (recovery clears the marker
    and re-runs the fold); base grew by the full streamed count → the
    append landed (recovery finishes the batch-dir cleanup); anything
    else → a partially-committed append, reported with the exact counts
    and never "fixed" by deleting data. Recovery is AUTOMATIC: calling
    this function again performs it; nothing in the protocol asks an
    operator to remove files by hand."""
    info = read_marker(spark, _stream_dir(index_path))
    if info is not None:
        return _recover_crashed_compaction(spark, index_path, info)
    dirs = batch_dirs(spark, _stream_dir(index_path))
    if not dirs:
        return 0
    # streamed batch dirs carry NO metadata-sidecar rows — filtered
    # search over them already raises (knn_from_index's
    # include_streamed guard). Folding them into the base codes would
    # strip that guard: the rows become base rows that every filtered
    # probe silently excludes. Refuse rather than silently corrupt the
    # filtered tier; the operator appends via sources.sinks
    # .ivfpq_index_append (which maintains the sidecar) instead.
    from bigdata2016w_spark.sources.sinks import (
        _write_by_cell,
        index_meta_cols,
    )

    if index_meta_cols(spark, index_path):
        raise ValueError(
            f"index at {index_path!r} has a metadata sidecar: folding "
            "sidecar-less streamed codes into the base would make them "
            "invisible to every filtered search. Re-ingest the streamed "
            "batches through sources.sinks.ivfpq_index_append (which "
            "appends matching sidecar rows) instead of compacting."
        )
    # one materialization feeds the count AND the append (the tail the
    # compactor exists to bound shouldn't be scanned twice)
    streamed = read_streamed_codes(spark, index_path).localCheckpoint(
        eager=True
    )
    n = streamed.count()
    base_rows = spark.read.parquet(f"{index_path}/codes").count()
    write_marker(spark, _stream_dir(index_path),
                 {"base_rows": base_rows, "streamed_rows": n})
    _write_by_cell(streamed, f"{index_path}/codes", "append")
    _finish_compaction_cleanup(spark, index_path, dirs)
    return n


def _finish_compaction_cleanup(spark, index_path: str, dirs) -> None:
    """Post-append tail of the compaction: drop the folded batch dirs,
    leave the permanent tombstone (keeps the sink's fresh-checkpoint
    guard armed forever — the checkpoint lives and dies with the index),
    then clear the marker."""
    for d in dirs:
        p, fs = fs_path(spark, d)
        fs.delete(p, True)
    leave_tombstone(spark, _stream_dir(index_path))
    clear_marker(spark, _stream_dir(index_path))


def _recover_crashed_compaction(spark, index_path: str, info) -> int:
    """Finish (or safely restart) a compaction whose marker survived a
    crash, using the row counts the marker recorded (``info``) — see
    :func:`ivfpq_index_compact`'s crash-safety note."""
    if "base_rows" not in info:
        # crash between marker creation and its single write, or a torn
        # write: the append (which strictly follows the close) cannot
        # have run
        clear_marker(spark, _stream_dir(index_path))
        return ivfpq_index_compact(spark, index_path)
    base, n = int(info["base_rows"]), int(info["streamed_rows"])
    cur = spark.read.parquet(f"{index_path}/codes").count()
    if cur == base:
        # the append never landed: clear the marker and redo the fold
        clear_marker(spark, _stream_dir(index_path))
        return ivfpq_index_compact(spark, index_path)
    if cur == base + n:
        # the append landed: only the cleanup remains
        _finish_compaction_cleanup(
            spark, index_path, batch_dirs(spark, _stream_dir(index_path))
        )
        return n
    raise ValueError(
        f"base codes hold {cur} rows but the crashed compaction recorded "
        f"{base} before appending {n} — the append committed partially "
        f"(expected {base} or {base + n}). The streamed batch dirs still "
        "hold every folded row; rebuild the base codes from a backup or "
        "re-encode the corpus (write_ivfpq_index) rather than deleting "
        "anything."
    )


def ivfpq_append_sink(
    emb_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
):
    """Start the index-maintenance stream: batch N's vectors are encoded
    against the index's FROZEN centroids + codebook (read once at sink
    start — appends never retrain, ``write_ivfpq_index``'s train-once
    contract) and land as packed codes in
    ``{index}/codes_stream/batch=N`` (overwrite — replay-idempotent).
    Returns the StreamingQuery.

    Raises up front while a compaction marker stands, on a fresh
    checkpoint pointed at a populated codes_stream
    (``streaming.batches.refuse_unsafe_start``: after a compaction
    emptied codes_stream, that checkpoint would silently re-encode every
    already-folded input file, so the compaction's tombstone keeps the
    refusal armed), and then when the index is empty (no model to
    encode against, the batch append's contract). The refusals come
    first, so a refused start reads no model. Each batch is checked
    once against the index's geometry before it is encoded."""
    from bigdata2016w_spark.operators.similarity import _checked
    from bigdata2016w_spark.sources.sinks import (
        _encode_packed,
        _ivfpq_frozen_models,
        _write_by_cell,
    )

    spark = emb_stream.sparkSession
    root = _stream_dir(index_path)
    refuse_unsafe_start(spark, root, checkpoint_dir)
    # frozen at sink start: every batch encodes against the SAME models,
    # so a replay of batch N is bit-identical to its first run
    cent_lit, cb, n_subspaces, dim = _ivfpq_frozen_models(spark, index_path)

    def _append(batch_df: DataFrame, bid: int) -> None:
        codes = _encode_packed(_checked(batch_df, dim), cent_lit, cb,
                               n_subspaces, dim)
        _write_by_cell(codes, f"{root}/batch={bid}", "overwrite")

    # start_batches repeats the refusals right before the query starts
    return start_batches(emb_stream, root, checkpoint_dir, _append)
