"""Streaming sketch maintenance — per-micro-batch CMS counter and HLL
register partials, merged on read.

Sketches are ALGEBRAIC aggregates (counters add, registers max), so the
streaming design writes each micro-batch's d·w-row / 2^p-row partial to
``batch=N/{cms,hll,qsk}`` (the replay-safe layout of
``streaming.batches``) and merges at read time: the write side needs no
read-modify-write, and the read side folds a few hundred tiny rows per
batch. A read-modify-write counter table would instead double-count on
every replay unless it re-derived which batches were already folded in
— exactly the state this layout keeps in the directory structure for
free.

At 100 TB the per-batch partial is STILL d·w / 2^p rows — the whole
point of maintaining sketches instead of exact aggregates on a stream.
:func:`compact_sketch_batches` periodically folds old batch dirs into
one (the merge is associative), keeping the read-side fan-in bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bigdata2016w_spark.operators.sketches import (
    QSK_K,
    cms_counters,
    hash_sample_rows,
    hll_registers,
)
from bigdata2016w_spark.streaming.batches import (
    batch_dirs,
    batch_id,
    clear_marker,
    exists,
    fs_path,
    read_marker,
    refuse_while_compacting,
    start_batches,
    write_marker,
)

CMS_SCHEMA = "j int, slot int, cnt bigint"
HLL_SCHEMA = "bucket int, rho int"
QSK_SCHEMA = "h bigint, x double"


def sketch_maintenance_sink(
    keys_stream: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    col: str,
    hll_seed: str = "HLL",
    value_col: str | None = None,
):
    """Start the sketch-maintenance stream: batch N's CMS counter
    partial lands in ``{target_dir}/batch=N/cms`` and its HLL register
    partial in ``{target_dir}/batch=N/hll``; when ``value_col`` is given
    the batch's k-minimum-hash quantile sample (keyed by ``col``, which
    must then identify rows uniquely) additionally lands in
    ``batch=N/qsk`` — the quantile member of the family, whose merge
    (k smallest of the union) is just as algebraic as counter-add and
    register-max. Returns the StreamingQuery."""

    def _write(batch_df: DataFrame, bid: int) -> None:
        base = f"{target_dir}/batch={bid}"
        cms_counters(batch_df, col).write.mode("overwrite").parquet(
            f"{base}/cms"
        )
        hll_registers(batch_df, col, hll_seed).write.mode(
            "overwrite"
        ).parquet(f"{base}/hll")
        if value_col is not None:
            hash_sample_rows(batch_df, col, value_col).write.mode(
                "overwrite"
            ).parquet(f"{base}/qsk")

    return start_batches(keys_stream, target_dir, checkpoint_dir, _write)


def _read_partials(
    spark: SparkSession, target_dir: str, sub: str, schema: str,
    strict: bool = False,
) -> DataFrame:
    """All batches' ``{sub}`` partials (see ``streaming.batches``); no
    batches yet → empty typed frame, so a reader sees cardinality 0, not
    an AnalysisException.

    ``strict`` raises when SOME batches have the partial and some don't —
    the mixed-mode signature of a stream restarted WITH ``value_col``
    after batches ran without it: silently merging only the batches that
    have a ``qsk`` subdir would return a sample of part of the stream as
    if it covered all of it. (cms/hll stay lenient: they are written
    unconditionally, so a missing half there is an in-flight batch whose
    replay will overwrite the whole ``batch=N`` dir.)"""
    refuse_while_compacting(spark, target_dir)
    dirs = batch_dirs(spark, target_dir)
    paths = []
    missing = []
    for d in dirs:
        # a crash between the sink's writes can leave batch=N with only
        # some partials; skip the missing half instead of failing
        if exists(spark, f"{d}/{sub}"):
            paths.append(f"{d}/{sub}")
        else:
            missing.append(d)
    if strict and paths and missing:
        newest = dirs[-1]
        if missing == [newest]:
            # the sink writes this partial LAST, so a gap in only the
            # newest batch is the signature of an in-flight/crashed
            # write, not of mixed modes — a replay heals it
            raise ValueError(
                f"only the newest batch dir {newest!r} lacks a {sub!r} "
                "partial — most likely the sink crashed mid-batch. "
                "Restart the stream with the SAME checkpoint so the "
                "batch replays and rewrites its partials, then read "
                "again."
            )
        raise ValueError(
            f"{len(missing)} of {len(dirs)} batch dirs under "
            f"{target_dir!r} lack a {sub!r} partial (e.g. {missing[0]!r})"
            " — the stream ran batches without this sketch enabled, and "
            "those batches' samples are gone (they were never taken); "
            "merging only the batches that have one would silently "
            "misrepresent the stream. Re-run from a fresh target with "
            "the sketch enabled throughout."
        )
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def compact_sketch_batches(spark: SparkSession, target_dir: str) -> int:
    """Fold every batch's sketch partials into ONE batch dir (the lowest
    id) and delete the rest — the periodic job the module docstring
    promises to bound read-side fan-in (the merges are associative:
    counters add, registers max, quantile samples keep the k smallest).
    Returns the number of batch dirs removed, net (0 = nothing to fold).

    Run against a QUIESCED stream whose last batch committed, and keep
    the original checkpoint: folding into the lowest id means a replay
    of the newest uncommitted batch can never overwrite the folded dir.

    Crash safety — the fold NEVER overwrites live data in place: the
    merged partials (tiny: d·w + 2^p + k rows) are first written to a
    ``_fold`` staging dir; only then is a marker recording the target
    batch id created, the original batch dirs deleted, and the staging
    dir renamed into place. A crash before the marker leaves the
    original dirs untouched (a stale ``_fold`` is simply overwritten
    next time); a crash after it is finished AUTOMATICALLY by the next
    call — the staging dir holds the complete fold, so recovery deletes
    the remaining originals and renames, losing nothing. No step ever
    asks an operator to remove data by hand. Mixed-mode quantile
    layouts fail fast via the strict read BEFORE anything is written."""
    from pyspark.sql import functions as F

    info = read_marker(spark, target_dir)
    if info is not None:
        return _recover_sketch_compaction(spark, target_dir, info)
    dirs = batch_dirs(spark, target_dir)
    if len(dirs) < 2:
        return 0
    # strict qsk read first: raise on mixed-mode BEFORE any rewrite
    qsk = _read_partials(spark, target_dir, "qsk", QSK_SCHEMA, strict=True)
    cms = (
        _read_partials(spark, target_dir, "cms", CMS_SCHEMA)
        .groupBy("j", "slot").agg(F.sum("cnt").alias("cnt")).collect()
    )
    hll = (
        _read_partials(spark, target_dir, "hll", HLL_SCHEMA)
        .groupBy("bucket").agg(F.max("rho").alias("rho")).collect()
    )
    qsk_rows = qsk.orderBy("h", "x").limit(QSK_K).collect()
    # the fold must mirror the stream's MODE, not this window's data: a
    # value_col stream whose batches all carried zero rows still has qsk
    # dirs everywhere, and omitting the folded one would make a later
    # strict read see batch=<low_id> as mode-less next to newer batches
    # and raise the mixed-mode error on a stream that never mixed modes
    had_qsk = any(exists(spark, f"{d}/qsk") for d in dirs)
    low_id = batch_id(dirs[0])
    fold = f"{target_dir}/_fold"
    spark.createDataFrame(
        [tuple(r) for r in cms] or [], CMS_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(f"{fold}/cms")
    spark.createDataFrame(
        [tuple(r) for r in hll] or [], HLL_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(f"{fold}/hll")
    if had_qsk:
        spark.createDataFrame(
            [tuple(r) for r in qsk_rows] or [], QSK_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(f"{fold}/qsk")
    write_marker(spark, target_dir, {"low_id": low_id})
    _finish_sketch_fold(spark, target_dir, low_id, dirs)
    return len(dirs) - 1


def _finish_sketch_fold(spark, target_dir: str, low_id: int,
                        dirs: list[str] | None = None) -> None:
    """Post-staging tail of the fold: delete the original batch dirs
    (exactly the set that was folded when the caller knows it; recovery
    re-lists, safe because the marker blocks the sink from adding new
    batches in between), rename ``_fold`` to ``batch=<low_id>``, clear
    the marker. When the staging dir is already gone, the rename
    happened before the crash — ``batch=<low_id>`` IS the folded result
    and must survive; only stragglers with other ids (there should be
    none) are dropped."""
    fold, fs = fs_path(spark, f"{target_dir}/_fold")
    fold_pending = fs.exists(fold)
    for d in (dirs if dirs is not None
              else batch_dirs(spark, target_dir)):
        if not fold_pending and batch_id(d) == low_id:
            continue
        fs.delete(fs_path(spark, d)[0], True)
    if fold_pending:
        fs.rename(fold, fs_path(spark, f"{target_dir}/batch={low_id}")[0])
    clear_marker(spark, target_dir)


def _recover_sketch_compaction(spark, target_dir: str, info) -> int:
    """Finish a fold whose marker (recording ``info``) survived a crash:
    the marker is only created once the ``_fold`` staging dir holds the
    COMPLETE merge, so recovery just replays the cleanup/rename tail
    (idempotent — a crash after the rename but before the marker delete
    leaves no ``_fold`` and the rename is skipped)."""
    if "low_id" not in info:
        # crash between marker creation and its single write: the
        # cleanup (which strictly follows the close) cannot have run and
        # the originals are intact — clear the marker and fold normally
        clear_marker(spark, target_dir)
        return compact_sketch_batches(spark, target_dir)
    removed = len(batch_dirs(spark, target_dir))
    _finish_sketch_fold(spark, target_dir, int(info["low_id"]))
    return max(removed - 1, 0)


def read_merged_cms(spark: SparkSession, target_dir: str) -> DataFrame:
    """(j, slot, cnt): the merged Count-Min matrix — counters ADD across
    batches. Identical to ``cms_counters`` over the concatenated stream
    (pinned in tests), because counter addition is associative."""
    from pyspark.sql import functions as F

    return (
        _read_partials(spark, target_dir, "cms", CMS_SCHEMA)
        .groupBy("j", "slot")
        .agg(F.sum("cnt").alias("cnt"))
    )


def read_merged_hll(spark: SparkSession, target_dir: str) -> DataFrame:
    """(bucket, rho): the merged HLL register table — registers MAX
    across batches. Identical to ``hll_registers`` over the concatenated
    stream; feed to ``hll_estimate_from_registers`` for the estimate."""
    from pyspark.sql import functions as F

    return (
        _read_partials(spark, target_dir, "hll", HLL_SCHEMA)
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )


def read_merged_quantile_sample(
    spark: SparkSession, target_dir: str, k: int = QSK_K
) -> DataFrame:
    """(h, x): the merged k-minimum-hash quantile sample — the k
    smallest (h, x) of all batches' samples, which (given row-unique
    keys) is identical to ``hash_sample_rows`` over the concatenated
    stream (pinned in tests); feed to
    ``operators.sketches.quantile_rows_from_sample`` for estimates."""
    return (
        _read_partials(spark, target_dir, "qsk", QSK_SCHEMA, strict=True)
        .orderBy("h", "x")
        .limit(k)
    )
