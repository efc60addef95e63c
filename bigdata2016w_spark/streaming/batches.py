"""The batch-stamped layout every replay-safe ``foreachBatch`` sink writes.

Micro-batch N of a sink lands in ``{root}/batch=N`` with ``overwrite``: a
batch replayed after a lost checkpoint commit rewrites its own output
instead of adding it twice, so the sink is exactly-once per batch id with
no transactional store underneath. This module owns that layout and every
rule that depends on it:

- readers see only committed ``batch=`` dirs, listed through the Hadoop
  FileSystem API (:func:`batch_dirs`, a metadata listing that works on any
  DFS), never a glob, which would swallow an in-flight batch's partial
  files and fail with PATH_NOT_FOUND before the first commit;
- batch ids are the replay-safety keys, so ``root`` and the query's
  checkpoint live and die together. A fresh checkpoint restarts ids at 0
  and would overwrite, or re-apply, what earlier batches wrote, so
  :func:`start_batches` refuses one while ``root`` holds a batch dir or
  the ``_COMPACTED`` tombstone a compaction leaves once it has folded
  every batch dir away (:func:`leave_tombstone`);
- a compaction that folds batch dirs records what it is doing in a
  ``{root}/_COMPACTING`` marker (:func:`write_marker`) before it deletes
  anything. While the marker stands, writers and readers refuse
  (:func:`refuse_while_compacting`), and the next call of the same
  compaction finishes the crashed one from what the marker recorded
  (:func:`read_marker`).

The sinks keep only their per-batch write function: ``streaming.ingest``
(admission), ``streaming.ivm`` (view deltas), ``streaming.sketch_sink``
(sketch partials), ``streaming.index_sink`` (IVF-PQ codes) and
``streaming.stateful.stream_upsert_to_parquet`` (a staged snapshot swap,
whose root never holds a batch dir).
"""

from __future__ import annotations

import json
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

_MARKER = "_COMPACTING"
_TOMBSTONE = "_COMPACTED"


def fs_path(spark: SparkSession, path: str):
    """(Hadoop ``Path``, its ``FileSystem``) for ``path``: the one handle
    through which the package touches the filesystem outside a DataFrame
    read or write."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def exists(spark: SparkSession, path: str) -> bool:
    p, fs = fs_path(spark, path)
    return bool(fs.exists(p))


def batch_id(batch_dir: str) -> int:
    """N of a ``…/batch=N`` path."""
    return int(batch_dir.rstrip("/").rsplit("batch=", 1)[1])


def batch_dirs(
    spark: SparkSession, root: str, before: int | None = None
) -> list[str]:
    """Committed ``batch=N`` dirs under ``root``, ordered by N. ``before``
    excludes that id and later: a replaying batch passes its own id, so it
    never reads its own half-committed output."""
    path, fs = fs_path(spark, root)
    if not fs.exists(path):
        return []
    found = []
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("batch=")):
            continue
        try:
            bid = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if before is None or bid < before:
            found.append((bid, st.getPath().toString()))
    return [d for _, d in sorted(found)]


def read_batches(
    spark: SparkSession, root: str, schema, before: int | None = None
) -> DataFrame:
    """Every committed batch under ``root`` (see :func:`batch_dirs`) read
    with ``schema``; an empty frame of that schema before the first batch
    commits."""
    dirs = batch_dirs(spark, root, before)
    if not dirs:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*dirs)


def refuse_while_compacting(spark: SparkSession, root: str) -> None:
    """Raise while a crashed compaction's marker stands under ``root``:
    the batch dirs may be half folded, so writing or merging them now
    could lose or double-count rows."""
    marker, fs = fs_path(spark, f"{root}/{_MARKER}")
    if fs.exists(marker):
        raise ValueError(
            f"compaction marker {marker} exists — a compaction of "
            f"{root!r} died mid-way, so its batch dirs may be half folded. "
            "Run that compaction again (compact_sketch_batches or "
            "ivfpq_index_compact) to auto-recover it, then retry."
        )


def refuse_unsafe_start(
    spark: SparkSession, root: str, checkpoint_dir: str
) -> None:
    """Raise while a compaction marker stands under ``root``, and when
    ``checkpoint_dir`` is fresh (it has logged no offset) but ``root``
    already holds a batch dir or the compaction tombstone."""
    refuse_while_compacting(spark, root)
    offsets, fs = fs_path(spark, f"{checkpoint_dir}/offsets")
    fresh = not (fs.exists(offsets) and len(fs.listStatus(offsets)) > 0)
    if fresh and (batch_dirs(spark, root)
                  or exists(spark, f"{root}/{_TOMBSTONE}")):
        raise ValueError(
            f"{root!r} already holds streamed appends (batch= dirs and/or "
            f"a {_TOMBSTONE} tombstone) but checkpoint_dir "
            f"{checkpoint_dir!r} is fresh — batch ids would restart at 0 "
            "and overwrite or re-apply earlier batches. Reuse the original "
            "checkpoint, which lives and dies with this target, or point "
            "the stream at an empty target."
        )


def start_batches(
    stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    write_batch: Callable[[DataFrame, int], None],
):
    """Start ``stream`` as an availableNow query that hands each
    micro-batch to ``write_batch(batch_df, batch_id)``; returns the
    StreamingQuery. Refuses first (:func:`refuse_unsafe_start`)."""
    refuse_unsafe_start(stream.sparkSession, root, checkpoint_dir)
    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_marker(spark: SparkSession, root: str) -> Any:
    """What a compaction recorded in its marker under ``root``; ``None``
    when no marker stands. A marker torn mid-write (partial or empty JSON)
    reads as ``{}``: its writer's close() never completed, so no step that
    strictly follows the marker can have run."""
    marker, fs = fs_path(spark, f"{root}/{_MARKER}")
    if not fs.exists(marker):
        return None
    stream = fs.open(marker)
    try:
        raw = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    try:
        return json.loads(raw or "{}")
    except json.JSONDecodeError:
        return {}


def write_marker(spark: SparkSession, root: str, info: dict) -> None:
    """Create the compaction marker under ``root``, recording ``info``
    for the recovery of a crash that follows."""
    marker, fs = fs_path(spark, f"{root}/{_MARKER}")
    out = fs.create(marker, True)
    out.write(bytearray(json.dumps(info).encode()))
    out.close()


def clear_marker(spark: SparkSession, root: str) -> None:
    marker, fs = fs_path(spark, f"{root}/{_MARKER}")
    fs.delete(marker, False)


def leave_tombstone(spark: SparkSession, root: str) -> None:
    """Mark ``root`` as having held batches that a compaction folded
    away, which keeps :func:`start_batches`' fresh-checkpoint refusal
    armed once no batch dir is left."""
    tomb, fs = fs_path(spark, f"{root}/{_TOMBSTONE}")
    if not fs.exists(tomb):
        fs.create(tomb, True).close()
