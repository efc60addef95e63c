"""Session-owned shared intermediates: build once, read from each consumer.

The reference's job chains write an intermediate once to HDFS ``temp/``
and every downstream job reads it back (PairsPMI.java:178-208). Here the
same pattern covers the PPJoin pairs, the dup-cluster labeling built on
them (one components loop per session, not one per consumer), the ANN
models and the streamed corpora that several registered queries
consume. Every such value lives in one map keyed by the SparkContext's
applicationId: PySpark runs one live context per process, and a stopped
context's checkpoints and temp dirs are gone, so the first call under a
new application drops every entry of the old one. Keys are tuples whose
first element names the intermediate, so two builders can never collide.

Temp dirs come from :func:`scratch_dir`, which places them under Spark's
per-application root; Spark deletes that root on ``spark.stop()``.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from pathlib import Path
from typing import Any, Callable, Hashable, Sequence

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession

# applicationId -> {key: value}; holds at most the live application
_SESSIONS: dict[str, dict[Hashable, Any]] = {}


def _entries(spark: SparkSession) -> dict[Hashable, Any]:
    app = spark.sparkContext.applicationId
    entries = _SESSIONS.get(app)
    if entries is None:
        _SESSIONS.clear()
        entries = _SESSIONS[app] = {}
    return entries


def shared(
    spark: SparkSession, key: Hashable, build: Callable[[], Any]
) -> Any:
    """The value stored under ``key`` for this session, built by
    ``build()`` on the first call. A build that raises stores nothing."""
    entries = _entries(spark)
    if key not in entries:
        entries[key] = build()
    return entries[key]


def forget(spark: SparkSession, key: Hashable) -> None:
    """Drop ``key`` so the next :func:`shared` call rebuilds it."""
    _entries(spark).pop(key, None)


def scratch_dir(prefix: str) -> str:
    """A fresh temp dir that Spark deletes when the session stops.
    ``tempfile.mkdtemp`` is looked up on the module at call time, so a
    wrapper installed on it (a tracer counting temp dirs) still sees it."""
    return tempfile.mkdtemp(prefix=prefix, dir=SparkFiles.getRootDirectory())


def stream_two_batches(
    spark: SparkSession,
    root: str,
    parts: Sequence[DataFrame],
    start: Callable[[DataFrame, str], Any],
    target: str,
) -> None:
    """Feed ``parts`` through a file stream as one micro-batch each.

    Each part is written as one parquet file under ``{root}/in`` with
    mtimes pinned oldest-first, and read with ``maxFilesPerTrigger=1``
    under the first part's schema; FileStreamSource takes files oldest
    first, so part j is batch j. Admission sinks need that order (batch
    0's survivors gate batch 1); for sinks whose merge commutes it is
    harmless. ``start(stream, checkpoint_dir)`` returns the started
    query, which runs until it terminates. The batch count under
    ``target`` is then asserted, so the caller always exercises a real
    multi-batch merge, never a degenerate single-batch read."""
    from bigdata2016w_spark.streaming.batches import batch_dirs

    src = f"{root}/in"
    os.makedirs(src)
    now = time.time()
    for j, part in enumerate(parts):
        w = f"{root}/w{j}"
        part.coalesce(1).write.parquet(w)
        dst = f"{src}/{j}.parquet"
        shutil.move(next(Path(w).glob("part-*.parquet")), dst)
        age = 100 * (len(parts) - j)
        os.utime(dst, (now - age, now - age))
    stream = (
        spark.readStream.schema(parts[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    start(stream, f"{root}/ckpt").awaitTermination()
    dirs = batch_dirs(spark, target)
    if len(dirs) != len(parts):
        raise AssertionError(
            f"expected {len(parts)} streamed batches, got {dirs}"
        )
