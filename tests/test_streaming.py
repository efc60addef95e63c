"""Batch/stream parity: the Structured Streaming windowed aggregations must
produce exactly the batch results on a replayed (availableNow) source."""

from bigdata2016w_spark.registry import all_specs
from bigdata2016w_spark.streaming.windows import (
    events_stream,
    run_to_memory,
    session_counts,
    sliding_counts,
    tumbling_counts,
)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_parity(spark, sf_dir):
    stream = tumbling_counts(events_stream(spark, sf_dir))
    got = run_to_memory(stream, "t_tumbling")
    want = all_specs()["events_tumbling_hour"].fn(spark, sf_dir)
    cols = ["window_start", "event_type", "n_events", "total_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_sliding_parity(spark, sf_dir):
    stream = sliding_counts(events_stream(spark, sf_dir))
    got = run_to_memory(stream, "t_sliding")
    want = all_specs()["events_sliding"].fn(spark, sf_dir)
    cols = ["window_start", "n_events"]
    assert _rows(got, cols) == _rows(want, cols)


def test_session_parity(spark, sf_dir):
    stream = session_counts(events_stream(spark, sf_dir))
    got = run_to_memory(stream, "t_sessions")
    want = all_specs()["events_sessions"].fn(spark, sf_dir)
    cols = ["user_id", "session_start", "n_events"]
    assert _rows(got, cols) == _rows(want, cols)


def test_streaming_plans_are_stateful_with_watermark(spark, sf_dir):
    """The streaming plans declare an event-time watermark (bounded state
    at scale); sanity-check it survives into the analyzed plan."""
    stream = tumbling_counts(events_stream(spark, sf_dir), watermark="90 minutes")
    assert "watermark" in stream._jdf.queryExecution().analyzed().toString().lower()


def test_stream_dedup_key_parity(spark, sf_dir):
    """dropDuplicatesWithinWatermark emits exactly one row per key for a
    replayed bounded source; the surviving key set must equal the batch
    DISTINCT (which row survives per key is arrival-order-dependent, so
    parity is on keys, the deterministic part)."""
    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.streaming.windows import dedup_events

    got = run_to_memory(
        dedup_events(events_stream(spark, sf_dir)), "t_dedup", "append"
    )
    want = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type").distinct()
    )
    cols = ["user_id", "event_type"]
    assert _rows(got.select(*cols), cols) == _rows(want, cols)


def test_stream_stream_attribution_parity(spark, sf_dir):
    """Stream-stream interval join (watermarked both sides) must emit
    exactly the batch interval-join pairs on a replayed source."""
    import pyspark.sql.functions as F

    from bigdata2016w_spark.streaming.windows import attribution_join

    ev = events_stream(spark, sf_dir)
    stream = attribution_join(
        ev.where(F.col("event_type") == "view"),
        ev.where(F.col("event_type") == "purchase"),
    )
    # Both inputs must declare watermarks or state never evicts at scale.
    analyzed = stream._jdf.queryExecution().analyzed().toString().lower()
    assert analyzed.count("eventtimewatermark") >= 2
    got = run_to_memory(stream, "t_attrib", "append")
    want = all_specs()["view_purchase_attribution"].fn(spark, sf_dir)
    cols = ["user_id", "view_id", "purchase_id", "gap_seconds",
            "purchase_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_static_enrichment_parity(spark, sf_dir):
    """Stream-static join parity vs the equivalent batch plan."""
    import pyspark.sql.functions as F

    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.streaming.windows import enriched_counts

    users = (
        load_table(spark, sf_dir, "events")
        .select("user_id").distinct()
        .select("user_id", (F.col("user_id") % 10).alias("user_bucket"))
    )
    got = run_to_memory(
        enriched_counts(events_stream(spark, sf_dir), users), "t_enriched"
    )
    want = (
        load_table(spark, sf_dir, "events")
        .join(users, "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_bucket")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "user_bucket", "n_events",
        )
    )
    cols = ["window_start", "user_bucket", "n_events"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_upsert_parity(spark, sf_dir, tmp_path):
    """Streaming foreachBatch keyed upsert == batch last-writer-wins
    (latest event per user), regardless of micro-batching."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from bigdata2016w_spark.streaming.stateful import stream_upsert_to_parquet

    ev = events_stream(spark, sf_dir).select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    q = stream_upsert_to_parquet(
        ev,
        str(tmp_path / "target"),
        key="user_id",
        checkpoint_dir=str(tmp_path / "ckpt"),
        order_col="ts",
    )
    q.awaitTermination()
    got = {
        r.user_id: (r.ts, r.event_type)
        for r in spark.read.parquet(str(tmp_path / "target")).collect()
    }

    from bigdata2016w_spark.sources.catalog import load_table

    batch = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"))
    want_rows = (
        batch.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .collect()
    )
    # ts ties within a user make event choice ambiguous; compare ts only
    # there, full row elsewhere
    want_ts = {r.user_id: r.ts for r in want_rows}
    assert set(got) == set(want_ts)
    assert all(got[u][0] == want_ts[u] for u in got)


def test_stream_upsert_recovers_from_staging(spark, tmp_path):
    """A crash between delete(target) and rename(staging, target) leaves
    only the staging snapshot; the next micro-batch must recover the
    previously merged keys from it instead of restarting from batch data."""
    import shutil

    from bigdata2016w_spark.streaming.stateful import stream_upsert_to_parquet

    target = tmp_path / "target"

    def run_batch(rows, ckpt):
        src = tmp_path / f"src-{ckpt}"
        spark.createDataFrame(rows, ["k", "v", "ord"]).write.parquet(str(src))
        stream = (
            spark.readStream.schema("k long, v string, ord long")
            .parquet(str(src))
        )
        q = stream_upsert_to_parquet(
            stream, str(target), key="k",
            checkpoint_dir=str(tmp_path / f"ckpt-{ckpt}"), order_col="ord",
        )
        q.awaitTermination()

    run_batch([(1, "a", 1), (2, "b", 1)], "one")
    # simulate the crash window: target gone, staged snapshot present
    shutil.move(str(target), str(tmp_path / "target.staging-99"))
    run_batch([(2, "b2", 2), (3, "c", 2)], "two")

    got = {r.k: r.v for r in spark.read.parquet(str(target)).collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}
    assert not (tmp_path / "target.staging-99").exists()


def test_stream_upsert_checkpoint_restart(spark, tmp_path):
    """Stop-and-resume with the SAME checkpoint dir: the restarted query
    must pick up only new source files and merge them into the snapshot
    produced before the stop (offsets from the checkpoint, state from the
    target parquet)."""
    from bigdata2016w_spark.streaming.stateful import stream_upsert_to_parquet

    src = tmp_path / "src"
    target = tmp_path / "target"
    ckpt = tmp_path / "ckpt"

    def run_once():
        stream = (
            spark.readStream.schema("k long, v string, ord long")
            .parquet(str(src))
        )
        q = stream_upsert_to_parquet(
            stream, str(target), key="k",
            checkpoint_dir=str(ckpt), order_col="ord",
        )
        q.awaitTermination()

    spark.createDataFrame([(1, "a", 1), (2, "b", 1)], ["k", "v", "ord"]) \
        .write.mode("append").parquet(str(src))
    run_once()
    assert {r.k: r.v for r in spark.read.parquet(str(target)).collect()} \
        == {1: "a", 2: "b"}

    spark.createDataFrame([(2, "b2", 2), (3, "c", 2)], ["k", "v", "ord"]) \
        .write.mode("append").parquet(str(src))
    run_once()
    got = {r.k: r.v for r in spark.read.parquet(str(target)).collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}


def test_stream_anomaly_parity(spark, sf_dir):
    """The stateful rolling-anomaly stream must emit exactly the batch
    query's rows on an availableNow replay (exact-int64 test on both
    sides, so equality is bitwise, not approximate)."""
    from bigdata2016w_spark.streaming.stateful import rolling_anomalies
    from bigdata2016w_spark.streaming.windows import events_stream, run_to_memory

    stream = rolling_anomalies(events_stream(spark, sf_dir))
    got = run_to_memory(stream, "t_anomalies", output_mode="append")
    want = all_specs()["events_user_value_anomalies"].fn(spark, sf_dir)
    cols = ["event_id", "user_id", "value", "n_window"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_anomaly_state_survives_batches(spark, sf_dir, tmp_path):
    """Split the events by time into two files and replay them as separate
    micro-batches (maxFilesPerTrigger=1): the per-user state must carry
    across the batch boundary, reproducing the batch result exactly."""
    import pyspark.sql.functions as F

    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.streaming.stateful import rolling_anomalies

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cut = ev.agg(
        F.percentile_approx(us, F.lit(0.5)).alias("m")
    ).collect()[0][0]
    d = tmp_path / "ev"
    ev.where(us <= cut).coalesce(1).write.parquet(str(d / "part1"))
    ev.where(us > cut).coalesce(1).write.parquet(str(d / "part2"))
    # stream dir with two files, lexicographic names = time order
    files = sorted(str(p) for p in d.rglob("*.parquet"))
    sdir = tmp_path / "stream_in"
    sdir.mkdir()
    import os
    import shutil
    for i, f in enumerate(files):
        dst = sdir / f"{i:03d}.parquet"
        shutil.copy(f, dst)
        # FileStreamSource orders by modification time: pin strictly
        # increasing mtimes so batch order matches time order
        os.utime(dst, (1_600_000_000 + i, 1_600_000_000 + i))

    schema = ev.schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(str(sdir))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        rolling_anomalies(src)
        .writeStream.format("memory").queryName("t_anom2")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.table("t_anom2")
    want = all_specs()["events_user_value_anomalies"].fn(spark, sf_dir)
    cols = ["event_id", "user_id", "value", "n_window"]
    assert _rows(got, cols) == _rows(want, cols)
    # and it genuinely ran as more than one micro-batch
    assert len(q.recentProgress) >= 2


def test_trending_keys_stream_parity(spark, sf_dir):
    """Ranking the streamed (window, key) counts must reproduce the
    registered batch trending query exactly."""
    import pyspark.sql.functions as F

    from bigdata2016w_spark.operators.topk import topk_per_group
    from bigdata2016w_spark.plans.corpus_ext import TREND_TOP_K
    from bigdata2016w_spark.streaming.windows import (
        events_stream, run_to_memory, trending_key_counts)

    counts = run_to_memory(
        trending_key_counts(events_stream(spark, sf_dir)), "t_trend"
    )
    got = topk_per_group(
        counts, ["window_start"], [F.desc("cnt"), F.asc("k")], TREND_TOP_K
    )
    want = all_specs()["events_trending_keys"].fn(spark, sf_dir)
    cols = ["window_start", "k", "cnt"]
    assert _rows(got, cols) == _rows(want, cols)


def test_hourly_unique_users_stream_parity(spark, sf_dir):
    """Chained stateful ops (watermarked pair dedup -> windowed count)
    must reproduce the batch COUNT(DISTINCT) exactly on a replay."""
    from bigdata2016w_spark.streaming.windows import hourly_unique_users

    got = run_to_memory(
        hourly_unique_users(events_stream(spark, sf_dir)), "t_uniq"
    )
    want = all_specs()["events_hourly_unique_users"].fn(spark, sf_dir) \
        .select("window_start", "unique_users")
    cols = ["window_start", "unique_users"]
    assert _rows(got, cols) == _rows(want, cols)


def test_rocksdb_state_store_parity(spark, sf_dir):
    """The RocksDB state store (the 100x-scale config env-gated in
    session.get_spark — per-user state on executor-local disk with
    changelog checkpointing instead of the JVM heap) must produce exactly
    the default HDFS-backed provider's results for a stateful stream.
    The provider is captured from session conf at query start, so it can
    be pinned per-query here and restored after."""
    from bigdata2016w_spark.streaming.stateful import rolling_anomalies
    from bigdata2016w_spark.streaming.windows import events_stream

    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        got = run_to_memory(
            rolling_anomalies(events_stream(spark, sf_dir)),
            "t_anom_rocksdb", output_mode="append",
        )
        want = all_specs()["events_user_value_anomalies"].fn(spark, sf_dir)
        cols = ["event_id", "user_id", "value", "n_window"]
        assert _rows(got, cols) == _rows(want, cols)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_nation_hourly_stream_static_parity(spark, sf_dir):
    """Stream-static dimension join: the streamed per-nation hourly
    rollup must reproduce the batch twin exactly on an availableNow
    replay (exact DECIMAL sums on both sides)."""
    import pyspark.sql.functions as F

    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.streaming.windows import (
        events_stream,
        nation_hourly,
    )

    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    dim = cust.join(
        nat, F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", F.col("n_name").alias("nation"))
    got = run_to_memory(
        nation_hourly(events_stream(spark, sf_dir), dim), "t_nation_hourly"
    )
    want = all_specs()["events_nation_hourly"].fn(spark, sf_dir)
    cols = ["window_start", "nation", "n_events", "total_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_dedup_admission_sink_across_batches(spark, tmp_path):
    """Streaming ingestion gate: replay a planted corpus as two
    micro-batches (maxFilesPerTrigger=1). In-batch exact and near dups
    collapse to the lowest doc_id; a batch-2 doc that near-dups a
    batch-1 SURVIVOR is rejected (state crossed the batch boundary via
    the accepted table); a batch-2 copy of a batch-1 text is rejected
    exactly; genuinely new docs land."""
    import os

    from bigdata2016w_spark.streaming.ingest import dedup_admission_sink

    base = "alpha beta gamma delta epsilon zeta eta theta"
    b1 = [(1, base),
          (2, base),                            # in-batch exact dup of 1
          (3, base.replace("theta", "iota")),   # in-batch near dup of 1
          (4, "one two three four five six seven")]
    b2 = [(10, base),                           # exact dup of accepted 1
          (11, base.replace("theta", "kappa")),  # near dup of accepted 1
          (12, "totally different words here nothing shared")]
    import shutil

    sdir = tmp_path / "in"
    sdir.mkdir()
    schema = "doc_id long, text string"
    for i, rows in enumerate((b1, b2)):
        tmp = tmp_path / f"w{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in tmp.rglob("part-*.parquet"))
        dst = sdir / f"{i:03d}.parquet"
        shutil.copy(part, dst)
        # FileStreamSource orders by modification time: pin strictly
        # increasing mtimes so batch order matches ingest order
        os.utime(dst, (1_600_000_000 + i, 1_600_000_000 + i))

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(str(sdir))
    )
    q = dedup_admission_sink(
        src, str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 2  # genuinely two micro-batches
    got = {r.doc_id for r in spark.read.parquet(
        str(tmp_path / "corpus" / "batch=*")).collect()}
    assert got == {1, 4, 12}

    # restart against the same checkpoint: nothing replays, corpus
    # unchanged (exactly-once per batch id)
    q2 = dedup_admission_sink(
        src, str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    )
    q2.awaitTermination()
    again = {r.doc_id for r in spark.read.parquet(
        str(tmp_path / "corpus" / "batch=*")).collect()}
    assert again == {1, 4, 12}


def test_accepted_before_batch_excludes_own_and_later(spark, tmp_path):
    """Unit contract of the replay-safety listing (`_accepted`): planted
    batch=0..2 subdirs; before_batch=1 must read ONLY batch=0 — the
    replaying batch's own prior output (and anything later) is excluded,
    never anti-joined against itself."""
    from bigdata2016w_spark.streaming.ingest import _accepted

    schema = "doc_id long, text string"
    tgt = tmp_path / "corpus"
    for bid in (0, 1, 2):
        spark.createDataFrame(
            [(bid * 10, f"text {bid}")], schema
        ).write.parquet(str(tgt / f"batch={bid}"))
    # a non-batch sibling (e.g. _SUCCESS dirs, stray exports) is ignored
    spark.createDataFrame([(99, "stray")], schema).write.parquet(
        str(tgt / "export")
    )

    def ids(before):
        return {
            r.doc_id
            for r in _accepted(
                spark, str(tgt), schema, before_batch=before
            ).collect()
        }

    assert ids(None) == {0, 10, 20}
    assert ids(3) == {0, 10, 20}
    assert ids(2) == {0, 10}
    assert ids(1) == {0}
    assert ids(0) == set()


def test_dedup_admission_replay_lost_commit(spark, tmp_path):
    """THE data-loss regression the r5 fix targets: batch 1's parquet
    write succeeded but its checkpoint commit was lost (simulated by
    deleting commits/1). The restart replays batch 1; with the pre-r5
    glob listing the batch would anti-join against its OWN surviving
    output, classify every doc as already-accepted, and overwrite
    batch=1 with an EMPTY set. The fix must re-admit the same
    survivors."""
    import os
    import shutil

    from bigdata2016w_spark.streaming.ingest import dedup_admission_sink

    base = "alpha beta gamma delta epsilon zeta eta theta"
    b1 = [(1, base), (4, "one two three four five six seven")]
    b2 = [(10, base),                                       # dup of 1
          (12, "totally different words here nothing shared")]
    sdir = tmp_path / "in"
    sdir.mkdir()
    schema = "doc_id long, text string"
    for i, rows in enumerate((b1, b2)):
        tmp = tmp_path / f"w{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in tmp.rglob("part-*.parquet"))
        dst = sdir / f"{i:03d}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_600_000_000 + i, 1_600_000_000 + i))

    def src():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(str(sdir))
        )

    corpus, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    q = dedup_admission_sink(src(), corpus, ckpt)
    q.awaitTermination()
    assert {r.doc_id for r in spark.read.parquet(
        f"{corpus}/batch=*").collect()} == {1, 4, 12}

    # lose batch 1's commit record: parquet output stays, checkpoint
    # believes batch 1 never finished -> restart MUST replay it
    # (drop the Hadoop CRC sidecar too, else the local FS rejects the
    # replay's re-written commit file as a concurrent modification)
    for f in ("1", ".1.crc"):
        p = os.path.join(ckpt, "commits", f)
        if os.path.exists(p):
            os.remove(p)
    q2 = dedup_admission_sink(src(), corpus, ckpt)
    q2.awaitTermination()
    batch1 = {r.doc_id for r in spark.read.parquet(
        f"{corpus}/batch=1").collect()}
    assert batch1 == {12}, (
        f"replayed batch=1 holds {batch1} — the replay emptied or "
        "corrupted its own output"
    )
    assert {r.doc_id for r in spark.read.parquet(
        f"{corpus}/batch=*").collect()} == {1, 4, 12}


def test_dedup_admission_fresh_checkpoint_guard(spark, tmp_path):
    """target_dir and checkpoint_dir live and die together: a FRESH
    checkpoint (batch ids restart at 0) pointed at a target that already
    holds accepted batches must fail fast instead of silently excluding
    them from dedup and overwriting them one by one."""
    import pytest

    from bigdata2016w_spark.streaming.ingest import dedup_admission_sink

    schema = "doc_id long, text string"
    tgt = tmp_path / "corpus"
    spark.createDataFrame([(1, "already accepted")], schema).write.parquet(
        str(tgt / "batch=0")
    )
    sdir = tmp_path / "in"
    sdir.mkdir()
    spark.createDataFrame([(2, "new doc")], schema).coalesce(1).write.parquet(
        str(tmp_path / "w0")
    )
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "w0"))
    )
    with pytest.raises(ValueError, match="fresh"):
        dedup_admission_sink(src, str(tgt), str(tmp_path / "ckpt_new"))


def test_embedding_admission_sink_across_batches(spark, tmp_path):
    """Streaming embedding gate: two micro-batches of vectors. A scaled
    copy (cosine 1.0) in batch 1 collapses to the lowest vec_id; a
    batch-2 vector nearly collinear with an accepted one is rejected
    across the batch boundary; orthogonal-enough vectors land. Restart
    against the same checkpoint replays nothing."""
    import os
    import shutil

    from bigdata2016w_spark.streaming.ingest import embedding_admission_sink

    u = [1.0, 0.0, 1.0, 0.0, 1.0, 0.0, 1.0, 0.0]
    w = [0.0, 1.0, 0.0, -1.0, 0.0, 1.0, 0.0, -1.0]
    u_noisy = [1.0, 0.01, 1.0, 0.0, 0.99, 0.0, 1.0, 0.02]
    v_new = [1.0, 1.0, -1.0, -1.0, 1.0, 1.0, -1.0, -1.0]
    b1 = [(1, u), (2, [2.0 * x for x in u]), (3, w)]
    b2 = [(10, u_noisy), (12, v_new)]
    sdir = tmp_path / "in"
    sdir.mkdir()
    schema = "vec_id long, embedding array<float>"
    for i, rows in enumerate((b1, b2)):
        tmp = tmp_path / f"w{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in tmp.rglob("part-*.parquet"))
        dst = sdir / f"{i:03d}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_600_000_000 + i, 1_600_000_000 + i))

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(str(sdir))
    )
    q = embedding_admission_sink(
        src, str(tmp_path / "corpus"), str(tmp_path / "ckpt"),
        threshold=0.95, dim=8,
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 2
    got = {r.vec_id for r in spark.read.parquet(
        str(tmp_path / "corpus" / "batch=*")).collect()}
    assert got == {1, 3, 12}

    q2 = embedding_admission_sink(
        src, str(tmp_path / "corpus"), str(tmp_path / "ckpt"),
        threshold=0.95, dim=8,
    )
    q2.awaitTermination()
    again = {r.vec_id for r in spark.read.parquet(
        str(tmp_path / "corpus" / "batch=*")).collect()}
    assert again == {1, 3, 12}


def test_winnow_admission_sink_across_batches(spark, tmp_path):
    """Streaming winnow-fingerprint gate (the cheap long-span tier): two
    micro-batches. An in-batch exact copy and an in-batch doc sharing a
    ≥ k+w−1-token span both collapse to the lowest doc_id; a batch-2
    exact copy of an accepted text and a batch-2 doc sharing a long span
    with an accepted doc are rejected ACROSS the batch boundary (the
    winnowing guarantee crosses via the accepted table); a genuinely new
    doc lands; short docs (< k+w−1 tokens, no complete window) are
    admitted — the tier is long-span-only by design. Restart against the
    same checkpoint replays nothing."""
    import os
    import shutil

    from bigdata2016w_spark.streaming.ingest import winnow_admission_sink

    def wd(i):
        return f"w{chr(97 + i // 26)}{chr(97 + i % 26)}"

    span = " ".join(wd(i) for i in range(12))            # 12-token span
    base = span + " " + " ".join(wd(i) for i in range(40, 46))
    b1 = [(1, base),
          (2, base),                                     # exact dup of 1
          (3, span + " zeta yeta xeta weta veta ueta"),  # long-span dup of 1
          (4, " ".join(wd(i) for i in range(100, 118)))]  # new
    b2 = [(10, base),                                    # exact dup of acc. 1
          (11, span + " pome qome rome some tome uome"),  # span dup of acc. 1
          (12, " ".join(wd(i) for i in range(200, 218))),  # new
          (13, "tiny doc under window")]                 # short: admitted
    sdir = tmp_path / "in"
    sdir.mkdir()
    schema = "doc_id long, text string"
    for i, rows in enumerate((b1, b2)):
        tmp = tmp_path / f"w{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in tmp.rglob("part-*.parquet"))
        dst = sdir / f"{i:03d}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_600_000_000 + i, 1_600_000_000 + i))

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(str(sdir))
    )
    q = winnow_admission_sink(
        src, str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 2
    got = {r.doc_id for r in spark.read.parquet(
        str(tmp_path / "corpus" / "batch=*")).collect()}
    assert got == {1, 4, 12, 13}

    q2 = winnow_admission_sink(
        src, str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    )
    q2.awaitTermination()
    again = {r.doc_id for r in spark.read.parquet(
        str(tmp_path / "corpus" / "batch=*")).collect()}
    assert again == {1, 4, 12, 13}


def test_embedding_cross_near_dupes_probe_only(spark):
    """The cross checker reports probe-vs-index pairs only (never
    intra-side), survives an empty index, and multiprobe catches a
    same-direction pair even when one sign bit would flip."""
    from bigdata2016w_spark.operators.similarity import (
        embedding_cross_near_dupes,
    )

    schema = "vec_id long, embedding array<float>"
    idx = spark.createDataFrame(
        [(1, [1.0, 0.0, 1.0, 0.0]), (2, [0.0, 1.0, 0.0, -1.0])], schema)
    probe = spark.createDataFrame(
        [(10, [1.0, 0.01, 1.0, 0.01]),       # near dup of index 1
         (11, [2.0, 0.0, 2.0, 0.0]),         # scaled copy of index 1
         (12, [-1.0, 1.0, 0.0, 0.0])], schema)
    out = embedding_cross_near_dupes(idx, probe, threshold=0.95, dim=4)
    pairs = {(r.probe_id, r.index_id) for r in out.collect()}
    assert pairs == {(10, 1), (11, 1)}
    empty = spark.createDataFrame([], schema)
    assert embedding_cross_near_dupes(empty, probe, threshold=0.9,
                                      dim=4).collect() == []


def test_sketch_maintenance_sink_merges_to_batch_parity(spark, tmp_path):
    """Streaming sketch maintenance: two micro-batches of keys write CMS
    counter and HLL register partials; the read-side merges (sum / max)
    must equal the batch sketches over the concatenated stream, and a
    restart with no new data must not change them (replay overwrites
    its own batch dir, never double-counts)."""
    import os
    import shutil

    from bigdata2016w_spark.operators.sketches import (
        cms_counters,
        hll_estimate_from_registers,
        hll_registers,
    )
    from bigdata2016w_spark.streaming.sketch_sink import (
        read_merged_cms,
        read_merged_hll,
        sketch_maintenance_sink,
    )

    b1 = [(i % 7,) for i in range(40)]
    b2 = [(i % 11,) for i in range(60)]
    sdir = tmp_path / "in"
    sdir.mkdir()
    schema = "user_id long"
    for i, rows in enumerate((b1, b2)):
        tmp = tmp_path / f"w{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in tmp.rglob("part-*.parquet"))
        dst = sdir / f"{i:03d}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_600_000_000 + i, 1_600_000_000 + i))

    def start():
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(str(sdir))
        )
        return sketch_maintenance_sink(
            src, str(tmp_path / "sk"), str(tmp_path / "ckpt"), "user_id"
        )

    q = start()
    q.awaitTermination()
    assert len(q.recentProgress) >= 2

    full = spark.createDataFrame(b1 + b2, schema)
    want_cms = {(r.j, r.slot): r.cnt
                for r in cms_counters(full, "user_id").collect()}
    got_cms = {(r.j, r.slot): r.cnt
               for r in read_merged_cms(spark, str(tmp_path / "sk")).collect()}
    assert got_cms == want_cms

    want_hll = {r.bucket: r.rho
                for r in hll_registers(full, "user_id").collect()}
    got_regs = read_merged_hll(spark, str(tmp_path / "sk"))
    assert {r.bucket: r.rho for r in got_regs.collect()} == want_hll
    est = hll_estimate_from_registers(got_regs).first()
    # 11 distinct keys, far below 2.5*m: linear-counting branch, sane value
    assert 5 <= est.est_distinct <= 25

    # restart on the same checkpoint: no new files -> no new batches, and
    # the merged sketches are byte-identical (no double counting)
    q2 = start()
    q2.awaitTermination()
    got_cms2 = {(r.j, r.slot): r.cnt
                for r in read_merged_cms(spark,
                                         str(tmp_path / "sk")).collect()}
    assert got_cms2 == want_cms


def test_sketch_sink_fresh_checkpoint_guard_fires(spark, tmp_path):
    """The fail-fast must work against THIS sink's nested batch=N/cms|hll
    layout (the admission sinks' flat-parquet guard silently passes on
    it): planted batch dirs + a fresh checkpoint -> ValueError before
    any stream starts; and the merged readers return EMPTY TYPED frames
    (not AnalysisException) when no batch has ever committed."""
    import pytest as _pytest

    from bigdata2016w_spark.streaming.sketch_sink import (
        read_merged_cms,
        read_merged_hll,
        sketch_maintenance_sink,
    )

    empty_target = tmp_path / "sk_empty"
    assert read_merged_cms(spark, str(empty_target)).collect() == []
    assert read_merged_hll(spark, str(empty_target)).collect() == []

    target = tmp_path / "sk"
    spark.createDataFrame([(0, 1, 5)], "j int, slot int, cnt bigint") \
        .write.parquet(str(target / "batch=0" / "cms"))
    spark.createDataFrame([(3, 7)], "bucket int, rho int") \
        .write.parquet(str(target / "batch=0" / "hll"))
    (tmp_path / "in_unread").mkdir()
    src = (
        spark.readStream.schema("user_id long")
        .parquet(str(tmp_path / "in_unread"))
    )
    with _pytest.raises(ValueError, match="fresh"):
        sketch_maintenance_sink(
            src, str(target), str(tmp_path / "fresh_ckpt"), "user_id"
        )
    # a half-written batch (cms only) must not break the hll reader
    assert read_merged_hll(spark, str(target)).count() == 1
    spark.createDataFrame([(9, 9, 9)], "j int, slot int, cnt bigint") \
        .write.parquet(str(target / "batch=1" / "cms"))
    assert read_merged_hll(spark, str(target)).count() == 1
    assert read_merged_cms(spark, str(target)).count() == 2


def test_sketch_sink_quantile_sample_merges_to_batch_parity(spark, tmp_path):
    """Streaming quantile maintenance: with a value_col the sink also
    writes each batch's k-minimum-hash sample; the read-side merge (k
    smallest of the union) must equal the batch sample over the
    concatenated stream, the derived quantile rows must match the batch
    operator's, and a restart with no new data changes nothing."""
    import os
    import shutil

    from bigdata2016w_spark.operators.sketches import (
        hash_sample_quantiles,
        hash_sample_rows,
        quantile_rows_from_sample,
    )
    from bigdata2016w_spark.streaming.sketch_sink import (
        read_merged_quantile_sample,
        sketch_maintenance_sink,
    )

    b1 = [(i, float((i * 37) % 500)) for i in range(200)]
    b2 = [(i, float((i * 53) % 500)) for i in range(200, 450)]
    sdir = tmp_path / "in"
    sdir.mkdir()
    schema = "event_id long, value double"
    for i, rows in enumerate((b1, b2)):
        tmp = tmp_path / f"w{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in tmp.rglob("part-*.parquet"))
        dst = sdir / f"{i:03d}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_600_000_000 + i, 1_600_000_000 + i))

    def start():
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(str(sdir))
        )
        return sketch_maintenance_sink(
            src, str(tmp_path / "sk"), str(tmp_path / "ckpt"), "event_id",
            value_col="value",
        )

    q = start()
    q.awaitTermination()
    assert len(q.recentProgress) >= 2

    full = spark.createDataFrame(b1 + b2, schema)
    want = sorted((r.h, r.x) for r in
                  hash_sample_rows(full, "event_id", "value").collect())
    merged = read_merged_quantile_sample(spark, str(tmp_path / "sk"))
    got = sorted((r.h, r.x) for r in merged.collect())
    assert got == want

    want_q = {(r.q, r.est, r.k_used) for r in
              hash_sample_quantiles(full, "event_id", "value").collect()}
    got_q = {(r.q, r.est, r.k_used) for r in
             quantile_rows_from_sample(merged).collect()}
    assert got_q == want_q

    q2 = start()
    q2.awaitTermination()
    again = sorted((r.h, r.x) for r in read_merged_quantile_sample(
        spark, str(tmp_path / "sk")).collect())
    assert again == want


def test_ivfpq_append_sink_bit_exact_and_replay_safe(spark, sf_dir, tmp_path):
    """Streaming vector-index maintenance: an index grown by the
    foreachBatch append sink (two micro-batches, batch-stamped overwrite
    subdirs) must search BIT-IDENTICALLY to the same rows appended by
    the batch ``ivfpq_index_append`` (same frozen models, same encode);
    a restart with no new data changes nothing (replay-safe layout); a
    fresh checkpoint against a populated codes_stream fails fast; and an
    empty index refuses the sink up front (no model to encode against)."""
    import shutil

    import pytest as _pytest

    from bigdata2016w_spark.operators.similarity import knn_from_index
    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.sources.sinks import (
        ivfpq_index_append,
        write_ivfpq_index,
    )
    from bigdata2016w_spark.streaming.index_sink import (
        ivfpq_append_sink,
        read_streamed_codes,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(emb.vec_id % 2 == 0)
    tail = emb.where(emb.vec_id % 2 == 1)
    idx_stream = str(tmp_path / "idx_stream")
    write_ivfpq_index(base, idx_stream)
    idx_batch = str(tmp_path / "idx_batch")
    shutil.copytree(idx_stream, idx_batch)
    ivfpq_index_append(spark, idx_batch, tail)

    # the tail arrives as two micro-batches (two files, one per trigger)
    import os

    sdir = tmp_path / "in"
    sdir.mkdir()
    halves = (tail.where(tail.vec_id % 4 == 1), tail.where(tail.vec_id % 4 == 3))
    for i, half in enumerate(halves):
        tmp = tmp_path / f"w{i}"
        half.select("vec_id", "embedding").coalesce(1).write.parquet(str(tmp))
        part = next(p for p in tmp.rglob("part-*.parquet"))
        dst = sdir / f"{i:03d}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_600_000_000 + i, 1_600_000_000 + i))

    def start():
        src = (
            spark.readStream.schema("vec_id bigint, embedding array<float>")
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(str(sdir))
        )
        return ivfpq_append_sink(src, idx_stream, str(tmp_path / "ckpt"))

    q = start()
    q.awaitTermination()
    assert len(q.recentProgress) >= 2

    qids = [0, 1, 2, 3, 4]
    queries = emb.where(emb.vec_id.isin(qids)).select("vec_id", "embedding")
    got = knn_from_index(spark, idx_stream, queries, k=10, n_probe=4,
                         include_streamed=True).collect()
    want = knn_from_index(spark, idx_batch, queries, k=10,
                          n_probe=4).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    # restart under the same checkpoint, no new data: idempotent
    before = sorted(
        map(tuple, read_streamed_codes(spark, idx_stream).collect()))
    assert before  # the streamed tail is really there
    q2 = start()
    q2.awaitTermination()
    after = sorted(
        map(tuple, read_streamed_codes(spark, idx_stream).collect()))
    assert after == before

    # fresh checkpoint + populated codes_stream: fail fast
    src = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .parquet(str(sdir))
    )
    with _pytest.raises(ValueError, match="streamed appends"):
        ivfpq_append_sink(src, idx_stream, str(tmp_path / "fresh_ckpt"))

    # empty index: no model to encode against, refuse at sink start
    idx_empty = str(tmp_path / "idx_empty")
    write_ivfpq_index(
        spark.createDataFrame([], "vec_id bigint, embedding array<float>"),
        idx_empty,
    )
    with _pytest.raises(ValueError, match="no centroids"):
        ivfpq_append_sink(src, idx_empty, str(tmp_path / "empty_ckpt"))


def test_ivfpq_index_compact_folds_stream_into_base(spark, sf_dir, tmp_path):
    """Compaction must fold the streamed tail into the base cell
    partitions EXACTLY (a base-only probe afterwards equals the batch-
    append index), leave codes_stream's batch dirs empty, no-op on a
    second run, keep the fresh-checkpoint guard ARMED via the permanent
    tombstone, and auto-recover from every crash point its marker
    records — finishing, never destroying."""
    import json
    import os
    import shutil

    import pytest as _pytest

    from bigdata2016w_spark.operators.similarity import knn_from_index
    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.sources.sinks import (
        ivfpq_index_append,
        write_ivfpq_index,
    )
    from bigdata2016w_spark.streaming.index_sink import (
        ivfpq_append_sink,
        ivfpq_index_compact,
        read_streamed_codes,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(emb.vec_id % 2 == 0)
    tail = emb.where(emb.vec_id % 2 == 1)
    idx = str(tmp_path / "idx")
    write_ivfpq_index(base, idx)
    idx_ref = str(tmp_path / "idx_ref")
    shutil.copytree(idx, idx_ref)
    ivfpq_index_append(spark, idx_ref, tail)

    tmpw = tmp_path / "w"
    tail.select("vec_id", "embedding").coalesce(1).write.parquet(str(tmpw))
    sdir = tmp_path / "in"
    sdir.mkdir()
    shutil.copy(next(tmpw.rglob("part-*.parquet")), sdir / "0.parquet")
    src = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .parquet(str(sdir))
    )
    q = ivfpq_append_sink(src, idx, str(tmp_path / "ckpt"))
    q.awaitTermination()
    n_streamed = read_streamed_codes(spark, idx).count()
    assert n_streamed > 0
    base_rows = spark.read.parquet(f"{idx}/codes").count()

    # CRASH 1: marker written (counts recorded), append never landed —
    # recovery must re-run the full fold, not delete anything
    with open(f"{idx}/codes_stream/_COMPACTING", "w") as fh:
        json.dump({"base_rows": base_rows, "streamed_rows": n_streamed}, fh)
    assert ivfpq_index_compact(spark, idx) == n_streamed
    assert not os.path.exists(f"{idx}/codes_stream/_COMPACTING")
    assert read_streamed_codes(spark, idx).collect() == []
    assert ivfpq_index_compact(spark, idx) == 0  # second run: no-op

    qids = [0, 1, 2, 3, 4]
    queries = emb.where(emb.vec_id.isin(qids)).select("vec_id", "embedding")
    got = knn_from_index(spark, idx, queries, k=10, n_probe=4
                         ).collect()  # base-only read, post-fold
    want = knn_from_index(spark, idx_ref, queries, k=10, n_probe=4
                          ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    # tombstone: the batch dirs are gone, but a FRESH checkpoint must
    # still be refused — it would re-encode every already-folded file
    src2 = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .parquet(str(sdir))
    )
    assert os.path.exists(f"{idx}/codes_stream/_COMPACTED")
    with _pytest.raises(ValueError, match="tombstone"):
        ivfpq_append_sink(src2, idx, str(tmp_path / "fresh_ckpt"))

    # CRASH 2: append landed, cleanup didn't — the marker's counts
    # identify it; recovery finishes the cleanup without re-appending
    idx2 = str(tmp_path / "idx2")
    write_ivfpq_index(base, idx2)
    src3 = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .parquet(str(sdir))
    )
    ivfpq_append_sink(src3, idx2, str(tmp_path / "ckpt2")
                      ).awaitTermination()
    b2 = spark.read.parquet(f"{idx2}/codes").count()
    n2 = read_streamed_codes(spark, idx2).count()
    read_streamed_codes(spark, idx2).repartition("cell").write.mode(
        "append").partitionBy("cell").parquet(f"{idx2}/codes")
    with open(f"{idx2}/codes_stream/_COMPACTING", "w") as fh:
        json.dump({"base_rows": b2, "streamed_rows": n2}, fh)
    # entry points refuse while the marker stands, pointing at recovery
    with _pytest.raises(ValueError, match="auto-recover"):
        read_streamed_codes(spark, idx2)
    src4 = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .parquet(str(sdir))
    )
    with _pytest.raises(ValueError, match="auto-recover"):
        ivfpq_append_sink(src4, idx2, str(tmp_path / "ckpt3"))
    assert ivfpq_index_compact(spark, idx2) == n2
    assert spark.read.parquet(f"{idx2}/codes").count() == b2 + n2
    got2 = knn_from_index(spark, idx2, queries, k=10, n_probe=4
                          ).collect()
    assert sorted(map(tuple, got2)) == sorted(map(tuple, want))

    # CRASH 3: a partially-committed append (counts match neither state)
    # must raise with the exact numbers and never advise deletion
    idx3 = str(tmp_path / "idx3")
    write_ivfpq_index(base, idx3)
    os.makedirs(f"{idx3}/codes_stream/batch=0", exist_ok=True)
    shutil.copytree(f"{idx2}/codes_stream", f"{idx3}/codes_stream",
                    dirs_exist_ok=True)
    with open(f"{idx3}/codes_stream/_COMPACTING", "w") as fh:
        json.dump({"base_rows": 1, "streamed_rows": 1}, fh)
    with _pytest.raises(ValueError, match="committed partially"):
        ivfpq_index_compact(spark, idx3)


def test_compact_sketch_batches_preserves_all_merges(spark, tmp_path):
    """Folding N batch dirs into one must leave every merged reader's
    output IDENTICAL (the merges are associative), remove the later
    dirs, and no-op when only one dir remains. A crashed compaction
    blocks the readers and the sink until the next compact call
    auto-recovers it — from both recorded crash points (staging written
    but not renamed; renamed but marker not cleared) — without losing a
    single partial."""
    import json
    import os
    import shutil

    import pytest as _pytest

    from bigdata2016w_spark.streaming.batches import batch_dirs
    from bigdata2016w_spark.streaming.sketch_sink import (
        compact_sketch_batches,
        read_merged_cms,
        read_merged_hll,
        read_merged_quantile_sample,
        sketch_maintenance_sink,
    )

    def _plant(target):
        for b in range(3):
            spark.createDataFrame(
                [(0, 1, 5 + b), (1, 2, 7 * (b + 1))],
                "j int, slot int, cnt bigint",
            ).write.parquet(f"{target}/batch={b}/cms")
            spark.createDataFrame(
                [(3, 4 + b), (b, 9)], "bucket int, rho int"
            ).write.parquet(f"{target}/batch={b}/hll")
            spark.createDataFrame(
                [(100 * b + i, float(i)) for i in range(5)],
                "h bigint, x double",
            ).write.parquet(f"{target}/batch={b}/qsk")

    def _merged(target):
        return (
            sorted(map(tuple, read_merged_cms(spark, target).collect())),
            sorted(map(tuple, read_merged_hll(spark, target).collect())),
            sorted(map(tuple, read_merged_quantile_sample(
                spark, target).collect())),
        )

    target = str(tmp_path / "sk")
    _plant(target)
    want = _merged(target)

    assert compact_sketch_batches(spark, target) == 2
    dirs = batch_dirs(spark, target)
    assert len(dirs) == 1 and dirs[0].endswith("batch=0")
    assert _merged(target) == want
    assert compact_sketch_batches(spark, target) == 0  # single dir: no-op

    # CRASH A: staging fold complete, marker written, originals not yet
    # deleted — readers and the sink refuse; the next compact finishes
    target2 = str(tmp_path / "sk2")
    _plant(target2)
    shutil.copytree(f"{target}/batch=0", f"{target2}/_fold")
    with open(f"{target2}/_COMPACTING", "w") as fh:
        json.dump({"low_id": 0}, fh)
    with _pytest.raises(ValueError, match="auto-recover"):
        read_merged_cms(spark, target2).collect()
    (tmp_path / "in_unread2").mkdir()
    src = (
        spark.readStream.schema("user_id long")
        .parquet(str(tmp_path / "in_unread2"))
    )
    with _pytest.raises(ValueError, match="auto-recover"):
        sketch_maintenance_sink(src, target2, str(tmp_path / "ck2"),
                                "user_id")
    assert compact_sketch_batches(spark, target2) == 2
    assert not os.path.exists(f"{target2}/_fold")
    assert not os.path.exists(f"{target2}/_COMPACTING")
    assert _merged(target2) == want

    # CRASH B: rename already happened, only the marker survives — the
    # folded batch=0 must NOT be deleted by recovery
    target3 = str(tmp_path / "sk3")
    shutil.copytree(f"{target}/batch=0", f"{target3}/batch=0")
    with open(f"{target3}/_COMPACTING", "w") as fh:
        json.dump({"low_id": 0}, fh)
    compact_sketch_batches(spark, target3)
    assert not os.path.exists(f"{target3}/_COMPACTING")
    assert _merged(target3) == want


def test_quantile_reader_fails_fast_on_mixed_mode_batches(spark, tmp_path):
    """A stream restarted WITH value_col after batches ran without it
    leaves some batch=N dirs with no qsk partial; silently merging only
    the batches that have one would pass off a partial-stream sample as
    the whole stream's. The quantile reader must raise on that mixed
    layout. All-missing stays an empty typed frame (the quantile sketch
    was simply never enabled), and the cms/hll readers stay lenient (a
    missing half there is an in-flight batch a replay overwrites)."""
    import pytest as _pytest

    from bigdata2016w_spark.streaming.sketch_sink import (
        read_merged_cms,
        read_merged_quantile_sample,
    )

    target = tmp_path / "sk_mixed"
    # batch 0: pre-value_col run — cms only, no qsk
    spark.createDataFrame([(0, 1, 5)], "j int, slot int, cnt bigint") \
        .write.parquet(str(target / "batch=0" / "cms"))
    # no qsk anywhere yet: empty typed frame, not an error
    assert read_merged_quantile_sample(spark, str(target)).collect() == []
    # batch 1: restarted with value_col — cms + qsk
    spark.createDataFrame([(9, 9, 9)], "j int, slot int, cnt bigint") \
        .write.parquet(str(target / "batch=1" / "cms"))
    spark.createDataFrame([(123, 4.5)], "h bigint, x double") \
        .write.parquet(str(target / "batch=1" / "qsk"))
    with _pytest.raises(ValueError, match="lack a 'qsk' partial"):
        read_merged_quantile_sample(spark, str(target)).collect()
    # the counter reader is unaffected by the qsk gap
    assert read_merged_cms(spark, str(target)).count() == 2

    # a gap in ONLY the newest batch is the crashed-mid-batch signature
    # (the sink writes qsk last): the error must say a replay heals it,
    # not advise abandoning the target
    target2 = tmp_path / "sk_inflight"
    spark.createDataFrame([(0, 1, 5)], "j int, slot int, cnt bigint") \
        .write.parquet(str(target2 / "batch=0" / "cms"))
    spark.createDataFrame([(123, 4.5)], "h bigint, x double") \
        .write.parquet(str(target2 / "batch=0" / "qsk"))
    spark.createDataFrame([(9, 9, 9)], "j int, slot int, cnt bigint") \
        .write.parquet(str(target2 / "batch=1" / "cms"))
    with _pytest.raises(ValueError, match="SAME checkpoint"):
        read_merged_quantile_sample(spark, str(target2)).collect()


def test_batch_append_refuses_while_compaction_marker_stands(
    spark, sf_dir, tmp_path
):
    """The BATCH append API must honor the _COMPACTING marker exactly
    like the streaming sink and the readers: an append into codes while
    a crashed compaction is pending shifts the base row count the marker
    recorded, so recovery could misclassify the crash point — at worst
    (a batch that happens to add exactly streamed_rows rows) deleting
    unfolded batch dirs. Refuse up front, recover, then append."""
    import json
    import os

    import pytest as _pytest

    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.sources.sinks import (
        ivfpq_index_append,
        write_ivfpq_index,
    )
    from bigdata2016w_spark.streaming.index_sink import ivfpq_index_compact

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "idx")
    write_ivfpq_index(emb.where(emb.vec_id % 2 == 0), idx)
    base_rows = spark.read.parquet(f"{idx}/codes").count()
    os.makedirs(f"{idx}/codes_stream", exist_ok=True)
    with open(f"{idx}/codes_stream/_COMPACTING", "w") as fh:
        json.dump({"base_rows": base_rows, "streamed_rows": 0}, fh)
    tail = emb.where(emb.vec_id % 2 == 1)
    with _pytest.raises(ValueError, match="auto-recover"):
        ivfpq_index_append(spark, idx, tail)
    # base untouched by the refused append
    assert spark.read.parquet(f"{idx}/codes").count() == base_rows
    ivfpq_index_compact(spark, idx)  # auto-recovery clears the marker
    ivfpq_index_append(spark, idx, tail)
    assert spark.read.parquet(f"{idx}/codes").count() > base_rows


def test_torn_compaction_marker_recovers_automatically(
    spark, sf_dir, tmp_path
):
    """A crash MID-marker-write leaves partial JSON. Both compaction
    protocols classify that like the missing-key case — close() never
    completed, so the step that strictly follows it cannot have run —
    and recovery proceeds instead of surfacing a JSONDecodeError (the
    'recovery is automatic' contract)."""
    import os
    import shutil

    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.sources.sinks import write_ivfpq_index
    from bigdata2016w_spark.streaming.index_sink import (
        ivfpq_index_compact,
        read_streamed_codes,
    )
    from bigdata2016w_spark.streaming.sketch_sink import (
        compact_sketch_batches,
        read_merged_cms,
    )

    # index side: a real streamed batch dir + a torn marker
    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "idx")
    write_ivfpq_index(emb.where(emb.vec_id % 2 == 0), idx)
    tail = emb.where(emb.vec_id % 2 == 1)
    tmpw = tmp_path / "w"
    tail.select("vec_id", "embedding").coalesce(1).write.parquet(str(tmpw))
    sdir = tmp_path / "in"
    sdir.mkdir()
    shutil.copy(next(tmpw.rglob("part-*.parquet")), sdir / "0.parquet")
    from bigdata2016w_spark.streaming.index_sink import ivfpq_append_sink

    src = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .parquet(str(sdir))
    )
    ivfpq_append_sink(src, idx, str(tmp_path / "ckpt")).awaitTermination()
    n = read_streamed_codes(spark, idx).count()
    with open(f"{idx}/codes_stream/_COMPACTING", "w") as fh:
        fh.write('{"base_ro')  # torn mid-write
    assert ivfpq_index_compact(spark, idx) == n
    assert not os.path.exists(f"{idx}/codes_stream/_COMPACTING")

    # sketch side: two plain batch dirs + a torn marker
    target = str(tmp_path / "sk")
    for b in range(2):
        spark.createDataFrame(
            [(0, 1, 5 + b)], "j int, slot int, cnt bigint"
        ).write.parquet(f"{target}/batch={b}/cms")
        spark.createDataFrame(
            [(3, 4 + b)], "bucket int, rho int"
        ).write.parquet(f"{target}/batch={b}/hll")
    with open(f"{target}/_COMPACTING", "w") as fh:
        fh.write('{"low_i')  # torn mid-write
    assert compact_sketch_batches(spark, target) == 1
    assert not os.path.exists(f"{target}/_COMPACTING")
    assert sorted(map(tuple, read_merged_cms(spark, target).collect())) \
        == [(0, 1, 11)]


def test_sketch_fold_keeps_qsk_mode_when_sample_is_empty(spark, tmp_path):
    """A value_col stream whose batches carried zero rows still writes a
    (possibly empty) qsk dir per batch. Folding must preserve that MODE:
    the folded batch dir needs a qsk subdir even when the merged sample
    is empty, or a later strict read sees the fold as mode-less next to
    newer post-fold batches and raises the mixed-mode error on a stream
    that never mixed modes."""
    import os

    from bigdata2016w_spark.streaming.sketch_sink import (
        QSK_SCHEMA,
        compact_sketch_batches,
        read_merged_quantile_sample,
    )

    target = str(tmp_path / "sk")
    for b in range(2):
        spark.createDataFrame(
            [(0, 1, 5 + b)], "j int, slot int, cnt bigint"
        ).write.parquet(f"{target}/batch={b}/cms")
        spark.createDataFrame(
            [(3, 4 + b)], "bucket int, rho int"
        ).write.parquet(f"{target}/batch={b}/hll")
        # value_col mode, but the batch carried no rows: empty qsk
        spark.createDataFrame([], QSK_SCHEMA).write.parquet(
            f"{target}/batch={b}/qsk"
        )
    assert compact_sketch_batches(spark, target) == 1
    assert os.path.exists(f"{target}/batch=0/qsk")
    # a later batch written in the same mode must still merge strictly
    spark.createDataFrame(
        [(9, 9, 9)], "j int, slot int, cnt bigint"
    ).write.parquet(f"{target}/batch=5/cms")
    spark.createDataFrame([(3, 9)], "bucket int, rho int").write.parquet(
        f"{target}/batch=5/hll"
    )
    spark.createDataFrame([(7, 1.5)], "h bigint, x double").write.parquet(
        f"{target}/batch=5/qsk"
    )
    got = read_merged_quantile_sample(spark, target).collect()
    assert [tuple(r) for r in got] == [(7, 1.5)]


def test_ivm_view_stream_parity_and_replay(spark, sf_dir, tmp_path):
    """The streamed nation-revenue view (per-micro-batch deltas merged
    on read) equals a from-scratch batch rebuild in exact DECIMAL — and
    a replayed batch (lost checkpoint commit) rewrites its delta
    instead of double-applying it."""
    import pyspark.sql.functions as F

    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.streaming.ivm import (
        apply_ivm_batch,
        ivm_view_sink,
        read_view,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    # split the table into 4 files -> 4 micro-batches under
    # maxFilesPerTrigger=1
    src = str(tmp_path / "orders_src")
    orders.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    view_dir = str(tmp_path / "view")
    q = ivm_view_sink(stream, customer, view_dir,
                      str(tmp_path / "ckpt"))
    q.awaitTermination()

    got = {r["c_nationkey"]: (r["revenue"], r["n_orders"])
           for r in read_view(spark, view_dir).collect()}
    want = {
        r["c_nationkey"]: (r["revenue"], r["n_orders"])
        for r in (
            orders.select(
                "o_custkey",
                F.col("o_totalprice").cast("decimal(18,2)").alias("price"))
            .join(customer, F.col("o_custkey") == F.col("c_custkey"))
            .groupBy("c_nationkey")
            .agg(F.sum("price").cast("decimal(18,2)").alias("revenue"),
                 F.count("*").alias("n_orders"))
            .collect()
        )
    }
    assert got == want
    # replay: applying the SAME batch id twice must be a rewrite, not a
    # double-apply — the exactly-once-per-batch-id convention
    extra = orders.limit(500)
    dim = customer.select("c_custkey", "c_nationkey")
    apply_ivm_batch(extra, 99, dim, view_dir)
    once = _rows(read_view(spark, view_dir),
                 ["c_nationkey", "revenue", "n_orders"])
    assert once != _rows(
        spark.createDataFrame(
            [(k, v[0], v[1]) for k, v in want.items()],
            "c_nationkey int, revenue decimal(18,2), n_orders bigint"),
        ["c_nationkey", "revenue", "n_orders"])  # batch 99 really landed
    apply_ivm_batch(extra, 99, dim, view_dir)
    twice = _rows(read_view(spark, view_dir),
                  ["c_nationkey", "revenue", "n_orders"])
    assert twice == once
    # remove the synthetic batch so the restart check compares cleanly
    import shutil

    shutil.rmtree(f"{view_dir}/batch=99")
    again = {r["c_nationkey"]: (r["revenue"], r["n_orders"])
             for r in read_view(spark, view_dir).collect()}
    assert again == want
    # restart with the same checkpoint: no new data, view unchanged
    q2 = ivm_view_sink(
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        customer, view_dir, str(tmp_path / "ckpt"))
    q2.awaitTermination()
    final = {r["c_nationkey"]: (r["revenue"], r["n_orders"])
             for r in read_view(spark, view_dir).collect()}
    assert final == want


def test_ivm_view_fresh_checkpoint_guard(spark, sf_dir, tmp_path):
    """A fresh checkpoint pointed at a view dir that already holds
    batch deltas must fail fast (ids would restart at 0 and overwrite)."""
    import pytest

    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.streaming.ivm import ivm_view_sink

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    src = str(tmp_path / "src")
    orders.limit(10).write.parquet(src)
    stream = spark.readStream.schema(orders.schema).parquet(src)
    view_dir = str(tmp_path / "view")
    q = ivm_view_sink(stream, customer, view_dir, str(tmp_path / "ckpt1"))
    q.awaitTermination()
    with pytest.raises(ValueError, match="fresh"):
        ivm_view_sink(
            spark.readStream.schema(orders.schema).parquet(src),
            customer, view_dir, str(tmp_path / "ckpt2"))
