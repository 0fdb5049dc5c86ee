"""Structured Streaming smoke + batch-equivalence tests (SURVEY.md §5.5).

DuckDB can't run streams, so the checks are: (a) the streaming query
completes on the real events data via AvailableNow micro-batches, and
(b) its result equals the batch twin that IS oracle-checked."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hapiy_etl_spark.operators.txstore import TxTable
from hapiy_etl_spark.queries.events import window_tumbling
from hapiy_etl_spark.streaming.jobs import (
    foreach_batch_upsert,
    read_events_stream,
    run_to_memory,
    stream_dedup_within_watermark,
    stream_tumbling_counts,
)


def test_stream_tumbling_equals_batch(spark, sf_dir):
    events = read_events_stream(spark, sf_dir)
    run_to_memory(stream_tumbling_counts(events), "tumbling_out", output_mode="append")
    stream_rows = {
        (r.window_start, r.event_type): r.n for r in spark.sql("SELECT * FROM tumbling_out").collect()
    }
    batch_rows = {
        (r.window_start, r.event_type): r.n
        for r in window_tumbling(spark, sf_dir).select("window_start", "event_type", "n").collect()
    }
    # watermark may hold back the final in-flight windows in append mode;
    # everything emitted must match the batch twin exactly
    assert stream_rows
    for k, n in stream_rows.items():
        assert batch_rows.get(k) == n, k
    assert len(stream_rows) >= len(batch_rows) - 5


def test_stream_dedup_within_watermark(spark, sf_dir):
    events = read_events_stream(spark, sf_dir)
    run_to_memory(stream_dedup_within_watermark(events, ["event_id"]), "dedup_out")
    n_stream = spark.sql("SELECT count(DISTINCT event_id) AS n FROM dedup_out").first().n
    n_total = spark.sql("SELECT count(*) AS n FROM dedup_out").first().n
    assert n_stream == n_total  # no key delivered twice


def test_complete_mode_aggregation(spark, sf_dir):
    """outputMode=complete re-emits the full aggregate each batch (no
    watermark needed) — the dashboard-refresh pattern."""
    events = read_events_stream(spark, sf_dir)
    agg = events.groupBy("event_type").count()
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("complete_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_counts = {
        r.event_type: r["count"] for r in spark.sql("SELECT * FROM complete_out").collect()
    }
    batch_counts = {
        r.event_type: r["count"]
        for r in spark.read.parquet(f"{sf_dir}/events.parquet").groupBy("event_type").count().collect()
    }
    assert stream_counts == batch_counts


def test_checkpoint_recovery_no_reprocessing(spark, sf_dir, tmp_path):
    """Restarting a foreachBatch-upsert stream from its checkpoint must
    not reprocess (exactly-once via offsets + idempotent keyed sink)."""
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    seen_batches = []

    for run in range(2):
        events = read_events_stream(spark, sf_dir).select("event_id", "user_id", "value")

        def _sink(batch, epoch_id, _run=run):
            if not batch.isEmpty():
                seen_batches.append((_run, epoch_id, batch.count()))
                TxTable(batch.sparkSession, sink).merge(batch, ["event_id"])

        q = (
            events.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 0 processed everything; run 1 found committed offsets → no batches
    assert any(r == 0 for r, _, _ in seen_batches)
    assert not any(r == 1 for r, _, _ in seen_batches)
    n_src = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert TxTable(spark, sink).read().count() == n_src


def test_foreach_batch_upsert_sink(spark, sf_dir, tmp_path):
    events = read_events_stream(spark, sf_dir)
    q = foreach_batch_upsert(
        events.select("event_id", "user_id", "value"),
        str(tmp_path / "sink"),
        keys=["event_id"],
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    out = TxTable(spark, str(tmp_path / "sink")).read()
    src_n = read_events_stream(spark, sf_dir).sparkSession.read.parquet(f"{sf_dir}/events.parquet").count()
    assert out.count() == src_n
    assert out.select("event_id").distinct().count() == src_n


def test_foreach_batch_upsert_failed_commit_keeps_previous_batch(spark, tmp_path, monkeypatch):
    """A crash inside the second micro-batch's commit (after its data dir
    is written, before its manifest is published) must leave the sink
    table readable with exactly the first batch's rows — the window in
    which a write-temp, delete-live, move-temp swap lost the table."""
    import pytest

    src = tmp_path / "src"
    first = [(1, "a"), (2, "b")]
    spark.createDataFrame(first, "k long, v string").coalesce(1).write.parquet(str(src / "p1"))
    spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string").coalesce(1).write.parquet(
        str(src / "p2")
    )
    for f in (src / "p2").glob("*.parquet"):  # the file source replays oldest first
        os.utime(f, (f.stat().st_atime, f.stat().st_mtime + 60))
    stream = (
        spark.readStream.schema("k long, v string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    publish, calls = TxTable._publish_manifest, []

    def crash_on_second(self, manifest):
        calls.append(manifest["version"])
        if len(calls) == 2:
            raise RuntimeError("killed before the manifest publish")
        return publish(self, manifest)

    monkeypatch.setattr(TxTable, "_publish_manifest", crash_on_second)
    sink = str(tmp_path / "sink")
    q = foreach_batch_upsert(stream, sink, keys=["k"], checkpoint=str(tmp_path / "ckpt"))
    with pytest.raises(Exception, match="killed before the manifest publish"):
        q.awaitTermination()
    assert len(calls) == 2
    assert sorted(tuple(r) for r in TxTable(spark, sink).read().collect()) == first


def test_foreach_batch_kmv_rollup_equals_batch_and_is_idempotent(spark, sf_dir, tmp_path):
    """Streaming KMV rollup: (a) the merged sketch state equals the
    batch sketch over the full table EXACTLY (k-smallest of a union ==
    k-smallest of per-part k-smallest), and (b) replaying the whole
    stream into the same state (fresh checkpoint = full re-delivery)
    changes nothing — the merge is idempotent under at-least-once."""
    from hapiy_etl_spark.operators.sketches import kmv_estimate, kmv_sketch
    from hapiy_etl_spark.streaming.jobs import foreach_batch_kmv_rollup

    K = 64
    sink = str(tmp_path / "kmv_state")

    def run(ckpt: str):
        events = read_events_stream(spark, sf_dir)
        q = foreach_batch_kmv_rollup(
            events.select("event_type", "user_id"),
            sink,
            group_cols=["event_type"],
            value_col="user_id",
            checkpoint=str(tmp_path / ckpt),
            k=K,
        )
        q.awaitTermination()

    run("ckpt1")
    state = {
        r.event_type: tuple(r.sketch)
        for r in TxTable(spark, sink).read().collect()
    }
    batch = {
        r.event_type: tuple(r.sketch)
        for r in kmv_sketch(
            spark.read.parquet(f"{sf_dir}/events.parquet"),
            ["event_type"],
            "user_id",
            k=K,
        ).collect()
    }
    assert state == batch

    # full re-delivery: fresh checkpoint reprocesses every micro-batch
    run("ckpt2")
    replayed = {
        r.event_type: tuple(r.sketch)
        for r in TxTable(spark, sink).read().collect()
    }
    assert replayed == state

    # and the estimates are sane: within ~4/sqrt(k-2) of the exact count
    exact = {
        r.event_type: r.n
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    sk = TxTable(spark, sink).read()
    est = {
        r.event_type: r.est
        for r in sk.select("event_type", kmv_estimate(F.col("sketch"), K).alias("est")).collect()
    }
    for et, n in exact.items():
        assert abs(est[et] - n) <= max(4.0 * n / (K - 2) ** 0.5, 2.0), (et, est[et], n)
