"""Versioned transactional store (snapshot isolation, MERGE, time
travel, optimistic concurrency, vacuum) and the batch cron loop."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from hapiy_etl_spark.operators.txstore import ConcurrentCommitError, TxTable, dirs_read
from hapiy_etl_spark.pipeline.scheduler import CronLoop


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_txstore_overwrite_append_time_travel(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a")], "k long, v string"))
    t.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    assert _rows(t.read()) == [(1, "a"), (2, "b")]
    assert _rows(t.read(version=1)) == [(1, "a")]  # time travel
    t.overwrite(spark.createDataFrame([(9, "z")], "k long, v string"))
    assert _rows(t.read()) == [(9, "z")]
    assert _rows(t.read(version=2)) == [(1, "a"), (2, "b")]
    assert [m["op"] for m in t.history()] == ["overwrite", "append", "overwrite"]


def test_txstore_merge_upsert_semantics(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.merge(spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string"), keys=["k"])
    assert _rows(t.read()) == [(1, "a"), (2, "B"), (3, "c")]
    # the pre-merge snapshot is untouched (readers never see partial state)
    assert _rows(t.read(version=1)) == [(1, "a"), (2, "b")]


def test_txstore_delete_where(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(i, i % 2) for i in range(6)], "k long, odd long"))
    t.delete_where("odd = 1")
    assert _rows(t.read()) == [(0, 0), (2, 0), (4, 0)]


def test_txstore_concurrent_commit_conflict_and_retry(spark, tmp_path):
    """A racing writer owns version N+1 → direct commit raises; merge's
    optimistic retry re-reads the interloper's snapshot so BOTH writes
    survive (no lost update)."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a")], "k long, v string"))

    interloper = TxTable(spark, str(tmp_path / "t"))

    class RaceOnce(TxTable):
        raced = False

        def _commit(self, parent, dirs, op, *args, **kwargs):
            if not RaceOnce.raced and op == "merge":
                RaceOnce.raced = True
                interloper.merge(
                    spark.createDataFrame([(5, "e")], "k long, v string"), keys=["k"]
                )
            return super()._commit(parent, dirs, op, *args, **kwargs)

    racer = RaceOnce(spark, str(tmp_path / "t"))
    racer.merge(spark.createDataFrame([(2, "b")], "k long, v string"), keys=["k"])
    assert _rows(racer.read()) == [(1, "a"), (2, "b"), (5, "e")]
    # the lost round's manifest was never written: versions are gapless
    assert [m["version"] for m in racer.history()] == [1, 2, 3]


def test_txstore_direct_conflict_raises(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a")], "k long, v string"))
    # steal version 2 out from under an overwrite
    (tmp_path / "t" / "_tx" / "v00000002.json").write_text(
        json.dumps({"version": 2, "parent": 1, "op": "overwrite", "dirs": [], "ts": 0})
    )
    with pytest.raises(ConcurrentCommitError):
        t._commit(1, ["nope"], "overwrite")


def test_txstore_vacuum_drops_orphans_keeps_time_travel(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a")], "k long, v string"))
    t.overwrite(spark.createDataFrame([(2, "b")], "k long, v string"))
    t.overwrite(spark.createDataFrame([(3, "c")], "k long, v string"))
    (tmp_path / "t" / "data" / "s-aborted-write").mkdir()  # crashed writer debris
    (tmp_path / "t" / "data" / "s-inflight-write").mkdir()  # a writer mid-commit
    # age guard: with the default retention nothing unreferenced is
    # touched (it could be an in-flight writer's spool)...
    assert t.vacuum(keep_last=2) == []
    # ...with retention waived, debris goes — but we protect the
    # "in-flight" dir by backdating only the aborted one
    import os, time

    old = time.time() - 10
    os.utime(tmp_path / "t" / "data" / "s-aborted-write", (old, old))
    removed = t.vacuum(keep_last=2, min_age_s=5)
    assert "s-aborted-write" in removed
    assert "s-inflight-write" not in removed
    (tmp_path / "t" / "data" / "s-inflight-write").rmdir()
    t.vacuum(keep_last=2, min_age_s=0)
    assert _rows(t.read()) == [(3, "c")]
    assert _rows(t.read(version=2)) == [(2, "b")]  # kept window intact
    with pytest.raises(FileNotFoundError):
        t.read(version=1)  # vacuumed beyond the window


def test_cron_loop_fires_on_grid_in_virtual_time():
    now = {"t": 0.0}
    fired = []

    def clock():
        return now["t"]

    def sleep(s):
        now["t"] += s

    def job():
        fired.append(now["t"])
        now["t"] += 1.0  # each tick takes 1 s

    loop = CronLoop(job=job, interval_s=10.0, clock=clock, sleep=sleep)
    res = loop.run(max_ticks=3)
    assert fired == [0.0, 10.0, 20.0]  # slow ticks don't shift the grid
    assert [r.ok for r in res] == [True, True, True]


def test_cron_loop_skips_missed_slots_no_burst():
    now = {"t": 0.0}
    fired = []

    def clock():
        return now["t"]

    def sleep(s):
        now["t"] += s

    def job():
        fired.append(now["t"])
        now["t"] += 25.0 if len(fired) == 1 else 1.0  # first tick overruns 2 slots

    loop = CronLoop(job=job, interval_s=10.0, clock=clock, sleep=sleep)
    loop.run(max_ticks=4)
    # tick 0 ends at 25: slot 10 is dropped outright (no catch-up
    # burst), slot 20 fires once, late, at 25; slot 30 back on grid
    assert fired == [0.0, 25.0, 30.0]


def test_cron_loop_survives_failures_then_breaks_circuit():
    now = {"t": 0.0}
    calls = {"n": 0}

    def clock():
        return now["t"]

    def sleep(s):
        now["t"] += s

    def flaky():
        calls["n"] += 1
        if calls["n"] != 2:
            raise RuntimeError("boom")

    loop = CronLoop(
        job=flaky, interval_s=1.0, max_consecutive_failures=3, clock=clock, sleep=sleep
    )
    with pytest.raises(RuntimeError, match="circuit open"):
        loop.run(max_ticks=10)
    # tick 1 succeeded, so the counter reset: 1 fail, 1 ok, then 3 fails
    assert [r.ok for r in loop.results] == [False, True, False, False, False]


def test_foreach_batch_tx_append_exactly_once(spark, tmp_path):
    """The TxTable streaming sink commits each epoch once: a re-delivered
    micro-batch (same epoch id) is detected in the manifest history and
    skipped, so append-only rows never duplicate — and a restart with
    the same checkpoint reprocesses nothing."""
    from hapiy_etl_spark.streaming.jobs import foreach_batch_tx_append

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")

    def write(rows):
        spark.createDataFrame(rows, "k long, v string").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    write([(1, "a"), (2, "b")])
    stream = spark.readStream.schema("k long, v string").parquet(src)
    foreach_batch_tx_append(stream, store, ckpt).awaitTermination()
    t = TxTable(spark, store)
    assert _rows(t.read()) == [(1, "a"), (2, "b")]

    # simulate foreachBatch re-delivery: the sink kernel with an epoch
    # id that is already in the manifest history must refuse to append
    from hapiy_etl_spark.streaming.jobs import tx_append_once

    committed_epoch = t.history()[-1]["meta"]["epoch"]
    batch = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    n_versions = t.latest_version()
    assert tx_append_once(batch, store, committed_epoch) is False
    assert t.latest_version() == n_versions
    assert _rows(t.read()) == [(1, "a"), (2, "b")]

    # restart with the same checkpoint + one new file: only the new
    # file lands, as one new version
    write([(3, "c")])
    stream2 = spark.readStream.schema("k long, v string").parquet(src)
    foreach_batch_tx_append(stream2, store, ckpt).awaitTermination()
    assert _rows(t.read()) == [(1, "a"), (2, "b"), (3, "c")]


def test_max_files_per_trigger_paces_batches(spark, tmp_path):
    """Source rate limiting: maxFilesPerTrigger=1 over 3 files must
    process in 3+ micro-batches (bounded per-batch work — how a 100 TB
    backfill avoids one giant first batch), and deliver all rows."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    for i in range(3):
        spark.createDataFrame([(i, f"f{i}")], "k long, v string").coalesce(
            1
        ).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("k long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("paced_out")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) >= 3, [p["numInputRows"] for p in q.recentProgress]
    assert spark.sql("SELECT count(*) FROM paced_out").first()[0] == 3


def test_txstore_optimize_compacts_snapshot(spark, tmp_path):
    """Three append dirs collapse to one optimized dir; values are
    unchanged, history records the op, and pre-optimize versions stay
    readable (copy-on-write)."""
    t = TxTable(spark, str(tmp_path / "t"))
    for i in range(3):
        t.append(spark.createDataFrame([(i, f"v{i}")], "k long, v string"))
    assert len(t._manifest(3)["dirs"]) == 3
    t.optimize(target_partitions=1)
    assert len(t._manifest(4)["dirs"]) == 1
    assert _rows(t.read()) == [(0, "v0"), (1, "v1"), (2, "v2")]
    assert _rows(t.read(version=2)) == [(0, "v0"), (1, "v1")]
    assert t.history()[-1]["op"] == "optimize"


def test_txstore_optimize_zorder_clusters(spark, tmp_path):
    """OPTIMIZE ZORDER BY: values survive the Morton re-layout."""
    t = TxTable(spark, str(tmp_path / "t"))
    rows = [(i, (i * 37) % 100) for i in range(200)]
    t.overwrite(spark.createDataFrame(rows, "x long, y long"))
    t.optimize(zorder_by=["x", "y"], target_partitions=2)
    assert _rows(t.read()) == sorted(rows)


def test_txstore_schema_evolution_merge_schema(spark, tmp_path):
    """An append may add a column; merge_schema=True surfaces it (null
    on old dirs) instead of silently dropping it."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a")], "k long, v string"))
    t.append(spark.createDataFrame([(2, "b", 9.5)], "k long, v string, score double"))
    evolved = t.read(merge_schema=True)
    assert set(evolved.columns) == {"k", "v", "score"}
    by_k = {r.k: r.score for r in evolved.collect()}
    assert by_k == {1: None, 2: 9.5}


def _flat_dir_paths(t):
    m = t._manifest(t.latest_version())
    return [str(t.path / "data" / d) for d in m["dirs"]]


def _repr_rows(df):
    return sorted(map(repr, df.collect()))


def test_txstore_flat_read_uses_recorded_schema(spark, spark_jobs, tmp_path):
    """Flat dirs that all record the same schema are read with it: the
    snapshot has the schema parquet inference finds (every column
    nullable, types and names exact), the same rows, and planning the
    read submits no Spark job (inference runs a footer-reading job)."""
    import datetime
    import decimal

    from pyspark.sql.types import (
        ArrayType, DecimalType, DoubleType, IntegerType, LongType, StringType,
        StructField, StructType, TimestampType,
    )

    schema = StructType([
        StructField("ts", TimestampType()),
        StructField("amount", DecimalType(12, 2)),
        StructField("vec", ArrayType(DoubleType(), containsNull=False)),
        StructField("info", StructType([
            StructField("a", IntegerType(), False), StructField("b", StringType()),
        ])),
        StructField("id", LongType(), False),
        StructField("my col", StringType()),
    ])
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([
        (datetime.datetime(2024, 1, 2, 3, 4, 5), decimal.Decimal("1234.50"),
         [1.5, -2.0], (1, "x"), 1, "a b"),
        (None, None, [], (2, None), 2, None),
    ], schema))
    t.append(spark.createDataFrame([
        (datetime.datetime(2023, 12, 31), decimal.Decimal("-0.01"), [0.0], (3, "y"), 3, "c"),
    ], schema))

    got, jobs = spark_jobs(t.read)
    assert jobs == 0
    inferred = spark.read.parquet(*_flat_dir_paths(t))
    assert got.schema.jsonValue() == inferred.schema.jsonValue()
    assert all(f.nullable for f in got.schema.fields)
    assert _repr_rows(got) == _repr_rows(inferred)
    assert len(_repr_rows(got)) == 3
    # pruned reads take the same path
    one, jobs = spark_jobs(lambda: t.read(where_in={"id": [3]}))
    assert jobs == 0 and [r["my col"] for r in one.collect()] == ["c"]


@pytest.mark.parametrize(
    "second",
    [
        "k long, v string, extra double",  # an added column
        "k long not null, v string",  # nullability only
    ],
)
def test_txstore_flat_read_differing_recorded_schemas_infers(spark, tmp_path, second):
    """Flat dirs recording different schemas keep parquet inference:
    the read equals Spark's own multi-path read of the same dirs, and
    ``merge_schema=True`` equals Spark's merged read."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    row = (2, "b", 0.5) if "extra" in second else (2, "b")
    t.append(spark.createDataFrame([row], second))
    paths = _flat_dir_paths(t)

    plain, merged = t.read(), t.read(merge_schema=True)
    want = spark.read.parquet(*paths)
    want_merged = spark.read.option("mergeSchema", "true").parquet(*paths)
    assert plain.schema.jsonValue() == want.schema.jsonValue()
    assert _repr_rows(plain) == _repr_rows(want)
    assert merged.schema.jsonValue() == want_merged.schema.jsonValue()
    assert _repr_rows(merged) == _repr_rows(want_merged)


def test_txstore_restore_rolls_back_as_new_commit(spark, tmp_path):
    """RESTORE: the table returns to an old snapshot via a NEW manifest
    that re-references the old dirs (no data copy), history remains
    append-only, and vacuum keeps the restored dirs live because the
    newest manifest points at them."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "good")], "k long, v string"))
    t.overwrite(spark.createDataFrame([(2, "bad")], "k long, v string"))
    v = t.restore(1)
    assert v == 3
    assert _rows(t.read()) == [(1, "good")]
    assert _rows(t.read(version=2)) == [(2, "bad")]  # bad version inspectable
    assert [m["op"] for m in t.history()] == ["overwrite", "overwrite", "restore"]
    assert t.history()[-1]["meta"] == {"restored_from": 1}
    # no data copy: v3 references exactly v1's dirs
    assert t._manifest(3)["dirs"] == t._manifest(1)["dirs"]
    t.vacuum(keep_last=1, min_age_s=0)
    assert _rows(t.read()) == [(1, "good")]  # restored dirs survived vacuum


def test_tx_epoch_state_survives_optimize_and_vacuum(spark, tmp_path):
    """ADVICE r5: non-stream commits must carry the max committed epoch
    forward, so stream + OPTIMIZE + vacuum cannot erase replay
    detection and duplicate a re-delivered batch."""
    from hapiy_etl_spark.streaming.jobs import tx_append_once

    store = str(tmp_path / "store")
    b = lambda rows: spark.createDataFrame(rows, "k long, v string")
    assert tx_append_once(b([(1, "a")]), store, 0, run_id="runA") is True
    assert tx_append_once(b([(2, "b")]), store, 1, run_id="runA") is True

    t = TxTable(spark, store)
    t.optimize()  # compaction commit carries no epoch of its own
    removed = t.vacuum(keep_last=1, min_age_s=0)  # drops the append manifests
    assert any(r.endswith(".json") for r in removed)  # manifests reported
    assert t.last_stream_state() == (1, "runA")  # carried through optimize

    # the re-delivered epoch is still detected after the manifests died
    assert tx_append_once(b([(2, "b")]), store, 1, run_id="runA") is False
    assert _rows(t.read()) == [(1, "a"), (2, "b")]


def test_tx_append_new_run_restarts_epochs(spark, tmp_path):
    """A reset checkpoint (new query id) restarts epoch ids at 0 — that
    is a NEW run, not a replay; skipping it would be silent data loss."""
    from hapiy_etl_spark.streaming.jobs import tx_append_once

    store = str(tmp_path / "store")
    b = lambda rows: spark.createDataFrame(rows, "k long, v string")
    assert tx_append_once(b([(1, "a")]), store, 0, run_id="runA") is True
    assert tx_append_once(b([(2, "b")]), store, 1, run_id="runA") is True
    assert tx_append_once(b([(3, "c")]), store, 0, run_id="runB") is True
    t = TxTable(spark, store)
    assert _rows(t.read()) == [(1, "a"), (2, "b"), (3, "c")]
    assert t.last_stream_state() == (0, "runB")
    # and within the new run, replay detection works at the new epochs
    assert tx_append_once(b([(3, "c")]), store, 0, run_id="runB") is False


def test_tx_append_epoch_regression_without_run_id_raises(spark, tmp_path):
    """Without a run identity an epoch regression is ambiguous (replay
    vs reset checkpoint) — raise loudly rather than silently dropping."""
    from hapiy_etl_spark.streaming.jobs import tx_append_once

    store = str(tmp_path / "store")
    b = lambda rows: spark.createDataFrame(rows, "k long, v string")
    assert tx_append_once(b([(1, "a")]), store, 0) is True
    assert tx_append_once(b([(2, "b")]), store, 1) is True
    assert tx_append_once(b([(2, "b")]), store, 1) is False  # same-epoch replay ok
    with pytest.raises(RuntimeError, match="regressed"):
        tx_append_once(b([(9, "x")]), store, 0)


def test_tx_append_run_writer_on_pre_run_tracking_table(spark, tmp_path):
    """ADVICE r6 (low): a run-identified writer restarting over a table
    whose commits predate run tracking must SKIP the common crash-
    recovery re-delivery (epoch == newest commit) instead of wedging
    the stream; only a genuine regression (epoch < newest) raises.
    The first advancing commit migrates the table to run-tracked."""
    from hapiy_etl_spark.streaming.jobs import tx_append_once

    store = str(tmp_path / "store")
    b = lambda rows: spark.createDataFrame(rows, "k long, v string")
    # legacy commits: no run identity
    assert tx_append_once(b([(1, "a")]), store, 0) is True
    assert tx_append_once(b([(2, "b")]), store, 1) is True
    # upgraded writer restarts from the same checkpoint: re-delivery of
    # the newest batch is skipped, not a hard failure
    assert tx_append_once(b([(2, "b")]), store, 1, run_id="runA") is False
    with pytest.raises(RuntimeError, match="no run\\s+identity"):
        tx_append_once(b([(1, "a")]), store, 0, run_id="runA")
    # the advancing epoch commits WITH the run id — table migrated
    assert tx_append_once(b([(3, "c")]), store, 2, run_id="runA") is True
    assert tx_append_once(b([(3, "c")]), store, 2, run_id="runA") is False
    from hapiy_etl_spark.operators.txstore import TxTable

    assert TxTable(spark, store).last_stream_state() == (2, "runA")


def test_txstore_vacuum_age_gates_manifests(spark, tmp_path):
    """Manifests below the keep window survive a default-retention
    vacuum (they are younger than min_age_s) and their snapshots stay
    time-travelable until they age out."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a")], "k long, v string"))
    t.overwrite(spark.createDataFrame([(2, "b")], "k long, v string"))
    assert t.vacuum(keep_last=1) == []  # young manifest + dirs retained
    assert _rows(t.read(version=1)) == [(1, "a")]  # still travelable
    removed = t.vacuum(keep_last=1, min_age_s=0)
    assert "v00000001.json" in removed
    with pytest.raises(FileNotFoundError):
        t.read(version=1)


def test_incremental_mv_refresh_modes_and_equivalence(spark, tmp_path):
    """IncrementalAggView over an appended TxTable: the first refresh is
    a full build, subsequent append-only refreshes scan ONLY the new
    dirs, and after every refresh the finalized view equals a from-
    scratch aggregate of the source snapshot."""
    from hapiy_etl_spark.operators.incremental_mv import IncrementalAggView
    from hapiy_etl_spark.operators.txstore import TxTable

    src = TxTable(spark, str(tmp_path / "src"))
    mv = IncrementalAggView(
        spark, src, str(tmp_path / "mv"), ["k"], "v"
    )

    def recompute():
        return {
            (r.k,): (r.n, r.sum_value, r.avg_value, r.min_value, r.max_value)
            for r in src.read()
            .groupBy("k")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("v").cast("decimal(28,4)")).cast("double").alias("sum_value"),
                F.round(
                    F.sum(F.col("v").cast("decimal(28,4)")).cast("double") / F.count("*"), 6
                ).alias("avg_value"),
                F.min("v").alias("min_value"),
                F.max("v").alias("max_value"),
            )
            .collect()
        }

    def view():
        return {
            (r.k,): (r.n, r.sum_value, r.avg_value, r.min_value, r.max_value)
            for r in mv.result().collect()
        }

    src.append(spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double"))
    rep = mv.refresh()
    assert rep["mode"] == "full"
    assert view() == recompute()

    src.append(spark.createDataFrame([("a", 5.0), ("c", -1.0)], "k string, v double"))
    src.append(spark.createDataFrame([("b", 0.5)], "k string, v double"))
    rep = mv.refresh()
    assert rep == {"mode": "incremental", "source_version": 3, "new_dirs": 2}
    assert view() == recompute()

    assert mv.refresh()["mode"] == "noop"


def test_incremental_mv_restart_and_rewrite_fallback(spark, tmp_path):
    """The refresh cursor lives in the view's own commit meta: a fresh
    object over the same paths resumes with a noop, and a non-append
    source commit (delete) invalidates consumed dirs, forcing the
    full-rebuild fallback with correct results."""
    from hapiy_etl_spark.operators.incremental_mv import IncrementalAggView
    from hapiy_etl_spark.operators.txstore import TxTable

    src = TxTable(spark, str(tmp_path / "src"))
    src.append(spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double"))
    mv = IncrementalAggView(spark, src, str(tmp_path / "mv"), ["k"], "v")
    mv.refresh()

    # restart: cursor persisted in the view manifest, not driver memory
    mv2 = IncrementalAggView(spark, src, str(tmp_path / "mv"), ["k"], "v")
    assert mv2.refresh()["mode"] == "noop"

    # delete rewrites the snapshot copy-on-write -> seen dirs vanish
    src.delete_where("k = 'a'")
    rep = mv2.refresh()
    assert rep["mode"] == "full"
    got = {r.k: r.n for r in mv2.result().collect()}
    assert got == {"b": 1}


def test_streaming_mv_refresh_per_batch(spark, tmp_path):
    """The streaming dynamic table: each micro-batch appends
    exactly-once to the TxTable and incrementally refreshes the
    materialized aggregate — after two separate runs the view equals
    the batch aggregate over everything ingested, a replayed epoch
    leaves both table and view untouched, and a same-checkpoint
    restart with no new data is a full noop."""
    from hapiy_etl_spark.operators.incremental_mv import IncrementalAggView
    from hapiy_etl_spark.streaming.jobs import foreach_batch_tx_append_with_mv

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")
    view = str(tmp_path / "view")

    def write(rows):
        spark.createDataFrame(rows, "k string, v double").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema("k string, v double").parquet(src)
        foreach_batch_tx_append_with_mv(
            stream, store, ckpt, view, ["k"], "v"
        ).awaitTermination()

    def view_rows():
        mv = IncrementalAggView(
            spark, TxTable(spark, store), view, ["k"], "v"
        )
        return {(r.k): (r.n, r.sum_value) for r in mv.result().collect()}

    write([("a", 1.0), ("b", 2.0)])
    run()
    assert view_rows() == {"a": (1, 1.0), "b": (1, 2.0)}

    write([("a", 3.0)])
    run()
    assert view_rows() == {"a": (2, 4.0), "b": (1, 2.0)}

    # no new data: restart is a noop for table and view alike
    tv = TxTable(spark, store).latest_version()
    vv = TxTable(spark, view).latest_version()
    run()
    assert TxTable(spark, store).latest_version() == tv
    assert TxTable(spark, view).latest_version() == vv


def test_txstore_changes_cdf(spark, tmp_path):
    """changes(v1, v2) reads exactly the rows appended between two
    versions as a manifest dir-diff (no row-level comparison job);
    a rewrite inside the span makes a file-delta unrepresentable and
    raises; from_version=0 means 'everything'."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    t.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    t.append(spark.createDataFrame([(3, "c")], "k long, v string"))

    assert _rows(t.changes(1)) == [(2, "b"), (3, "c")]
    assert _rows(t.changes(1, 2)) == [(2, "b")]
    assert _rows(t.changes(0, 2)) == [(1, "a"), (2, "b")]
    assert t.changes(3, 3).count() == 0

    t.delete_where("k = 1")  # copy-on-write rewrite
    with pytest.raises(ValueError, match="non-append"):
        t.changes(2)
    # spans entirely after the rewrite are append-only again
    t.append(spark.createDataFrame([(9, "z")], "k long, v string"))
    assert _rows(t.changes(4)) == [(9, "z")]


def test_txstore_partition_pruned_read(spark, tmp_path):
    """Manifest-level partition pruning: dirs appended with a partition
    spec are skipped without listing when the filter contradicts them
    (inputFiles proves the pruned dir is never touched); undeclared
    dirs are read and row-filtered, so results stay exact; a rewrite
    (delete) drops the specs and reads degrade to row filtering only."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([("en", 1), ("en", 2)], "lang string, v long"),
        partition={"lang": "en"},
    )
    t.append(
        spark.createDataFrame([("fr", 3)], "lang string, v long"),
        partition={"lang": "fr"},
    )
    t.append(  # undeclared mixed batch — must always be scanned
        spark.createDataFrame([("en", 4), ("de", 5)], "lang string, v long")
    )

    df = t.read(where={"lang": "en"})
    assert _rows(df) == [("en", 1), ("en", 2), ("en", 4)]
    manifest = t._manifest(t.latest_version())
    fr_dir = next(d for d, p in manifest["partitions"].items() if p == {"lang": "fr"})
    assert not any(fr_dir in f for f in df.inputFiles())  # pruned, never listed
    assert any(fr_dir in f for f in t.read().inputFiles())

    # no declared dir matches 'zz'; the undeclared dir is still scanned
    # and row-filtered to nothing — exactness over maximal pruning
    none = t.read(where={"lang": "zz"})
    assert none.count() == 0 and none.columns == ["lang", "v"]
    assert _rows(t.read(where={"lang": "de"})) == [("de", 5)]

    t.delete_where("v = 1")  # copy-on-write: specs do not survive
    assert _rows(t.read(where={"lang": "en"})) == [("en", 2), ("en", 4)]


def test_r6_gold_pipeline_composition(spark, tmp_path):
    """All r6 storage pieces engaged in one flow: constraint-gated
    appends land clean rows (with a partition spec) and quarantine the
    rest; the incremental view refreshes per batch on the clean table;
    changes() audits exactly the clean rows each batch added; and a
    partition-filtered read prunes the other batch's dir."""
    from hapiy_etl_spark.operators.constraints import Check, validate_split
    from hapiy_etl_spark.operators.incremental_mv import IncrementalAggView

    gold = TxTable(spark, str(tmp_path / "gold"))
    quarantine = TxTable(spark, str(tmp_path / "qtine"))
    mv = IncrementalAggView(spark, gold, str(tmp_path / "mv"), ["src"], "v")
    checks = [Check("v_nonneg", "v >= 0")]

    audits = []
    for src_name, rows in (
        ("alpha", [("alpha", 1.0), ("alpha", -9.0), ("alpha", 2.0)]),
        ("beta", [("beta", 5.0), ("beta", -1.0)]),
    ):
        batch = spark.createDataFrame(rows, "src string, v double")
        before = gold.latest_version()
        # partitioned landing: quarantine mode splits, clean dir carries
        # the src partition spec for manifest-level pruning
        clean, bad = validate_split(batch, checks)
        gold.append(clean, partition={"src": src_name})
        quarantine.append(bad)
        mv.refresh()
        audits.append(
            {tuple(r) for r in gold.changes(before).select("src", "v").collect()}
        )

    assert audits[0] == {("alpha", 1.0), ("alpha", 2.0)}
    assert audits[1] == {("beta", 5.0)}
    got = {r.src: (r.n, r.sum_value) for r in mv.result().collect()}
    assert got == {"alpha": (2, 3.0), "beta": (1, 5.0)}
    assert quarantine.read().count() == 2
    # manifest-level pruning: the beta filter never lists alpha's dir
    pruned = gold.read(where={"src": "beta"})
    manifest = gold._manifest(gold.latest_version())
    alpha_dir = next(
        d for d, p in manifest["partitions"].items() if p == {"src": "alpha"}
    )
    assert not any(alpha_dir in f for f in pruned.inputFiles())
    assert {tuple(r) for r in pruned.collect()} == {("beta", 5.0)}


def test_incremental_mv_restore_to_consumed_snapshot_is_noop(spark, tmp_path):
    """RESTORE back to the exact snapshot the view consumed advances the
    source version without changing the dir set — refresh must be a
    noop (review finding: it previously tried to read zero parquet
    paths and crashed)."""
    from hapiy_etl_spark.operators.incremental_mv import IncrementalAggView

    src = TxTable(spark, str(tmp_path / "src"))
    src.append(spark.createDataFrame([("a", 1.0)], "k string, v double"))
    mv = IncrementalAggView(spark, src, str(tmp_path / "mv"), ["k"], "v")
    mv.refresh()
    src.restore(src.latest_version())  # no-op rollback: same dirs, new version
    rep = mv.refresh()
    assert rep["mode"] == "noop"
    assert {r.k: r.n for r in mv.result().collect()} == {"a": 1}


def test_txstore_mixed_layout_append_after_partitioned_merge(spark, tmp_path):
    """ADVICE r6 (high): append() after merge(partition_by=...) used to
    mix a Hive-partitioned dir and a flat dir in one multi-path read,
    which Spark rejects (CONFLICTING_DIRECTORY_STRUCTURES) — one legal
    append wedged the table. The manifest now records each dir's layout
    and read() unions per-layout reader calls, so every read()-based op
    (merge/delete/changes/restore) keeps working across the mix."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.merge(
        spark.createDataFrame([("a", 1), ("b", 2)], "repo string, n long"),
        keys=["repo"],
        partition_by=["repo"],
    )
    v_append = t.append(spark.createDataFrame([("c", 3)], "repo string, n long"))
    assert _rows(t.read()) == [("a", 1), ("b", 2), ("c", 3)]
    assert t.read().schema.simpleString() == "struct<repo:string,n:bigint>"
    # CDF over the mixed span sees exactly the appended rows
    assert _rows(t.changes(v_append - 1, v_append)) == [("c", 3)]
    # merge goes through read() of the mixed snapshot
    t.merge(spark.createDataFrame([("a", 10)], "repo string, n long"), keys=["repo"])
    assert _rows(t.read()) == [("a", 10), ("b", 2), ("c", 3)]
    # restore back to the partitioned snapshot carries its layout map
    t.restore(1)
    assert _rows(t.read()) == [("a", 1), ("b", 2)]
    assert t.read().schema.simpleString() == "struct<repo:string,n:bigint>"


def test_txstore_partition_column_types_pinned(spark, tmp_path):
    """ADVICE r6 (medium): Hive partition values round-trip through
    directory names and Spark re-infers their type on read — a string
    repo '012' silently became integer 12 (collision + retype). The
    written schema recorded in the manifest now pins the types."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.merge(
        spark.createDataFrame([("123", 1), ("012", 2)], "repo string, n long"),
        keys=["repo"],
        partition_by=["repo"],
    )
    assert t.read().schema.simpleString() == "struct<repo:string,n:bigint>"
    assert _rows(t.read()) == [("012", 2), ("123", 1)]
    # the merge key survives retyping: merging on '012' updates, not duplicates
    t.merge(spark.createDataFrame([("012", 20)], "repo string, n long"), keys=["repo"])
    assert _rows(t.read()) == [("012", 20), ("123", 1)]


def test_txstore_changes_survives_optimize_with_keys(spark, tmp_path):
    """VERDICT r6 item 5: changes(keys=...) over an
    append→OPTIMIZE→append span falls back to a keyed row-level diff
    and returns exactly the appended rows (the compaction rewrote
    files but changed no rows); a span that genuinely updated or
    deleted rows still raises — rows-added CDF cannot represent it."""
    t = TxTable(spark, str(tmp_path / "t"))
    v1 = t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.append(spark.createDataFrame([(3, "c")], "k long, v string"))
    t.optimize()  # pure compaction: rewrites every dir, changes no rows
    v4 = t.append(spark.createDataFrame([(4, "d")], "k long, v string"))

    # without keys the rewritten span still refuses
    with pytest.raises(ValueError, match="non-append"):
        t.changes(v1)
    # with keys: exactly the rows appended after v1, fast-path schema
    got = t.changes(v1, v4, keys=["k"])
    assert got.columns == ["k", "v"]
    assert _rows(got) == [(3, "c"), (4, "d")]

    # a deletion inside the span is not representable as rows-added
    t.delete_where("k = 2")
    with pytest.raises(ValueError, match="updated or\\s+deleted"):
        t.changes(v1, keys=["k"])
    # ... and an update (merge) isn't either
    t2 = TxTable(spark, str(tmp_path / "t2"))
    w1 = t2.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    t2.merge(spark.createDataFrame([(1, "A"), (9, "z")], "k long, v string"), keys=["k"])
    with pytest.raises(ValueError, match="updated or\\s+deleted"):
        t2.changes(w1, keys=["k"])


def test_txstore_dir_stats_range_pruned_read(spark, tmp_path):
    """Per-dir column min/max stats (Iceberg-style file statistics at
    dir granularity): append(stats_cols=...) records each batch's
    [min, max] from the WRITTEN data; read(where_range=...) skips dirs
    whose range cannot intersect the window — inputFiles proves the
    pruned dir is never listed — and re-applies the range row-level so
    overlapping dirs stay exact. Equality reads consult the same stats;
    datetime bounds normalize to the stored ISO form; restore carries
    the stats map."""
    import datetime as dt

    t = TxTable(spark, str(tmp_path / "t"))
    rows = lambda lo: [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i)) for i in range(lo, lo + 5)
    ]
    t.append(
        spark.createDataFrame(rows(0), "v long, ts timestamp"), stats_cols=["v", "ts"]
    )
    t.append(
        spark.createDataFrame(rows(10), "v long, ts timestamp"), stats_cols=["v", "ts"]
    )
    t.append(
        spark.createDataFrame(rows(20), "v long, ts timestamp"), stats_cols=["v", "ts"]
    )
    m = t._manifest(t.latest_version())
    assert len(m["stats"]) == 3
    low_dir = next(d for d, s in m["stats"].items() if s["v"] == [0, 4])
    high_dir = next(d for d, s in m["stats"].items() if s["v"] == [20, 24])

    # numeric range: [10, 24] excludes the first dir entirely
    df = t.read(where_range={"v": (10, None)})
    assert sorted(r.v for r in df.collect()) == list(range(10, 15)) + list(range(20, 25))
    assert not any(low_dir in f for f in df.inputFiles())
    # boundary rows inside a kept dir are filtered row-level
    df2 = t.read(where_range={"v": (12, 21)})
    assert sorted(r.v for r in df2.collect()) == [12, 13, 14, 20, 21]

    # equality consults stats: v=2 can only live in the first dir
    df3 = t.read(where={"v": 2})
    assert [r.v for r in df3.collect()] == [2]
    assert not any(high_dir in f for f in df3.inputFiles())

    # datetime bounds: only the last dir overlaps [2024-01-01T20h, ∞)
    df4 = t.read(where_range={"ts": (dt.datetime(2024, 1, 1, 20), None)})
    assert sorted(r.v for r in df4.collect()) == list(range(20, 25))
    assert not any(low_dir in f for f in df4.inputFiles())

    # restore re-references dirs AND their stats
    t.delete_where("v >= 20")
    t.restore(3)
    assert t._manifest(t.latest_version())["stats"][high_dir]["v"] == [20, 24]
    df5 = t.read(where_range={"v": (None, 4)})
    assert sorted(r.v for r in df5.collect()) == [0, 1, 2, 3, 4]
    assert not any(high_dir in f for f in df5.inputFiles())


def test_streaming_mv_multi_refresh_per_batch(spark, tmp_path):
    """The streaming dynamic table in its multi-aggregate form: two
    micro-batch runs maintain sum/min/max over two value columns plus
    a KMV distinct sketch, each refresh incremental over just that
    batch's dir; a restart with no new data is a noop for table and
    view alike."""
    from hapiy_etl_spark.operators.incremental_mv import IncrementalAggView
    from hapiy_etl_spark.streaming.jobs import foreach_batch_tx_append_with_mv

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")
    view = str(tmp_path / "view")

    def write(rows):
        spark.createDataFrame(rows, "k string, v double, w long, d int").coalesce(
            1
        ).write.mode("append").parquet(src)

    def run():
        stream = spark.readStream.schema("k string, v double, w long, d int").parquet(src)
        foreach_batch_tx_append_with_mv(
            stream,
            store,
            ckpt,
            view,
            ["k"],
            value_cols=["v", "w"],
            distinct_col="d",
            kmv_k=64,
        ).awaitTermination()

    def view_rows():
        mv = IncrementalAggView(
            spark,
            TxTable(spark, store),
            view,
            ["k"],
            value_cols=["v", "w"],
            distinct_col="d",
            kmv_k=64,
        )
        return {
            r.k: (r.n, r.sum_v, r.sum_w, r.approx_distinct_d)
            for r in mv.result().collect()
        }

    write([("a", 1.0, 10, 1), ("b", 2.0, 20, 2)])
    run()
    assert view_rows() == {"a": (1, 1.0, 10.0, 1.0), "b": (1, 2.0, 20.0, 1.0)}

    write([("a", 3.0, 30, 2)])
    run()
    assert view_rows() == {"a": (2, 4.0, 40.0, 2.0), "b": (1, 2.0, 20.0, 1.0)}

    tv = TxTable(spark, store).latest_version()
    vv = TxTable(spark, view).latest_version()
    run()
    assert TxTable(spark, store).latest_version() == tv
    assert TxTable(spark, view).latest_version() == vv


def test_txstore_optimize_preserves_partition_layout(spark, tmp_path):
    """optimize(partition_by=...) keeps the Hive layout through
    compaction: without it a compaction silently flattens a partitioned
    table and every later pruned read degrades to a full scan. After
    compacting a merge(partition_by)-laid table plus a flat append into
    one partitioned dir, a filtered read still plans PartitionFilters
    and the pinned schema survives."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.merge(
        spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 3)], "repo string, n long"
        ),
        keys=["repo", "n"],
        partition_by=["repo"],
    )
    t.append(spark.createDataFrame([("c", 4)], "repo string, n long"))
    t.optimize(partition_by=["repo"])
    m = t._manifest(t.latest_version())
    assert len(m["dirs"]) == 1 and m["layouts"][m["dirs"][0]] == ["repo"]
    assert _rows(t.read()) == [("a", 1), ("a", 2), ("b", 3), ("c", 4)]
    assert t.read().schema.simpleString() == "struct<repo:string,n:bigint>"
    df = t.read(where={"repo": "a"})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "repo" in plan, plan[:1200]
    assert _rows(df) == [("a", 1), ("a", 2)]


def test_txstore_delete_range_hint_skips_untouched_dirs(spark, tmp_path):
    """File-level delete pruning: with a range_hint, dirs whose
    recorded stats cannot intersect are carried forward UNTOUCHED —
    the manifest keeps their original dir ids (no rewrite) and their
    stats/spec maps — while intersecting dirs rewrite survivors.
    A hint proving nothing matches commits nothing at all. Dirs
    without stats are conservatively rewritten."""
    t = TxTable(spark, str(tmp_path / "t"))
    mk = lambda lo: spark.createDataFrame(
        [(v, f"r{v}") for v in range(lo, lo + 5)], "v long, s string"
    )
    t.append(mk(0), stats_cols=["v"])
    t.append(mk(10), stats_cols=["v"])
    t.append(mk(20), stats_cols=["v"])
    m_before = t._manifest(t.latest_version())
    low_dir = next(d for d, s in m_before["stats"].items() if s["v"] == [0, 4])
    high_dir = next(d for d, s in m_before["stats"].items() if s["v"] == [20, 24])

    # delete confined to the middle dir: low/high dirs survive AS-IS
    t.delete_where("v >= 12 AND v <= 13", range_hint={"v": (12, 13)})
    m = t._manifest(t.latest_version())
    assert low_dir in m["dirs"] and high_dir in m["dirs"]
    assert len(m["dirs"]) == 3  # two untouched + one rewritten
    assert m["stats"][low_dir]["v"] == [0, 4]  # stats carried forward
    assert sorted(r.v for r in t.read().collect()) == (
        list(range(0, 5)) + [10, 11, 14] + list(range(20, 25))
    )

    # hint proving nothing matches: NO new commit
    v = t.latest_version()
    assert t.delete_where("v > 100 AND v < 200", range_hint={"v": (101, 199)}) == v
    assert t.latest_version() == v

    # without a hint: full rewrite (single fresh dir), same rows minus deleted
    t.delete_where("v = 0")
    m2 = t._manifest(t.latest_version())
    assert len(m2["dirs"]) == 1
    assert sorted(r.v for r in t.read().collect()) == (
        [1, 2, 3, 4] + [10, 11, 14] + list(range(20, 25))
    )


def test_txstore_delete_where_ansi_null_semantics(spark, tmp_path):
    """SQL DELETE removes rows where the condition is TRUE — a NULL
    condition (range test on a null column) KEEPS the row. The naive
    NOT(cond) filter silently dropped null-condition rows."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, 5.0), (2, None), (3, 50.0)], "k long, v double"
        )
    )
    t.delete_where("v < 10")
    assert _rows(t.read()) == [(2, None), (3, 50.0)]


def test_txstore_pruning_conservative_on_cross_type_and_nan(spark, tmp_path):
    """Review r7: metadata pruning must KEEP a dir whenever the
    comparison is not provably type-consistent and totally ordered —
    a datetime filter vs a string partition spec (Spark's row filter
    CASTS and can match), and NaN bounds (no total order) must never
    prune. Datetime stats round-trip as epoch-micro NUMBERS, so they
    stay distinguishable from user string data."""
    import datetime as dt

    t = TxTable(spark, str(tmp_path / "t"))
    # string 'day' column declared as a partition spec
    t.append(
        spark.createDataFrame(
            [("2024-01-05", 1)], "day string, v long"
        ),
        partition={"day": "2024-01-05"},
    )
    # datetime equality filter: the spec is a plain string — cross-type,
    # must be read and row-filtered (Spark casts the string column)
    df = t.read(where={"day": dt.datetime(2024, 1, 5)})
    assert df.count() == 1  # kept: row filter matches via cast

    # NaN in data: stats record the bound as unusable, never prune
    t2 = TxTable(spark, str(tmp_path / "t2"))
    t2.append(
        spark.createDataFrame(
            [(1.0,), (2.0,), (float("nan"),)], "v double"
        ),
        stats_cols=["v"],
    )
    m = t2._manifest(t2.latest_version())
    (rng,) = [s["v"] for s in m["stats"].values()]
    assert rng == [None, None]  # NaN max → recorded unusable
    assert t2.read(where={"v": 2.0}).count() == 1  # dir kept, row-filtered

    # datetime stats are numeric in the manifest and still prune
    t3 = TxTable(spark, str(tmp_path / "t3"))
    t3.append(
        spark.createDataFrame(
            [(dt.datetime(2024, 1, 1),)], "ts timestamp"
        ),
        stats_cols=["ts"],
    )
    t3.append(
        spark.createDataFrame(
            [(dt.datetime(2024, 6, 1),)], "ts timestamp"
        ),
        stats_cols=["ts"],
    )
    m3 = t3._manifest(t3.latest_version())
    assert all(
        isinstance(s["ts"][0], int) for s in m3["stats"].values()
    )  # epoch micros, not ISO strings
    df3 = t3.read(where_range={"ts": (dt.datetime(2024, 5, 1), None)})
    assert df3.count() == 1
    jan_dir = next(
        d
        for d, s in m3["stats"].items()
        if s["ts"][0] < 1_710_000_000_000_000
    )
    assert not any(jan_dir in f for f in df3.inputFiles())


def test_txstore_merge_file_pruning(spark, tmp_path):
    """Delta-style MERGE file pruning: with prune_col, dirs whose
    recorded key range cannot contain any batch key carry forward
    untouched (same dir ids — no rewrite), only the overlapping tail
    joins the upsert, new keys land in the rewritten dir, and the
    rewritten dir gets union-bounds stats so the NEXT merge keeps
    pruning. Without stats or with an overlapping batch, behavior
    degrades to the plain full merge — correct always."""
    t = TxTable(spark, str(tmp_path / "t"))
    mk = lambda lo, hi: spark.createDataFrame(
        [(k, f"v{k}") for k in range(lo, hi)], "k long, v string"
    )
    t.append(mk(0, 100), stats_cols=["k"])
    t.append(mk(100, 200), stats_cols=["k"])
    t.append(mk(200, 300), stats_cols=["k"])
    m_before = t._manifest(t.latest_version())
    old_dirs = {d for d, s in m_before["stats"].items() if s["k"][1] < 200}
    assert len(old_dirs) == 2

    # batch overlaps only the newest dir (updates 290-299, inserts 300-309)
    batch = spark.createDataFrame(
        [(k, f"NEW{k}") for k in range(290, 310)], "k long, v string"
    )
    t.merge(batch, keys=["k"], prune_col="k")
    m = t._manifest(t.latest_version())
    assert old_dirs <= set(m["dirs"])  # both old dirs untouched
    assert len(m["dirs"]) == 3  # 2 carried + 1 rewritten
    rewritten = next(d for d in m["dirs"] if d not in m_before["dirs"])
    assert m["stats"][rewritten]["k"] == [200, 309]  # union bounds
    rows = {r.k: r.v for r in t.read().collect()}
    assert len(rows) == 310
    assert rows[295] == "NEW295" and rows[305] == "NEW305" and rows[5] == "v5"

    # next merge in the same range STILL prunes (stats carried through)
    t.merge(
        spark.createDataFrame([(305, "X")], "k long, v string"),
        keys=["k"],
        prune_col="k",
    )
    m2 = t._manifest(t.latest_version())
    assert old_dirs <= set(m2["dirs"])
    assert {r.v for r in t.read().where("k = 305").collect()} == {"X"}

    # batch spanning everything: full rewrite, single dir, still exact
    t.merge(
        spark.createDataFrame([(0, "Z"), (309, "Z")], "k long, v string"),
        keys=["k"],
        prune_col="k",
    )
    assert len(t._manifest(t.latest_version())["dirs"]) == 1
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows[0] == "Z" and rows[309] == "Z" and len(rows) == 310

    with pytest.raises(ValueError, match="must be one of keys"):
        t.merge(batch, keys=["k"], prune_col="v")


def test_txstore_merge_pruning_review_edges(spark, tmp_path):
    """Review r7 follow-ups pinned: (1) a touched dir with recorded-but-
    unusable stats ([None,None] from a NaN bound) must leave the
    rewritten dir's range UNRECORDED — stamping batch-only bounds made
    a later equality read silently drop the carried rows; (2) tz-aware
    datetime bounds normalize instead of crashing; (3) the
    schema-evolution merge refuses prune_col (untouched dirs would
    stay on the old schema)."""
    import datetime as dt

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1.0, "a"), (2.0, "b"), (float("nan"), "n")],
                              "k double, v string"),
        stats_cols=["k"],
    )
    t.merge(
        spark.createDataFrame([(100.0, "X")], "k double, v string"),
        keys=["k"],
        prune_col="k",
    )
    m = t._manifest(t.latest_version())
    (d,) = m["dirs"]
    # unknown true range: either unrecorded or recorded-unusable
    # ([None, None]) — both keep the dir; batch-only bounds would not
    assert m.get("stats", {}).get(d, {}).get("k") in (None, [None, None])
    assert t.read(where={"k": 2.0}).count() == 1  # no silent loss

    # tz-aware bound: same result as the naive UTC equivalent, no crash
    t2 = TxTable(spark, str(tmp_path / "t2"))
    t2.append(
        spark.createDataFrame([(dt.datetime(2024, 1, 1),), (dt.datetime(2024, 1, 10),)],
                              "ts timestamp"),
        stats_cols=["ts"],
    )
    aware = dt.datetime(2024, 1, 5, tzinfo=dt.timezone.utc)
    assert t2.read(where_range={"ts": (aware, None)}).count() == 1

    with pytest.raises(ValueError, match="allow_missing_columns"):
        t2.merge(
            spark.createDataFrame([(dt.datetime(2024, 2, 1),)], "ts timestamp"),
            keys=["ts"],
            prune_col="ts",
            allow_missing_columns=True,
        )


def test_txstore_vacuum_after_pruned_ops(spark, tmp_path):
    """Pruned deletes/merges re-reference untouched dirs across
    versions: vacuum must keep every dir the retained manifests still
    name (even ones first written many versions ago) and drop only the
    superseded rewrites."""
    t = TxTable(spark, str(tmp_path / "t"))
    mk = lambda lo: spark.createDataFrame(
        [(k, f"v{k}") for k in range(lo, lo + 10)], "k long, v string"
    )
    t.append(mk(0), stats_cols=["k"])
    t.append(mk(100), stats_cols=["k"])
    t.append(mk(200), stats_cols=["k"])
    old_dirs = set(t._manifest(3)["dirs"])
    # two pruned rewrites of the tail; the low dirs ride along untouched
    t.merge(
        spark.createDataFrame([(205, "X")], "k long, v string"),
        keys=["k"], prune_col="k",
    )
    t.delete_where("k = 206", range_hint={"k": (206, 206)})
    live = set(t._manifest(t.latest_version())["dirs"])
    assert len(live & old_dirs) == 2  # the two low dirs still live
    removed = t.vacuum(keep_last=1, min_age_s=0)
    # dropped: v3's tail dir + the merge's rewrite (superseded by the
    # delete's rewrite); never a still-referenced dir
    assert not (set(removed) & live)
    assert {r.k for r in t.read().collect()} == (
        set(range(0, 10)) | set(range(100, 110)) | {200,201,202,203,204,205,207,208,209}
    )


def test_streaming_mv_histogram_panel(spark, tmp_path):
    """The streaming dynamic table maintains the quantile panel: the
    histogram partial merges per batch and the finalized approx p50
    lands within the sketch's relative-error bound."""
    from hapiy_etl_spark.operators.incremental_mv import IncrementalAggView
    from hapiy_etl_spark.streaming.jobs import foreach_batch_tx_append_with_mv

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")
    view = str(tmp_path / "view")

    def write(rows):
        spark.createDataFrame(rows, "k string, v double").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema("k string, v double").parquet(src)
        foreach_batch_tx_append_with_mv(
            stream, store, ckpt, view, ["k"],
            value_cols=["v"], histogram_col="v", quantiles=(0.5,),
        ).awaitTermination()

    write([("a", float(v)) for v in range(1, 501)])
    run()
    write([("a", float(v)) for v in range(501, 1001)])
    run()
    mv = IncrementalAggView(
        spark, TxTable(spark, store), view, ["k"],
        value_cols=["v"], histogram_col="v", quantiles=(0.5,),
    )
    row = mv.result().collect()[0]
    rel = 10 ** (1 / 8)
    assert row.n == 1000 and 500 / rel <= row.approx_p50_v <= 500 * rel


def test_txstore_pruned_merge_race_no_lost_update(spark, tmp_path):
    """Two pruned merges racing on DISJOINT key ranges: the loser's
    optimistic retry re-reads the interloper's snapshot (touched dirs
    are recomputed per attempt), so BOTH updates survive and the
    untouched low dir rides through both commits."""
    t = TxTable(spark, str(tmp_path / "t"))
    mk = lambda lo: spark.createDataFrame(
        [(k, f"v{k}") for k in range(lo, lo + 10)], "k long, v string"
    )
    t.append(mk(0), stats_cols=["k"])
    t.append(mk(100), stats_cols=["k"])
    t.append(mk(200), stats_cols=["k"])
    low_dir = next(
        d for d, s in t._manifest(3)["stats"].items() if s["k"] == [0, 9]
    )

    interloper = TxTable(spark, str(tmp_path / "t"))

    class RaceOnce(TxTable):
        raced = False

        def _commit(self, parent, dirs, op, *args, **kwargs):
            if not RaceOnce.raced and op == "merge":
                RaceOnce.raced = True
                interloper.merge(
                    spark.createDataFrame([(105, "MID")], "k long, v string"),
                    keys=["k"],
                    prune_col="k",
                )
            return super()._commit(parent, dirs, op, *args, **kwargs)

    racer = RaceOnce(spark, str(tmp_path / "t"))
    racer.merge(
        spark.createDataFrame([(205, "TOP")], "k long, v string"),
        keys=["k"],
        prune_col="k",
    )
    rows = {r.k: r.v for r in racer.read().collect()}
    assert rows[105] == "MID" and rows[205] == "TOP"  # no lost update
    assert len(rows) == 30
    assert low_dir in racer._manifest(racer.latest_version())["dirs"]


def test_txstore_bloom_point_lookup_pruning(spark, tmp_path):
    """Per-dir Bloom filters: point lookups on an UNORDERED key (where
    min/max cannot help — every dir spans the same hash range) skip
    dirs whose bloom proves the key absent; a present key always reads
    its dir (no false negatives, ever); blooms ride through restore;
    cross-type probes are skipped, never pruned on."""
    import hashlib

    t = TxTable(spark, str(tmp_path / "t"))
    mk = lambda lo: spark.createDataFrame(
        [(hashlib.md5(str(k).encode()).hexdigest(), k) for k in range(lo, lo + 50)],
        "doc_id string, n long",
    )
    t.append(mk(0), bloom_cols=["doc_id"])
    t.append(mk(1000), bloom_cols=["doc_id"])
    t.append(mk(2000), bloom_cols=["doc_id"])

    target = hashlib.md5(b"1007").hexdigest()  # lives in dir 2 only
    df = t.read(where={"doc_id": target})
    assert [r.n for r in df.collect()] == [1007]
    touched = dirs_read(df)
    assert len(touched) < 3, "bloom must prune at least one dir"

    # absent key: typically every dir pruned (false positives allowed,
    # wrong answers not) — result is exact either way
    absent = t.read(where={"doc_id": "not-a-real-hash"})
    assert absent.count() == 0

    # restore carries the blooms
    t.delete_where("n = 0")
    t.restore(3)
    df2 = t.read(where={"doc_id": target})
    assert [r.n for r in df2.collect()] == [1007]
    assert len(dirs_read(df2)) < 3

    # integer-key bloom too
    t2 = TxTable(spark, str(tmp_path / "t2"))
    t2.append(spark.createDataFrame([(i,) for i in range(100)], "k long"),
              bloom_cols=["k"])
    t2.append(spark.createDataFrame([(i,) for i in range(5000, 5100)], "k long"),
              bloom_cols=["k"])
    df3 = t2.read(where={"k": 5050})
    assert df3.count() == 1
    assert len(dirs_read(df3)) == 1


def test_txstore_bloom_review_edges(spark, tmp_path):
    """Review r7 (bloom wave) pinned: (1) an out-of-range int probe on
    a narrow column skips the bloom instead of crashing on the ANSI
    cast; (2) OPTIMIZE carries an OR-union bloom so point lookups keep
    pruning after compaction; (3) unsupported bloom column types and
    bad geometry are rejected at build time."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(i,) for i in range(100)], "k long").withColumn(
            "k", F.col("k").cast("int")
        ),
        bloom_cols=["k"],
    )
    # out-of-range probe for int: no crash, exact empty result
    assert t.read(where={"k": 2**35}).count() == 0

    # optimize carries the unioned bloom
    t2 = TxTable(spark, str(tmp_path / "t2"))
    t2.append(spark.createDataFrame([(i,) for i in range(50)], "k long"),
              bloom_cols=["k"])
    t2.append(spark.createDataFrame([(i,) for i in range(5000, 5050)], "k long"),
              bloom_cols=["k"])
    t2.optimize()
    m = t2._manifest(t2.latest_version())
    (d,) = m["dirs"]
    assert "k" in m.get("blooms", {}).get(d, {})
    t2.append(spark.createDataFrame([(i,) for i in range(9000, 9050)], "k long"),
              bloom_cols=["k"])
    df = t2.read(where={"k": 9001})
    assert df.count() == 1
    assert len(dirs_read(df)) == 1  # compacted dir bloom-pruned

    with pytest.raises(ValueError, match="bloom_bits"):
        t2.append(spark.createDataFrame([(1,)], "k long"),
                  bloom_cols=["k"], bloom_bits=100)
    with pytest.raises(ValueError, match="blooms support"):
        t2.append(spark.createDataFrame([(1.5,)], "v double"),
                  bloom_cols=["v"])


def test_txstore_append_metadata_bounds_written_rows(spark, tmp_path):
    """ADVICE r7 (medium): stats/blooms must be computed from the
    WRITTEN files, not a re-execution of the input plan. A
    non-deterministic batch (unseeded rand keys) evaluated once for
    the write and again for the metadata records bounds that miss the
    committed rows; the read-back implementation cannot. Every written
    key must fall inside the recorded range and probe positive against
    the recorded bloom (no false negatives, ever)."""
    t = TxTable(spark, str(tmp_path / "t"))
    nondet = spark.range(500).select(
        F.floor(F.rand() * 10_000_000).cast("long").alias("k")
    )
    t.append(nondet, stats_cols=["k"], bloom_cols=["k"])
    m = t._manifest(t.latest_version())
    (d,) = m["dirs"]
    lo, hi = m["stats"][d]["k"]
    written = sorted(r.k for r in t.read().collect())
    assert lo == written[0] and hi == written[-1]
    # bloom: every written key must be "maybe present" — a wrongly
    # pruned read here is exactly the silent row loss the fix closes
    for k in written[:5] + written[-5:]:
        assert t.read(where={"k": int(k)}).count() >= 1


def test_txstore_append_bad_bloom_col_leaves_no_orphan_dir(spark, tmp_path):
    """Metadata is now derived after the write, so a rejected
    bloom column must clean up its never-committed spool dir."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1,)], "k long"))
    with pytest.raises(ValueError, match="blooms support"):
        t.append(spark.createDataFrame([(1.5,)], "v double"), bloom_cols=["v"])
    data_dirs = {p.name for p in (tmp_path / "t" / "data").iterdir()}
    assert data_dirs == set(t._manifest(t.latest_version())["dirs"])


def test_txstore_meta_cmp_huge_int_vs_float_conservative(spark, tmp_path):
    """ADVICE r7 (low): Python compares int-vs-float exactly, Spark's
    row filter coerces bigint to double — beyond 2^53 the verdicts can
    disagree, so the pruner must declare the pair incomparable (keep
    the dir) instead of pruning on exact arithmetic."""
    from hapiy_etl_spark.operators.txstore import _meta_cmp, _meta_eq

    assert _meta_cmp(2**53 + 1, float(2**53)) is None
    assert _meta_cmp(float(2**53), 2**53 + 1) is None
    assert _meta_eq(2**53 + 1, float(2**53 + 1)) is None
    # inside the safe window exact mixed compares still prune
    assert _meta_cmp(10, 9.5) is False
    assert _meta_cmp(9.0, 10) is True

    # integration: double stats, huge-int probe -> dir conservatively kept
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(float(2**53),)], "v double"), stats_cols=["v"]
    )
    df = t.read(where_range={"v": (2**53 + 1, None)})
    assert len(dirs_read(df)) == 1  # kept, not pruned; row filter decides


def test_txstore_changes_keyed_fallback_requires_unique_keys(spark, tmp_path):
    """ADVICE r7 (low): the keyed CDF fallback is a row diff BY KEY —
    on a table with duplicate keys it silently under-reports appends,
    so the precondition is now enforced with a loud error."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (1, "a")], "k long, v string"))
    v1 = t.latest_version()
    t.optimize()  # rewrite: fast path off, keyed fallback engaged
    t.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    with pytest.raises(ValueError, match="not unique"):
        t.changes(v1, keys=["k"]).collect()


def test_tx_append_pre_run_skip_warns(spark, tmp_path, caplog):
    """ADVICE r7 (low): the pre-run-tracking same-epoch skip is an
    accepted ambiguity — but it must be AUDITABLE, not silent."""
    import logging

    from hapiy_etl_spark.streaming.jobs import tx_append_once

    store = str(tmp_path / "store")
    b = lambda rows: spark.createDataFrame(rows, "k long, v string")
    assert tx_append_once(b([(1, "a")]), store, 0) is True  # legacy commit
    with caplog.at_level(logging.WARNING, logger="hapiy_etl_spark.streaming.jobs"):
        assert tx_append_once(b([(1, "a")]), store, 0, run_id="runA") is False
    assert any("skipping epoch" in r.message for r in caplog.records)


def test_txstore_merge_carries_bloom_partials(spark, tmp_path):
    """VERDICT r7 task 5: blooms survive MERGE. The rewritten dir gets
    OR(touched blooms) | bloom(batch) — every merged row is either a
    touched survivor or a batch row, so the union is a superset bloom
    for every column. Point lookups keep pruning after the upserts
    that merge-heavy tables see most."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(i, i * 10) for i in range(100)], "k long, v long"),
        stats_cols=["k"], bloom_cols=["k"],
    )
    t.append(
        spark.createDataFrame(
            [(i, i * 10) for i in range(5000, 5100)], "k long, v long"
        ),
        stats_cols=["k"], bloom_cols=["k"],
    )
    # pruned merge touching only the low dir
    t.merge(
        spark.createDataFrame([(5, -1), (120, -2)], "k long, v long"),
        keys=["k"], prune_col="k",
    )
    m = t._manifest(t.latest_version())
    rewritten = [d for d in m["dirs"] if d not in m.get("blooms", {})]
    assert rewritten == []  # every dir blooms, including the merged one
    # lookups: updated key, new key, untouched-dir key — all prune to 1 dir
    for k, v in ((5, -1), (120, -2), (5050, 50500)):
        df = t.read(where={"k": k})
        assert [(r.k, r.v) for r in df.collect()] == [(k, v)]
        assert len(dirs_read(df)) == 1

    # fully-pruned merge (no overlap): batch-only dir inherits geometry
    t.merge(
        spark.createDataFrame([(9000, 1)], "k long, v long"),
        keys=["k"], prune_col="k",
    )
    m2 = t._manifest(t.latest_version())
    assert all(d in m2.get("blooms", {}) for d in m2["dirs"])
    df = t.read(where={"k": 9000})
    assert df.count() == 1 and len(dirs_read(df)) == 1


def test_txstore_merge_bloom_schema_evolution_conservative(spark, tmp_path):
    """A schema-evolution merge: a bloomed column missing from the
    batch keeps the touched-union bloom (batch adds only NULLs); a
    batch column with a DIFFERENT type than the recorded bloom records
    no bloom at all (not provably hash-consistent)."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long"),
        bloom_cols=["k", "v"],
    )
    t.merge(
        spark.createDataFrame([("c",)], "k string"),
        keys=["k"], allow_missing_columns=True,
    )
    m = t._manifest(t.latest_version())
    (d,) = m["dirs"]
    bl = m.get("blooms", {}).get(d, {})
    assert set(bl) == {"k", "v"}  # v carried from touched union alone
    for key in ("a", "b", "c"):
        assert t.read(where={"k": key}).count() == 1


def test_incremental_mv_avg_null_semantics(spark, tmp_path):
    """ADVICE r7 (low): avg finalizes as sum / NON-NULL count (SQL AVG),
    not sum / row count — and an all-NULL group yields NULL, consistent
    with its min/max. Verified across an incremental refresh so the
    per-column count partial provably merges."""
    from hapiy_etl_spark.operators.incremental_mv import IncrementalAggView

    src = TxTable(spark, str(tmp_path / "src"))
    mv = IncrementalAggView(
        spark, src, str(tmp_path / "mv"), ["g"], value_cols=["v"]
    )
    schema = "g string, v double"
    src.append(spark.createDataFrame([("a", 10.0), ("a", None), ("n", None)], schema))
    assert mv.refresh()["mode"] == "full"
    src.append(spark.createDataFrame([("a", 20.0), ("n", None)], schema))
    assert mv.refresh()["mode"] == "incremental"
    got = {r.g: (r.n, r.avg_v, r.sum_v) for r in mv.result().collect()}
    assert got["a"] == (3, 15.0, 30.0)  # avg over the 2 non-null values
    assert got["n"] == (2, None, None)  # all-NULL group: NULL, no div-by-0


def test_incremental_mv_legacy_partial_schema_full_rebuild(spark, tmp_path):
    """A view materialized by an engine WITHOUT the per-column non-null
    count partials triggers a full rebuild on its next refresh instead
    of a broken (or silently wrong) partial union."""
    from hapiy_etl_spark.operators.incremental_mv import IncrementalAggView

    src = TxTable(spark, str(tmp_path / "src"))
    mv = IncrementalAggView(spark, src, str(tmp_path / "mv"), ["g"], "v")
    src.append(spark.createDataFrame([("a", 1.0)], "g string, v double"))
    mv.refresh()
    # simulate the pre-cnt engine: strip the count partial, keep meta
    meta = mv.view._manifest(mv.view.latest_version())["meta"]
    mv.view.overwrite(mv.view.read().drop("cnt_v"), meta=meta)
    src.append(spark.createDataFrame([("a", 3.0)], "g string, v double"))
    assert mv.refresh()["mode"] == "full"
    (row,) = mv.result().collect()
    assert (row.g, row.n, row.avg_value) == ("a", 2, 2.0)


def test_txstore_merge_carries_all_column_stats(spark, tmp_path):
    """r8: a merge's rewritten dir keeps [min, max] for EVERY recorded
    column (union of touched ranges ∪ batch range), not just prune_col
    — so range-pruned reads on secondary columns (time slices over a
    key-merged table) survive upserts. Bounds may be wider than actual
    (conservative) but never miss a row."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(i, 1000 + i) for i in range(50)], "k long, ts long"
        ),
        stats_cols=["k", "ts"],
    )
    t.append(
        spark.createDataFrame(
            [(5000 + i, 9000 + i) for i in range(50)], "k long, ts long"
        ),
        stats_cols=["k", "ts"],
    )
    t.merge(
        spark.createDataFrame([(5, 1205), (60, 1260)], "k long, ts long"),
        keys=["k"],
        prune_col="k",
    )
    m = t._manifest(t.latest_version())
    stats = m.get("stats", {})
    assert all(set(stats.get(d, {})) == {"k", "ts"} for d in m["dirs"])
    # rewritten (low) dir: union bounds cover survivors AND batch
    rw = [d for d in m["dirs"] if stats[d]["ts"][0] <= 1000][0]
    assert stats[rw]["k"] == [0, 60] and stats[rw]["ts"] == [1000, 1260]
    # a ts-slice read prunes the untouched high dir after the merge
    df = t.read(where_range={"ts": (1200, 1300)})
    assert df.count() == 2 and len(dirs_read(df)) == 1
    # and every row is still reachable (bounds never under-cover)
    assert t.read(where_range={"ts": (9000, 9049)}).count() == 50


def test_txstore_where_in_batch_point_lookup(spark, tmp_path):
    """r8: where_in is the vectorized batch point lookup — ALL bloom
    probes hash in one local job, a dir is kept when ANY listed key
    might be present, and col IN (...) re-applies row-level. Fetching
    many documents by id costs one driver round-trip, not one per key."""
    t = TxTable(spark, str(tmp_path / "t"))
    for base in (0, 1000, 2000, 3000):
        t.append(
            spark.createDataFrame(
                [(base + i, f"v{base + i}") for i in range(100)],
                "k long, v string",
            ),
            stats_cols=["k"],
            bloom_cols=["k"],
        )
    # three keys from the same dir: exactly one dir read
    df = t.read(where_in={"k": [2001, 2002, 2050]})
    assert sorted(r.k for r in df.collect()) == [2001, 2002, 2050]
    assert len(dirs_read(df)) == 1
    # keys across two dirs: both read, other two pruned, rows exact
    df = t.read(where_in={"k": [5, 3099]})
    assert sorted(r.k for r in df.collect()) == [5, 3099]
    assert len(dirs_read(df)) == 2
    # absent keys: every dir pruned (bloom-proved), exact empty result
    df = t.read(where_in={"k": [500, 1500]})
    assert df.count() == 0
    # a type-inconsistent probe skips blooms but stays EXACT via stats
    assert t.read(where_in={"k": [2**40]}).count() == 0
    with pytest.raises(ValueError, match="empty"):
        t.read(where_in={"k": []})
    with pytest.raises(ValueError, match="None"):
        t.read(where_in={"k": [1, None]})


def test_txstore_bloom_positions_many_one_job(spark, tmp_path):
    """The batched probe computes every (entry, literal) pair in a
    single collect — and agrees with the single-probe path bit-for-bit,
    including the None verdict for unreplayable probes."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, "a")], "k long, s string"),
        bloom_cols=["k", "s"],
    )
    m = t._manifest(t.latest_version())
    (d,) = m["dirs"]
    blk, bls = m["blooms"][d]["k"], m["blooms"][d]["s"]
    entries = [(blk, 1), (blk, 999), (bls, "a"), (blk, "wrong-type"), (bls, 7)]
    many = t._bloom_positions_many(entries)
    for e, got in zip(entries, many):
        assert got == t._bloom_positions(*e)
    assert many[3] is None and many[4] is None  # type-inconsistent
    assert all(p is not None for p in many[:3])


def test_txstore_optimize_clustered_restores_pruning(spark, tmp_path):
    """r8: optimize_clustered compacts the snapshot into n range-
    clustered dirs with TIGHT per-dir stats (and blooms) computed from
    the written files — so a compaction IMPROVES dir skipping instead
    of collapsing every range to one table-wide dir. Content is
    identical to the snapshot; reads on the cluster key touch one dir."""
    t = TxTable(spark, str(tmp_path / "t"))
    # three interleaved appends: every dir spans the whole key range,
    # so pre-optimize stats prune NOTHING
    for off in range(3):
        t.append(
            spark.createDataFrame(
                [(i * 3 + off, f"v{i * 3 + off}") for i in range(400)],
                "k long, v string",
            ),
            stats_cols=["k"],
        )
    before = sorted(map(tuple, t.read().collect()))
    df_pre = t.read(where_range={"k": (0, 10)})
    assert len(dirs_read(df_pre)) == 3  # interleaved: nothing prunable

    t.optimize_clustered("k", n_dirs=4, bloom_cols=["k"])
    m = t._manifest(t.latest_version())
    assert len(m["dirs"]) == 4 and m["op"] == "optimize"
    assert sorted(map(tuple, t.read().collect())) == before  # content kept
    # tight non-overlapping ranges: a slice and a point read hit 1 dir
    df = t.read(where_range={"k": (0, 10)})
    assert df.count() == 11 and len(dirs_read(df)) == 1
    df = t.read(where={"k": 1100})
    assert df.count() == 1 and len(dirs_read(df)) == 1
    # recorded bounds cover every dir's actual rows (read-back contract)
    stats = m["stats"]
    for d in m["dirs"]:
        lo, hi = stats[d]["k"]
        rows = sorted(
            r.k for r in spark.read.parquet(str(tmp_path / "t" / "data" / d)).collect()
        )
        assert lo == rows[0] and hi == rows[-1]

    # skewed keys: ties land in one bucket, bounds stay exact
    t2 = TxTable(spark, str(tmp_path / "t2"))
    t2.append(
        spark.createDataFrame([(7,)] * 50 + [(9,)] * 3, "k long"),
        stats_cols=["k"],
    )
    t2.optimize_clustered("k", n_dirs=4)
    assert sorted(r.k for r in t2.read().collect()) == [7] * 50 + [9] * 3
    m2 = t2._manifest(t2.latest_version())
    assert all(rng[0] is not None for rng in (m2["stats"][d]["k"] for d in m2["dirs"]))


def test_txstore_optimize_clustered_carries_bloom_partials(spark, tmp_path):
    """r8 verdict item 6, mirroring test_txstore_merge_carries_bloom_
    partials for the clustered path: a table whose appends bloomed a
    column keeps per-dir blooms through optimize_clustered with NO
    explicit bloom_cols — columns and geometry inherit from the parent
    manifest's newest blooming dir, rebuilt per new dir in the same
    read-back pass that records stats. Point lookups keep pruning
    after the re-clustering."""
    t = TxTable(spark, str(tmp_path / "t"))
    for off in range(3):
        t.append(
            spark.createDataFrame(
                [(i * 3 + off, f"u{i * 3 + off}") for i in range(300)],
                "k long, uid string",
            ),
            stats_cols=["k"],
            bloom_cols=["uid"],
            bloom_bits=1 << 15,
        )
    t.optimize_clustered("k", n_dirs=4)
    m = t._manifest(t.latest_version())
    assert len(m["dirs"]) == 4
    for d in m["dirs"]:
        entry = m.get("blooms", {}).get(d, {}).get("uid")
        assert entry is not None, f"dir {d} lost its uid bloom"
        assert entry["bits"] == 1 << 15  # geometry inherited, not default
    # point lookup on the bloomed (unclustered) column prunes to 1 dir
    df = t.read(where={"uid": "u500"})
    assert df.count() == 1 and len(dirs_read(df)) == 1

    # a parent with NO blooms stays bloom-free (no surprise cost)
    t2 = TxTable(spark, str(tmp_path / "t2"))
    t2.append(spark.createDataFrame([(1, "a")], "k long, uid string"))
    t2.optimize_clustered("k", n_dirs=2)
    assert "blooms" not in t2._manifest(t2.latest_version())


def test_txstore_optimize_clustered_multi_column_zorder(spark, tmp_path):
    """r8 verdict item 5: cluster_by as a LIST Z-orders the rewrite.
    A 20x20 grid lands as interleaved appends (nothing prunable);
    after optimize_clustered(["x", "y"], n_dirs=16) a small
    two-predicate box slice touches ~1 of 16 dirs — single-column
    range clustering cannot do better than every-dir-matching-x.
    Content identical, both-column stats recorded from read-back."""
    rows = [(x, y, x * 100 + y) for x in range(20) for y in range(20)]
    t = TxTable(spark, str(tmp_path / "t"))
    for off in range(3):
        t.append(
            spark.createDataFrame(
                [r for i, r in enumerate(rows) if i % 3 == off],
                "x long, y long, payload long",
            ),
            stats_cols=["x", "y"],
        )
    before = sorted(map(tuple, t.read().collect()))
    pre = t.read(where_range={"x": (0, 4), "y": (0, 4)})
    assert len(dirs_read(pre)) == 3  # interleaved: unprunable

    t.optimize_clustered(["x", "y"], n_dirs=16)
    m = t._manifest(t.latest_version())
    assert m["op"] == "optimize" and len(m["dirs"]) == 16
    assert sorted(map(tuple, t.read().collect())) == before
    # both columns' bounds recorded per dir (stats_cols defaulted)
    for d in m["dirs"]:
        assert set(m["stats"][d]) >= {"x", "y"}
    df = t.read(where_range={"x": (0, 4), "y": (0, 4)})
    assert df.count() == 25
    assert len(dirs_read(df)) <= 3  # z-order: a box hits ~1 of 16 dirs
    # corner boxes across the space stay local too
    df2 = t.read(where_range={"x": (15, 19), "y": (15, 19)})
    assert df2.count() == 25 and len(dirs_read(df2)) <= 3


def test_txstore_optimize_clustered_mixed_layout_keeps_partition_values(
    spark, tmp_path
):
    """Clustering a table whose snapshot mixes Hive-partitioned merge
    dirs with flat appends must carry the partition VALUES through the
    rewrite (they become regular columns in the clustered dirs — same
    content, different layout)."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.merge(
        spark.createDataFrame(
            [("a", 1, 10), ("b", 2, 20)], "repo string, k long, n long"
        ),
        keys=["repo", "k"],
        partition_by=["repo"],
    )
    t.append(
        spark.createDataFrame([("c", 3, 30)], "repo string, k long, n long")
    )
    before = sorted(map(tuple, t.read(merge_schema=True).collect()))
    t.optimize_clustered("k", n_dirs=2)
    assert sorted(map(tuple, t.read().collect())) == before


def test_txstore_optimize_clustered_survives_bucket_column_collision(
    spark, tmp_path
):
    """A real column named ``__b`` must ride through the clustered
    rewrite untouched — the spool bucket column picks a fresh name
    instead of silently replacing it (and then losing it to
    partitionBy)."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            # '__B' (not '__b'): withColumn resolves case-insensitively
            # by default, so a case-variant name collides just the same
            [(i, f"b{i}") for i in range(100)], "k long, __B string"
        ),
        stats_cols=["k"],
    )
    t.optimize_clustered("k", n_dirs=3)
    out = sorted(map(tuple, t.read().collect()))
    assert out == [(i, f"b{i}") for i in range(100)]


def test_incremental_join_mv_late_dim_restart_and_fallback(spark, tmp_path):
    """IncrementalJoinAggView delta rule over two append-only TxTables:
    (a) after EVERY refresh the view equals a from-scratch aggregate of
    the full join; (b) fact rows whose dim key has not arrived stay
    invisible, then surface via the F_old ⋈ ΔD term when the late dim
    batch lands (with history-scan flags reported truthfully); (c) a
    fresh object over the same paths resumes from the stored two-source
    cursor (noop, then incremental); (d) a non-append dim commit forces
    a full rebuild that is still correct."""
    from hapiy_etl_spark.operators.incremental_mv import IncrementalJoinAggView
    from hapiy_etl_spark.operators.txstore import TxTable

    fact = TxTable(spark, str(tmp_path / "fact"))
    dim = TxTable(spark, str(tmp_path / "dim"))
    mv = IncrementalJoinAggView(
        spark, fact, dim, str(tmp_path / "mv"), ["ck"], ["seg"], "v"
    )

    def recompute():
        return {
            (r.seg,): (r.n, r.sum_value, r.avg_value, r.min_value, r.max_value)
            for r in fact.read()
            .join(dim.read(), "ck")
            .groupBy("seg")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("v").cast("decimal(28,4)")).cast("double").alias("sum_value"),
                F.round(
                    F.sum(F.col("v").cast("decimal(28,4)")).cast("double")
                    / F.count("v"),
                    6,
                ).alias("avg_value"),
                F.min("v").alias("min_value"),
                F.max("v").alias("max_value"),
            )
            .collect()
        }

    def view():
        return {
            (r.seg,): (r.n, r.sum_value, r.avg_value, r.min_value, r.max_value)
            for r in mv.result().collect()
        }

    # ck=3 is the LATE dim key: its fact rows land first
    fact.append(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 99.0)], "ck long, v double"
        )
    )
    dim.append(spark.createDataFrame([(1, "A"), (2, "B")], "ck long, seg string"))
    r = mv.refresh()
    assert r["mode"] == "full"
    got = view()
    assert got == recompute()
    assert sum(n for (n, *_rest) in got.values()) == 2  # ck=3 invisible

    # fact-only append: no fact-history scan, dim untouched
    fact.append(spark.createDataFrame([(1, 1.0)], "ck long, v double"))
    r = mv.refresh()
    assert r["mode"] == "incremental" and not r["scanned_fact_history"]
    assert r["new_dim_dirs"] == 0
    assert view() == recompute()

    # late dim batch: ck=3's old fact rows surface through F_old ⋈ ΔD
    dim.append(spark.createDataFrame([(3, "C")], "ck long, seg string"))
    r = mv.refresh()
    assert r["mode"] == "incremental" and r["scanned_fact_history"]
    got = view()
    assert got == recompute()
    assert got[("C",)][0] == 1 and got[("C",)][1] == 99.0

    # restart: cursor lives in the view's commit meta
    mv2 = IncrementalJoinAggView(
        spark, fact, dim, str(tmp_path / "mv"), ["ck"], ["seg"], "v"
    )
    assert mv2.refresh()["mode"] == "noop"
    fact.append(spark.createDataFrame([(3, 1.0)], "ck long, v double"))
    assert mv2.refresh()["mode"] == "incremental"
    mv = mv2
    assert view() == recompute()

    # non-append dim commit (overwrite rewrites its dirs) -> full rebuild
    dim.overwrite(
        spark.createDataFrame(
            [(1, "A"), (2, "B2"), (3, "C")], "ck long, seg string"
        )
    )
    r = mv2.refresh()
    assert r["mode"] == "full"
    assert view() == recompute()


def test_streaming_join_mv_refresh_per_batch(spark, tmp_path):
    """Streaming dynamic table over a JOIN: micro-batches append
    exactly-once to the fact TxTable and incrementally refresh the
    join-aggregate view; a dim append BETWEEN runs heals the view on
    the next micro-batch (facts streamed before their dim row arrived
    surface via F_old ⋈ ΔD); a restart with no new data is a noop."""
    from hapiy_etl_spark.operators.incremental_mv import IncrementalJoinAggView
    from hapiy_etl_spark.streaming.jobs import foreach_batch_tx_append_with_join_mv

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "fact")
    dimp = str(tmp_path / "dim")
    view = str(tmp_path / "view")

    dim = TxTable(spark, dimp)
    dim.append(spark.createDataFrame([(1, "A"), (2, "B")], "ck long, seg string"))

    def write(rows):
        spark.createDataFrame(rows, "ck long, v double").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema("ck long, v double").parquet(src)
        foreach_batch_tx_append_with_join_mv(
            stream, store, ckpt, dimp, view, ["ck"], ["seg"], "v"
        ).awaitTermination()

    def view_rows():
        mv = IncrementalJoinAggView(
            spark, TxTable(spark, store), dim, view, ["ck"], ["seg"], "v"
        )
        return {r.seg: (r.n, r.sum_value) for r in mv.result().collect()}

    # ck=3 streams in before its dim row exists
    write([(1, 1.0), (3, 99.0)])
    run()
    assert view_rows() == {"A": (1, 1.0)}

    # late dim row + another micro-batch: the old fact row surfaces
    dim.append(spark.createDataFrame([(3, "C")], "ck long, seg string"))
    write([(2, 2.0)])
    run()
    assert view_rows() == {"A": (1, 1.0), "B": (1, 2.0), "C": (1, 99.0)}

    # no new data: restart leaves table and view untouched
    tv = TxTable(spark, store).latest_version()
    vv = TxTable(spark, view).latest_version()
    run()
    assert TxTable(spark, store).latest_version() == tv
    assert TxTable(spark, view).latest_version() == vv


def test_incremental_join_mv_multi_with_kmv_sketch(spark, tmp_path):
    """The multi-aggregate + KMV-distinct panel composes through the
    join view unchanged (inherited partial machinery): per-group sums/
    avgs over a join column and an approx-distinct over a fact column
    all maintain incrementally, and equal a from-scratch recompute
    (KMV is exact below k)."""
    from hapiy_etl_spark.operators.incremental_mv import IncrementalJoinAggView

    fact = TxTable(spark, str(tmp_path / "fact"))
    dim = TxTable(spark, str(tmp_path / "dim"))
    mv = IncrementalJoinAggView(
        spark, fact, dim, str(tmp_path / "mv"), ["ck"], ["seg"],
        value_cols=["v"], distinct_col="day",
    )
    dim.append(spark.createDataFrame([(1, "A"), (2, "B")], "ck long, seg string"))
    fact.append(
        spark.createDataFrame(
            [(1, 1.0, "d1"), (1, 2.0, "d2"), (2, 3.0, "d1")],
            "ck long, v double, day string",
        )
    )
    assert mv.refresh()["mode"] == "full"
    fact.append(
        spark.createDataFrame(
            [(1, 4.0, "d2"), (1, None, "d3")], "ck long, v double, day string"
        )
    )
    rep = mv.refresh()
    assert rep["mode"] == "incremental" and not rep["scanned_fact_history"]
    got = {
        r.seg: (r.n, r.sum_v, r.avg_v, r.approx_distinct_day)
        for r in mv.result().collect()
    }
    # avg divides by NON-NULL count (3 values for A), distinct is exact
    assert got == {"A": (4, 7.0, round(7.0 / 3, 6), 3), "B": (1, 3.0, 3.0, 1)}


def test_incremental_join_mv_prunes_fact_history_by_delta_bounds(spark, tmp_path):
    """When the fact table records join-key stats, the F_old ⋈ ΔD term
    prunes consumed fact dirs to those intersecting the dim delta's key
    bounds (stats_prune_dirs) — report-counted — and an all-NULL-key
    dim delta skips the history scan entirely. Results always equal a
    from-scratch recompute (pruned dirs could not have matched)."""
    from hapiy_etl_spark.operators.incremental_mv import IncrementalJoinAggView

    fact = TxTable(spark, str(tmp_path / "fact"))
    dim = TxTable(spark, str(tmp_path / "dim"))
    mv = IncrementalJoinAggView(
        spark, fact, dim, str(tmp_path / "mv"), ["ck"], ["seg"], "v"
    )
    # three stats-carrying fact dirs over disjoint key ranges
    for lo in (0, 100, 200):
        fact.append(
            spark.createDataFrame(
                [(lo + i, float(lo + i)) for i in range(5)], "ck long, v double"
            ),
            stats_cols=["ck"],
        )
    dim.append(
        spark.createDataFrame(
            [(1, "A"), (102, "B"), (203, "C")], "ck long, seg string"
        )
    )
    assert mv.refresh()["mode"] == "full"

    def recompute():
        return {
            r.seg: (r.n, r.sum_value)
            for r in fact.read()
            .join(dim.read(), "ck")
            .groupBy("seg")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("v").cast("decimal(28,4)")).cast("double").alias("sum_value"),
            )
            .collect()
        }

    def view():
        return {r.seg: (r.n, r.sum_value) for r in mv.result().collect()}

    # dim delta entirely inside the middle dir's range: exactly ONE of
    # the three consumed fact dirs is rescanned
    dim.append(spark.createDataFrame([(104, "B")], "ck long, seg string"))
    rep = mv.refresh()
    assert rep["mode"] == "incremental" and rep["scanned_fact_history"]
    assert rep["fact_dirs_rescanned"] == 1
    assert view() == recompute()

    # all-NULL-key dim delta: inner join can match nothing — the
    # history term is skipped outright
    dim.append(
        spark.createDataFrame([(None, "Z")], "ck long, seg string")
    )
    rep = mv.refresh()
    assert rep["mode"] == "incremental"
    assert not rep["scanned_fact_history"] and rep["fact_dirs_rescanned"] == 0
    assert view() == recompute()


def test_streaming_ingest_online_dedup_exactly_once(spark, tmp_path):
    """Streaming ingestion with online near-dedup (r9): each
    micro-batch drops near-dups of the corpus (band join against the
    persisted signature index — no corpus text rescan) and of
    lower-id batch docs (greedy keep-first); survivors append
    exactly-once to the corpus table and their signatures to the
    index with aligned (run, epoch) bookkeeping; a NULL-text doc
    survives without an index row; a restart with no new data is a
    noop on both tables."""
    from hapiy_etl_spark.streaming.jobs import foreach_batch_ingest_dedup

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    corpus, sigp = str(tmp_path / "corpus"), str(tmp_path / "sigs")

    A = " ".join(f"a{i}" for i in range(30))
    B = " ".join(f"b{i}" for i in range(30))
    C = " ".join(f"c{i}" for i in range(30))

    def near(text, tag):
        toks = text.split()
        toks[7] = tag
        return " ".join(toks)

    def write(rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)

    def run():
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        foreach_batch_ingest_dedup(
            stream, corpus, sigp, ckpt
        ).awaitTermination()

    def corpus_ids():
        return sorted(r.doc_id for r in TxTable(spark, corpus).read().collect())

    def sig_ids():
        # band-postings layout: n_bands rows per doc — distinct docs
        return sorted(
            r.doc
            for r in TxTable(spark, sigp).read().select("doc").distinct().collect()
        )

    # batch 1: doc 3 near-dups doc 1 within the batch -> greedy drop
    write([(1, A), (2, B), (3, near(A, "x"))])
    run()
    assert corpus_ids() == [1, 2] and sig_ids() == [1, 2]

    # batch 2: 4 near-dups the INDEX (doc 1), 7 near-dups 5 in-batch,
    # 6 has NULL text (no signature, must survive)
    write([(4, near(A, "y")), (5, C), (6, None), (7, near(C, "z"))])
    run()
    assert corpus_ids() == [1, 2, 5, 6]
    assert sig_ids() == [1, 2, 5]  # NULL-text doc adds no index row

    # the two tables' stream bookkeeping is aligned
    ce, cr = TxTable(spark, corpus).last_stream_state()
    se, sr = TxTable(spark, sigp).last_stream_state()
    assert (ce, cr) == (se, sr) and ce is not None

    # no new data: restart leaves both tables untouched
    cv = TxTable(spark, corpus).latest_version()
    sv = TxTable(spark, sigp).latest_version()
    run()
    assert TxTable(spark, corpus).latest_version() == cv
    assert TxTable(spark, sigp).latest_version() == sv


def test_txstore_vacuumed_version_read_names_cause(spark, tmp_path):
    """Batch-path twin of the stream's vacuumed-offset diagnosis (r9
    review): reading a version below the retained window must name
    vacuum and the recovery, not read as a bare file miss — and a
    version ABOVE latest stays the plain 'no version' error."""
    t = TxTable(spark, str(tmp_path / "t"))
    for i in range(3):
        t.append(spark.createDataFrame([(i,)], "k long"))
    t.vacuum(keep_last=1, min_age_s=0.0)
    with pytest.raises(FileNotFoundError) as ei:
        t.read(version=1)
    msg = str(ei.value)
    assert "vacuumed" in msg and "retention" in msg
    with pytest.raises(FileNotFoundError) as ei2:
        t.read(version=99)
    assert "no version 99" in str(ei2.value)


def test_streaming_sink_auto_compacts_small_files(spark, tmp_path):
    """The small-files policy composed into the exactly-once sink (r9):
    9 single-file micro-batches with auto_compact_max_dirs=3 land all
    rows exactly once while OPTIMIZE runs mid-stream whenever the dir
    count hits the threshold — the final snapshot stays at a bounded
    dir count instead of one-dir-per-epoch, replay state survives the
    interleaved compactions (a restart with no new data is a noop),
    and pruning metadata carries through as union stats. CDC across
    these optimize commits is separately proven by
    test_txtable_change_stream_survives_row_preserving_optimize."""
    from hapiy_etl_spark.streaming.jobs import foreach_batch_tx_append

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "t")
    for i in range(9):
        spark.createDataFrame([(i, f"v{i}")], "k long, v string").coalesce(
            1
        ).write.mode("append").parquet(src)

    def run():
        stream = (
            spark.readStream.schema("k long, v string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        foreach_batch_tx_append(
            stream, store, ckpt, auto_compact_max_dirs=3
        ).awaitTermination()

    run()
    t = TxTable(spark, store)
    assert sorted(map(tuple, t.read().collect())) == [
        (i, f"v{i}") for i in range(9)
    ]
    assert t.n_dirs() < 3  # bounded by the policy, not O(epochs)
    assert any(m.get("op") == "optimize" for m in t.history())

    # restart with no new data: replay detection still works through
    # the optimize commits — nothing appends, nothing re-compacts
    v = t.latest_version()
    run()
    assert TxTable(spark, store).latest_version() == v


def test_ingest_dedup_auto_compacts_both_tables(spark, tmp_path):
    """The small-files policy threaded through the online-dedup ingest
    (r9): with auto_compact_max_dirs, BOTH the corpus table and the
    signature index stay at a bounded dir count across many epochs,
    dedup state survives the interleaved compactions (a text re-sent
    AFTER an optimize is still dropped against the index), and the
    surviving rows equal an uncompacted run's."""
    from hapiy_etl_spark.streaming.jobs import ingest_dedup_batch

    A = " ".join(f"w{i}" for i in range(30))

    def rows_for(epoch):
        if epoch == 5:  # re-sends epoch-1 text: must drop vs the index
            return [(50 + epoch, A)]
        return [(50 + epoch, " ".join(f"e{epoch}t{i}" for i in range(30)))]

    def run(base, max_dirs):
        c, s = str(base / "corpus"), str(base / "sigs")
        for e in range(1, 8):
            b = spark.createDataFrame(
                rows_for(e) if e != 1 else [(1, A)], "doc_id long, text string"
            )
            ingest_dedup_batch(
                b, c, s, epoch_id=e, run_id="r", auto_compact_max_dirs=max_dirs
            )
        return TxTable(spark, c), TxTable(spark, s)

    c1, s1 = run(tmp_path / "plain", None)
    c2, s2 = run(tmp_path / "policy", 3)
    want = sorted(r.doc_id for r in c1.read().collect())
    assert sorted(r.doc_id for r in c2.read().collect()) == want
    assert 55 not in want  # the epoch-5 replayed text was deduped
    assert c1.n_dirs() == 7 and s1.n_dirs() == 7  # one dir per epoch
    assert c2.n_dirs() < 3 and s2.n_dirs() < 3  # bounded by the policy

    # replayed epoch + policy on an OVER-threshold table: nothing
    # appends, so nothing policy-compacts either (review fix — the
    # optimize must not advance versions on a pure replay)
    v1 = c1.latest_version()
    ingest_dedup_batch(
        spark.createDataFrame(rows_for(7), "doc_id long, text string"),
        str(tmp_path / "plain" / "corpus"),
        str(tmp_path / "plain" / "sigs"),
        epoch_id=7,
        run_id="r",
        auto_compact_max_dirs=3,
    )
    assert c1.latest_version() == v1 and c1.n_dirs() == 7


def test_streaming_join_mv_survives_unseeded_dim(spark, tmp_path):
    """ADVICE r9: the join-MV sink called refresh() unconditionally, so
    the first micro-batch KILLED the stream when the dim table had no
    commits yet — after the fact append already committed. The sink now
    defers the refresh (fact commits stay durable, the view's cursor is
    in its own manifest), and the first refresh after the dim lands
    consumes every earlier fact dir through the ordinary dir-diff."""
    from hapiy_etl_spark.operators.incremental_mv import IncrementalJoinAggView
    from hapiy_etl_spark.streaming.jobs import foreach_batch_tx_append_with_join_mv

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "fact")
    dimp = str(tmp_path / "dim")  # NOT seeded before the stream starts
    view = str(tmp_path / "view")

    def write(rows):
        spark.createDataFrame(rows, "ck long, v double").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema("ck long, v double").parquet(src)
        foreach_batch_tx_append_with_join_mv(
            stream, store, ckpt, dimp, view, ["ck"], ["seg"], "v"
        ).awaitTermination()

    write([(1, 1.0), (2, 2.0)])
    run()  # must not raise: fact appended, refresh deferred
    assert TxTable(spark, store).latest_version() == 1
    assert TxTable(spark, view).latest_version() == 0  # nothing to view yet

    # dim lands; the next micro-batch refreshes and the PRE-dim fact
    # rows surface through the full first materialization
    TxTable(spark, dimp).append(
        spark.createDataFrame([(1, "A"), (2, "B")], "ck long, seg string")
    )
    write([(2, 3.0)])
    run()
    mv = IncrementalJoinAggView(
        spark, TxTable(spark, store), TxTable(spark, dimp), view,
        ["ck"], ["seg"], "v",
    )
    got = {r.seg: (r.n, r.sum_value) for r in mv.result().collect()}
    assert got == {"A": (1, 1.0), "B": (2, 5.0)}


def test_online_dedup_index_read_prunes_to_batch_buckets(spark, tmp_path):
    """VERDICT r9's main item: the online-dedup sink used to read the
    WHOLE signature index every micro-batch (O(corpus) per tick). The
    index now lands band postings keyed by a bb bucket, the policy
    compaction re-clusters on bb, and the per-tick read prunes with
    where_in to the batch's present buckets — a narrow batch reads
    strictly fewer dirs than the index holds, with a result identical
    to the unpruned read."""
    from hapiy_etl_spark.operators.dedup import (
        band_postings,
        dedup_against_band_index,
        minhash_signatures,
    )
    from hapiy_etl_spark.operators.txstore import dirs_read
    from hapiy_etl_spark.streaming.jobs import ingest_dedup_batch

    c, s = str(tmp_path / "corpus"), str(tmp_path / "sigs")
    # band_size=8 -> 2 bands/doc -> a 1-doc batch probes <= 2 of the
    # 16 bb buckets, so post-compaction it must skip most dirs
    kw = dict(num_hashes=16, band_size=8, portable=True)
    for e in range(1, 7):
        b = spark.createDataFrame(
            [(100 * e + i, " ".join(f"e{e}d{i}w{j}" for j in range(30)))
             for i in range(3)],
            "doc_id long, text string",
        )
        ingest_dedup_batch(
            b, c, s, epoch_id=e, run_id="r",
            auto_compact_max_dirs=3,
            # explicit geometry: 8 bb-clustered dirs (16 buckets, 2 per
            # dir) so a <=2-bucket probe must skip most of them
            sig_compact_kw={"cluster_by": "bb", "n_dirs": 8},
            **kw,
        )
    sig_t = TxTable(spark, s)
    total = sig_t.n_dirs()
    assert total >= 3  # clustered compaction left a multi-dir snapshot

    probe = spark.createDataFrame(
        [(9999, " ".join(f"probe{j}" for j in range(30)))],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(probe, "doc_id", "text", 3, 16, portable=True)
    bp = band_postings(sigs, 16, 8, True)
    present = sorted(r[0] for r in bp.select("bb").distinct().collect())
    assert len(present) <= 2

    pruned = sig_t.read(where_in={"bb": present})
    assert len(dirs_read(pruned)) < total  # the sink's per-tick read prunes

    full = sig_t.read()
    want = sorted(map(tuple, dedup_against_band_index(
        sigs, full, num_hashes=16, band_size=8, portable=True
    ).collect()))
    got = sorted(map(tuple, dedup_against_band_index(
        sigs, pruned, num_hashes=16, band_size=8, portable=True
    ).collect()))
    assert got == want  # pruning is exact, never lossy


@pytest.mark.parametrize("join", ["broadcast", "shuffle"])
def test_online_dedup_one_join_decision_matches_two_join_composition(
    spark, tmp_path, monkeypatch, join
):
    """ingest_dedup_batch decides its drops in ONE band join of the
    pinned batch postings against themselves and the bucket-pruned
    index rows. Its survivors must equal those of the two-join
    composition it replaced: the batch self-join (keep the lower id of
    a colliding pair) plus the band-index probe. The batch holds an
    in-batch chain a~b~c, a near-dup of an index doc, a NULL-text doc,
    a doc whose id (and text) is already in the index, and a doc whose
    id is LOWER than the index doc it duplicates. Both join strategies
    are checked: a small batch broadcasts its postings, one over the
    size bound shuffles both sides."""
    from collections import Counter

    from hapiy_etl_spark.operators.dedup import (
        band_postings,
        dedup_against_band_index,
        dedup_against_index,
        minhash_signatures,
    )
    from hapiy_etl_spark.streaming import jobs
    from hapiy_etl_spark.streaming.jobs import ingest_dedup_batch

    if join == "shuffle":
        monkeypatch.setattr(jobs, "_DECISION_BROADCAST_BYTES", 0)
    c, s = str(tmp_path / "corpus"), str(tmp_path / "sigs")

    def words(tag):
        return [f"{tag}{i}" for i in range(30)]

    def edit(toks, *pos):
        toks = list(toks)
        for p in pos:
            toks[p] = f"x{p}"
        return " ".join(toks)

    A, B, C = words("a"), words("b"), words("c")
    ingest_dedup_batch(
        spark.createDataFrame(
            [(5, " ".join(A)), (6, " ".join(B))], "doc_id long, text string"
        ),
        c, s, epoch_id=1, run_id="r",
    )
    batch = spark.createDataFrame(
        [
            (10, " ".join(C)),  # chain head
            (11, edit(C, 7)),  # ~ 10
            (12, edit(C, 7, 15)),  # ~ 11
            (13, edit(A, 20)),  # ~ index doc 5
            (14, None),  # NULL text: no signature, survives
            (6, " ".join(B)),  # id and text already in the index
            (2, edit(B, 3)),  # lower id than index doc 6, still a dup
            (20, " ".join(words("d"))),  # fresh
        ],
        "doc_id long, text string",
    )

    # the two-join composition, against the index as it stands now
    kw = dict(num_hashes=16, band_size=2, jaccard_threshold=0.5, portable=True)
    sigs = minhash_signatures(
        batch.where(F.col("text").isNotNull()), "doc_id", "text", 3, 16, portable=True
    )
    present = sorted(
        r[0] for r in band_postings(sigs, 16, 2, True).select("bb").distinct().collect()
    )
    pruned = TxTable(spark, s).read(where_in={"bb": present})
    dropped = {
        r[0]
        for r in dedup_against_index(sigs, sigs, **kw)
        .where(F.col("new_id") > F.col("dup_of"))
        .select("new_id")
        .union(dedup_against_band_index(sigs, pruned, **kw).select("new_id"))
        .collect()
    }
    want = {r[0] for r in batch.select("doc_id").collect()} - dropped

    ingest_dedup_batch(batch, c, s, epoch_id=2, run_id="r")
    landed = Counter(r.doc_id for r in TxTable(spark, c).read().collect())
    got = set((landed - Counter({5: 1, 6: 1})).elements())
    assert got == want
    assert {10, 14, 20} <= got and not ({11, 13, 6, 2} & got)
    # the index gains band postings for exactly the signed survivors
    idx_docs = {
        r[0] for r in TxTable(spark, s).read().select("doc").distinct().collect()
    }
    assert idx_docs == {5, 6} | (got - {14})


def test_tx_commits_tick_with_all_null_commit_ts_keeps_watermark(
    spark, tmp_path
):
    """A tick whose commits all lack both wire dates (NULL commit_ts)
    still lands its rows, and the watermark it takes from the tick's
    own observed max stays where it was: unset on a fresh pipeline,
    unchanged after a dated tick."""
    from hapiy_etl_spark.pipeline.ingest import WIRE_SCHEMA, PipelineConfig
    from hapiy_etl_spark.pipeline.reference_flow import TxCommitsPipeline

    def wire(sha, date):
        return (sha, (("a@x", date), ("c@x", date), "m"))

    class FixedSource:
        """Returns its rows on every fetch, ignoring the watermark."""

        def __init__(self, rows):
            self.rows = rows

        def fetch(self, spark, since):
            return spark.createDataFrame(self.rows, WIRE_SCHEMA)

    cfg = PipelineConfig(repo="r1", owner="o", state_dir=str(tmp_path / "state"))
    pipe = TxCommitsPipeline(cfg, FixedSource([wire("n1", None), wire("n2", None)]), spark)
    assert pipe.run_once(spark) == 2
    assert pipe._wm.get("r1") is None
    assert pipe.state(spark).count() == 2

    pipe.source = FixedSource([wire("d1", "2024-01-01T10:00:00Z")])
    assert pipe.run_once(spark) == 1
    wm = pipe._wm.get("r1")
    assert wm.isoformat() == "2024-01-01T10:00:00"

    pipe.source = FixedSource([wire("n3", None), wire("n4", None)])
    assert pipe.run_once(spark) == 2
    assert pipe._wm.get("r1") == wm
    landed = {r.commit_hash: r.commit_ts for r in pipe.state(spark).collect()}
    assert set(landed) == {"n1", "n2", "d1", "n3", "n4"}
    assert landed["n3"] is None and landed["n4"] is None


def test_online_semdedup_index_read_prunes_to_batch_buckets(spark, tmp_path):
    """The embedding twin: after the policy's (default) cluster_by=
    'bucket' compaction, the per-tick index read for a narrow batch
    touches fewer dirs than the index holds."""
    import random

    from hapiy_etl_spark.operators.txstore import dirs_read
    from hapiy_etl_spark.streaming.jobs import ingest_semdedup_batch

    rng = random.Random(7)

    def vec():
        return [rng.choice([-1, 1]) * rng.uniform(0.1, 1.0) for _ in range(16)]

    idxp = str(tmp_path / "idx")
    for e in range(1, 7):
        b = spark.createDataFrame(
            [(100 * e + i, vec()) for i in range(4)],
            "vec_id long, embedding array<float>",
        )
        ingest_semdedup_batch(
            b, idxp, e, run_id="t", auto_compact_max_dirs=3,
            compact_kw={"cluster_by": "bucket", "n_dirs": 8},
        )
    idx = TxTable(spark, idxp)
    total = idx.n_dirs()
    assert total >= 3

    # one stored row's own bucket: a 1-bucket probe like the one a
    # 1-vector micro-batch would issue
    one = idx.read().select("bucket").where(
        F.col("bucket").isNotNull()
    ).first()[0]
    pruned = idx.read(where_in={"bucket": [one]})
    assert len(dirs_read(pruned)) < total
    # and the pruned read still returns every row of that bucket
    full_n = idx.read().where(F.col("bucket") == one).count()
    assert pruned.count() == full_n


def test_streaming_sink_retention_bounds_disk_and_keeps_cdc_resumable(
    spark, tmp_path
):
    """VERDICT r9 item 3: auto_compact bounds the LIVE snapshot but
    copy-on-write leaves superseded dirs on disk until a vacuum, so an
    always-on stream grows storage O(epochs) forever. The policy's
    vacuum_keep_last knob reclaims them after each compaction; a CDC
    consumer lagging WITHIN the keep window stays resumable across the
    compaction+vacuum, rows stay exactly-once, and on-disk dirs stay
    bounded instead of one-per-epoch."""
    from pathlib import Path

    from hapiy_etl_spark.sources.txtable_source import register
    from hapiy_etl_spark.streaming.jobs import foreach_batch_tx_append

    register(spark)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    cdc_ckpt = str(tmp_path / "cdc_ckpt")
    store = str(tmp_path / "t")

    def write(i):
        spark.createDataFrame([(i, f"v{i}")], "k long, v string").coalesce(
            1
        ).write.mode("append").parquet(src)

    def run():
        stream = (
            spark.readStream.schema("k long, v string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        foreach_batch_tx_append(
            stream,
            store,
            ckpt,
            auto_compact_max_dirs=3,
            auto_compact_kw={
                "vacuum_keep_last": 8,
                "vacuum_min_age_s": 0.0,
            },
        ).awaitTermination()

    def drain_cdc():
        got = []
        q = (
            spark.readStream.format("txtable_changes")
            .option("path", store)
            .load()
            .writeStream.foreachBatch(
                lambda df, eid: got.extend(sorted(map(tuple, df.collect())))
            )
            .option("checkpointLocation", cdc_ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return got

    delivered = []
    # interleave sink epochs with a CDC consumer lagging a few versions
    # behind (one drain per 3 epochs — inside the keep_last=8 window,
    # because each 3-epoch burst advances the table by <= 5 versions:
    # 3 appends + up to 2 policy optimizes — and the drain catches up
    # to latest before the next burst)
    for burst in range(4):
        for i in range(burst * 3, burst * 3 + 3):
            write(i)
        run()
        delivered += drain_cdc()

    # every row exactly once through BOTH the sink and the lagging CDC
    want = [(i, f"v{i}") for i in range(12)]
    t = TxTable(spark, store)
    assert sorted(map(tuple, t.read().collect())) == want
    assert sorted(delivered) == want

    # live snapshot bounded by compaction AND disk bounded by retention:
    # without vacuum, 12 epochs + their copy-on-write optimize outputs
    # leave >= 12 data dirs on disk forever; with it, disk tracks the
    # keep window (dirs referenced by the surviving <= 8 manifests),
    # not stream age
    on_disk = [p for p in (Path(store) / "data").iterdir() if p.is_dir()]
    assert t.n_dirs() < 3
    assert len(on_disk) < 12
    # manifests below the keep window went with their dirs (vacuum
    # fires WITH each compaction, so up to one burst's commits can
    # accumulate on top of the keep window before the next one)
    manifests = list((Path(store) / "_tx").glob("v*.json"))
    assert len(manifests) <= 8 + 3


def test_heal_index_from_changes_decoupled_parity(spark, tmp_path):
    """VERDICT r9 item 5: the decoupled production topology — corpus
    appended by one job, a SEPARATE healer job streaming the corpus's
    change feed into the derived index. The healed index must equal a
    one-shot build over the same corpus (bit-for-bit rows), catch up
    across later corpus appends AND a row-preserving corpus OPTIMIZE,
    and re-deliver nothing on a restart with no new commits."""
    from hapiy_etl_spark.operators.textindex import shingle_postings_build
    from hapiy_etl_spark.streaming.jobs import heal_index_from_changes

    corpus_p = str(tmp_path / "corpus")
    idx_p = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")

    def doc(i):
        return (i, " ".join(f"d{i}w{j}" for j in range(12)))

    corpus = TxTable(spark, corpus_p)
    corpus.append(
        spark.createDataFrame([doc(1), doc(2)], "doc_id long, text string")
    )
    corpus.append(
        spark.createDataFrame([doc(3)], "doc_id long, text string")
    )

    def heal():
        # maxVersionsPerTrigger=1 → one micro-batch per corpus version
        # (the healer replays the append GRAIN, not one blob); the
        # Python streaming source runs one batch per AvailableNow run,
        # so run once per corpus version — enough to drain any backlog
        # (extra runs are exactly-once noops), the same pacing shape
        # test_txtable_change_stream_max_versions_per_trigger pins
        for _ in range(corpus.latest_version() + 1):
            heal_index_from_changes(
                spark, corpus_p, idx_p, ckpt,
                lambda b: shingle_postings_build(b.select("doc_id", "text")),
                stats_cols=["tb"],
                max_versions_per_trigger=1,
            ).awaitTermination()

    def healed_rows():
        return sorted(map(tuple, TxTable(spark, idx_p).read().collect()))

    def oneshot_rows():
        return sorted(
            map(
                tuple,
                shingle_postings_build(corpus.read()).collect(),
            )
        )

    heal()
    assert healed_rows() == oneshot_rows()

    # corpus keeps moving: another append, a row-preserving OPTIMIZE
    # (no-data micro-batch for the healer), one more append
    corpus.append(
        spark.createDataFrame([doc(4)], "doc_id long, text string")
    )
    corpus.optimize()
    corpus.append(
        spark.createDataFrame([doc(5)], "doc_id long, text string")
    )
    heal()
    assert healed_rows() == oneshot_rows()

    # no new commits: the healer appends nothing (exactly-once end to end)
    v = TxTable(spark, idx_p).latest_version()
    heal()
    assert TxTable(spark, idx_p).latest_version() == v


def test_incremental_mv_topk_panel(spark, tmp_path):
    """Heavy-hitter panel (r10): per-group top-k frequent items ride
    the incremental MV's partial machinery via Spark's mergeable
    approx_top_k sketch. Pins: incremental == from-scratch recompute
    in the exact regime, deterministic tie-break (count desc, item
    asc), NULL items ignored, all-NULL group renders '', and a
    capacity overflow raises at construction."""
    import pytest as _pytest

    from hapiy_etl_spark.operators.incremental_mv import IncrementalAggView
    from hapiy_etl_spark.operators.txstore import TxTable

    src = TxTable(spark, str(tmp_path / "src"))
    mv = IncrementalAggView(
        spark, src, str(tmp_path / "mv"), ["g"], "v",
        topk_col="u", topk_k=2, topk_track=64,
    )
    src.append(spark.createDataFrame(
        [("a", 1.0, "x"), ("a", 2.0, "x"), ("a", 3.0, "y"),
         ("a", 4.0, "z"), ("b", 1.0, None), ("b", 2.0, None)],
        "g string, v double, u string",
    ))
    assert mv.refresh()["mode"] == "full"
    got = {r.g: r.top2_u for r in mv.result().collect()}
    # a: x=2 wins; y and z tie at 1 -> item asc picks y. b: all NULL.
    assert got == {"a": "x:2,y:1", "b": ""}

    # incremental append flips the leader and the view follows without
    # rescanning history (mode == incremental)
    src.append(spark.createDataFrame(
        [("a", 5.0, "z"), ("a", 6.0, "z"), ("b", 3.0, "w")],
        "g string, v double, u string",
    ))
    assert mv.refresh()["mode"] == "incremental"
    got = {r.g: r.top2_u for r in mv.result().collect()}
    assert got == {"a": "z:3,x:2", "b": "w:1"}

    # equals a from-scratch recompute over the union
    mv2 = IncrementalAggView(
        spark, src, str(tmp_path / "mv2"), ["g"], "v",
        topk_col="u", topk_k=2, topk_track=64,
    )
    mv2.refresh()
    assert {r.g: r.top2_u for r in mv2.result().collect()} == got

    with _pytest.raises(ValueError, match="exceeds topk_track"):
        IncrementalAggView(
            spark, src, str(tmp_path / "mv3"), ["g"], "v",
            topk_col="u", topk_k=100, topk_track=10,
        )


def test_online_dedup_index_geometry_validated(spark, tmp_path):
    """Review r10: a mismatched bucket modulus / band layout / key kind
    never errors on its own — batch band values simply stop matching
    stored ones and true duplicates are silently admitted. Every sig
    append stamps its geometry; disagreeing callers fail loud, and a
    pre-r10 (doc, sig)-layout index raises the migration error instead
    of an unresolved-column crash mid-join."""
    from hapiy_etl_spark.operators.dedup import minhash_signatures
    from hapiy_etl_spark.streaming.jobs import ingest_dedup_batch

    c, s = str(tmp_path / "corpus"), str(tmp_path / "sigs")
    b1 = spark.createDataFrame(
        [(1, " ".join(f"a{i}" for i in range(20)))], "doc_id long, text string"
    )
    ingest_dedup_batch(b1, c, s, epoch_id=1, run_id="r")

    b2 = spark.createDataFrame(
        [(2, " ".join(f"b{i}" for i in range(20)))], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="n_band_buckets=64.*built.*16"):
        ingest_dedup_batch(b2, c, s, epoch_id=2, run_id="r", n_band_buckets=64)
    with pytest.raises(ValueError, match="band_size=4.*built.*band_size=2"):
        ingest_dedup_batch(b2, c, s, epoch_id=2, run_id="r", band_size=4)
    with pytest.raises(ValueError, match="portable=0.*portable=1"):
        ingest_dedup_batch(b2, c, s, epoch_id=2, run_id="r", portable=False)
    # the matching geometry proceeds
    ingest_dedup_batch(b2, c, s, epoch_id=2, run_id="r")

    # pre-r10 layout: an index of bare (doc, sig) rows names the
    # migration path instead of crashing on a missing column
    legacy = str(tmp_path / "legacy_sigs")
    TxTable(spark, legacy).append(
        minhash_signatures(b1, "doc_id", "text", 3, 16, portable=True)
    )
    with pytest.raises(RuntimeError, match="pre-r10.*Rebuild"):
        ingest_dedup_batch(b2, str(tmp_path / "c2"), legacy, epoch_id=1, run_id="r")


def test_online_semdedup_index_bits_validated(spark, tmp_path):
    """The embedding twin of the geometry stamp: stored buckets were
    computed at the recorded hyperplane count — a different bits
    silently stops collisions from matching, so it must raise."""
    from hapiy_etl_spark.streaming.jobs import ingest_semdedup_batch

    idxp = str(tmp_path / "idx")
    b1 = spark.createDataFrame(
        [(1, [0.5] * 8)], "vec_id long, embedding array<float>"
    )
    ingest_semdedup_batch(b1, idxp, 1, run_id="t")
    b2 = spark.createDataFrame(
        [(2, [-0.5] * 8)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="bits=4.*bits=8"):
        ingest_semdedup_batch(b2, idxp, 2, run_id="t", bits=4)
    ingest_semdedup_batch(b2, idxp, 2, run_id="t")  # matching bits: fine


def test_index_fixture_paths_distinguish_same_basename(spark):
    """Review r10: the fixture cache keys on the FULL sf_dir but the
    disk path once used only the basename — two corpora named sf1
    would alias one on-disk fixture and silently serve each other's
    data. The path now carries a full-path hash."""
    from hapiy_etl_spark.queries.index_fixtures import _base

    a = _base(spark, "/data/a/sf1", "bm25idx")
    b = _base(spark, "/data/b/sf1", "bm25idx")
    assert a != b


def test_online_dedup_sink_with_retention_stays_correct_and_bounded(
    spark, tmp_path
):
    """Retention composed into the ONLINE dedup sink (r11 candidate,
    landed r10): vacuum_keep_last rides the per-table compact kwargs,
    so an always-on ingest keeps BOTH tables' disk bounded while dedup
    state stays correct — a text re-sent after compactions AND vacuums
    is still dropped against the index, and geometry stamps survive in
    the retained manifests."""
    from pathlib import Path

    from hapiy_etl_spark.streaming.jobs import ingest_dedup_batch

    A = " ".join(f"w{i}" for i in range(30))
    c, s = str(tmp_path / "corpus"), str(tmp_path / "sigs")
    kw = dict(
        auto_compact_max_dirs=3,
        corpus_compact_kw={"vacuum_keep_last": 6, "vacuum_min_age_s": 0.0},
        sig_compact_kw={
            "cluster_by": "bb", "n_dirs": 1,
            "vacuum_keep_last": 6, "vacuum_min_age_s": 0.0,
        },
    )
    for e in range(1, 10):
        text = A if e in (1, 8) else " ".join(
            f"e{e}t{i}" for i in range(30)
        )  # epoch 8 re-sends epoch-1 text under a new id
        b = spark.createDataFrame(
            [(e * 100, text)], "doc_id long, text string"
        )
        ingest_dedup_batch(b, c, s, epoch_id=e, run_id="r", **kw)

    kept = sorted(r.doc_id for r in TxTable(spark, c).read().collect())
    assert 100 in kept and 800 not in kept  # dedup survived the vacuums
    assert len(kept) == 8
    for path in (c, s):
        on_disk = [p for p in (Path(path) / "data").iterdir() if p.is_dir()]
        manifests = list((Path(path) / "_tx").glob("v*.json"))
        # 9 epochs x (append + periodic optimize) would leave ~14+ dirs
        # and 14+ manifests without retention
        assert len(on_disk) < 12 and len(manifests) <= 9, path
    # the retained window still carries the geometry stamps
    from hapiy_etl_spark.operators.textindex import recorded_stamp

    assert recorded_stamp(TxTable(spark, s), "n_band_buckets") == 16


def test_heal_band_postings_index_matches_coupled_sink(spark, tmp_path):
    """Decoupled healer for the MinHash signature index (r11 candidate,
    landed r10): a corpus written by a plain exactly-once job, with the
    band-postings index healed from its change feed, must dedup a new
    batch IDENTICALLY to the index the coupled online sink maintains —
    index content is a pure function of corpus content."""
    from hapiy_etl_spark.operators.dedup import (
        band_postings,
        dedup_against_band_index,
        minhash_signatures,
    )
    from hapiy_etl_spark.streaming.jobs import (
        heal_index_from_changes,
        ingest_dedup_batch,
    )

    def doc(i, tag):
        return (i, " ".join(f"{tag}{i}w{j}" for j in range(20)))

    # coupled topology: the online sink maintains corpus + index
    c1, s1 = str(tmp_path / "c1"), str(tmp_path / "s1")
    for e in range(1, 4):
        b = spark.createDataFrame(
            [doc(e * 10 + k, f"e{e}") for k in range(2)],
            "doc_id long, text string",
        )
        ingest_dedup_batch(b, c1, s1, epoch_id=e, run_id="r")

    # decoupled topology: plain corpus appends + a healer job deriving
    # the SAME band-postings layout from the change feed
    c2, s2 = str(tmp_path / "c2"), str(tmp_path / "s2")
    corpus2 = TxTable(spark, c2)
    for e in range(1, 4):
        corpus2.append(
            spark.createDataFrame(
                [doc(e * 10 + k, f"e{e}") for k in range(2)],
                "doc_id long, text string",
            )
        )
    heal_index_from_changes(
        spark, c2, s2, str(tmp_path / "ckpt"),
        lambda b: band_postings(
            minhash_signatures(
                b.where(F.col("text").isNotNull()),
                "doc_id", "text", 3, 16, portable=True,
            ),
            portable=True,
        ),
        stats_cols=["bb"],
    ).awaitTermination()

    # identical index content...
    rows1 = sorted(map(tuple, TxTable(spark, s1).read().collect()))
    rows2 = sorted(map(tuple, TxTable(spark, s2).read().collect()))
    assert rows1 == rows2
    # ...and identical dedup verdicts for a new batch (one near-dup of
    # a stored doc, one fresh)
    probe = spark.createDataFrame(
        [doc(11, "e1"), doc(99, "fresh")], "doc_id long, text string"
    )
    sigs = minhash_signatures(probe, "doc_id", "text", 3, 16, portable=True)
    v1 = sorted(map(tuple, dedup_against_band_index(
        sigs, TxTable(spark, s1).read(), portable=True
    ).collect()))
    v2 = sorted(map(tuple, dedup_against_band_index(
        sigs, TxTable(spark, s2).read(), portable=True
    ).collect()))
    assert v1 == v2 and any(r[0] == 11 for r in v1)


def test_geometry_stamp_carried_through_optimize_and_vacuum(spark, tmp_path):
    """ADVICE r10: optimize commits used to carry no meta, so an
    aggressive vacuum could delete every stamped append manifest and
    geometry validation silently disabled. _commit now carries
    GEOMETRY_STAMP_KEYS forward like epoch/run: the stamp survives
    optimize + vacuum(keep_last=1), and the NEWEST manifest answers
    recorded_stamp directly (O(1), no history walk)."""
    from hapiy_etl_spark.operators.textindex import recorded_stamp

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, "a")], "k long, v string"),
        meta={"n_buckets": 64, "bits": 8},
    )
    t.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    t.optimize()
    t.vacuum(keep_last=1, min_age_s=0.0)
    # only the optimize manifest survives — and it carries the stamps
    newest = t._manifest(t.latest_version())
    assert (newest.get("meta") or {}).get("n_buckets") == 64
    assert (newest.get("meta") or {}).get("bits") == 8
    assert recorded_stamp(t, "n_buckets") == 64
    assert recorded_stamp(t, "bits") == 8
    # a later append that stamps its own value stays authoritative
    t.append(
        spark.createDataFrame([(3, "c")], "k long, v string"),
        meta={"n_buckets": 64, "bits": 8},
    )
    assert recorded_stamp(t, "n_buckets") == 64


def test_stamp_cache_drop_scopes_to_path_prefix(spark, tmp_path):
    """ADVICE r11: a self-resetting demo query that rmtrees + rebuilds
    its tables at a session-stable path must invalidate the stamp memo
    for THAT subtree — stamp_cache_drop — instead of relying on the
    rebuild being byte-identical. Other paths' memo entries survive."""
    from hapiy_etl_spark.operators.textindex import (
        recorded_stamp,
        stamp_cache_drop,
    )

    base = tmp_path / "demo"
    other = TxTable(spark, str(tmp_path / "other"))
    other.append(
        spark.createDataFrame([(1,)], "k long"), meta={"n_buckets": 32}
    )
    assert recorded_stamp(other, "n_buckets") == 32  # memoized

    def build(nb):
        t = TxTable(spark, str(base / "idx"))
        t.append(spark.createDataFrame([(1,)], "k long"), meta={"n_buckets": nb})
        return t

    import shutil

    t = build(64)
    assert recorded_stamp(t, "n_buckets") == 64
    # same-path rebuild with DIFFERENT geometry: without the drop the
    # memo would keep serving 64 for (path, v=1)
    shutil.rmtree(base, ignore_errors=True)
    stamp_cache_drop(str(base))
    t2 = build(128)
    assert recorded_stamp(t2, "n_buckets") == 128
    # the unrelated table's cached stamp was untouched
    from hapiy_etl_spark.operators import textindex as TI

    assert (str(other.path), other.latest_version(), "n_buckets") in TI._STAMP_CACHE


def test_recorded_columns_from_manifest(spark, tmp_path):
    """ADVICE r10: layout checks (the pre-r10 online-dedup migration
    probe) answer from the manifest's recorded newest-dir schema — one
    JSON read — instead of constructing a multi-dir reader."""
    t = TxTable(spark, str(tmp_path / "t"))
    assert t.recorded_columns() is None  # empty table
    t.append(spark.createDataFrame([(1, "a")], "doc long, sig string"))
    assert t.recorded_columns() == ["doc", "sig"]
    t.append(
        spark.createDataFrame(
            [(0, 1, 2, "x")], "bb int, band int, doc long, sig string"
        )
    )
    assert t.recorded_columns() == ["bb", "band", "doc", "sig"]


def test_heal_index_extra_meta_stamps_geometry(spark, tmp_path):
    """ADVICE r10: healer-built indexes carry the same geometry stamps
    as coupled-sink-built ones, so later direct appends/probes validate
    instead of silently bypassing (or overwriting) the stamp."""
    from hapiy_etl_spark.operators.textindex import (
        recorded_stamp,
        shingle_postings_build,
    )
    from hapiy_etl_spark.streaming.jobs import heal_index_from_changes

    corpus_p = str(tmp_path / "corpus")
    idx_p = str(tmp_path / "idx")
    corpus = TxTable(spark, corpus_p)
    corpus.append(
        spark.createDataFrame(
            [(1, "w1 w2 w3 w4 w5")], "doc_id long, text string"
        )
    )
    heal_index_from_changes(
        spark,
        corpus_p,
        idx_p,
        str(tmp_path / "ckpt"),
        lambda b: shingle_postings_build(b.select("doc_id", "text")),
        stats_cols=["tb"],
        extra_meta={"n_buckets": 512},
    ).awaitTermination()
    assert recorded_stamp(TxTable(spark, idx_p), "n_buckets") == 512


def test_heal_ivf_assignments_match_oneshot(spark, tmp_path):
    """VERDICT r10 item 3: the healer generalizes to the IVF family —
    a frozen quantizer's cell assignments healed from the corpus
    change feed equal a one-shot ivf_index_assign over the whole
    corpus, bit-for-bit (assignment is per-row and the quantizer is
    frozen, so batch grain cannot change the result)."""
    from hapiy_etl_spark.operators import similarity as S
    from hapiy_etl_spark.streaming.jobs import heal_index_from_changes

    emb = spark.createDataFrame(
        [(i, [float(i % 5), float((i * 7) % 11)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    cent, _ = S.ivf_index_build(
        emb.where(F.col("vec_id") < 20), "vec_id", n_centroids=3, max_iter=2
    )
    cent = cent.cache()

    corpus_p = str(tmp_path / "corpus")
    corpus = TxTable(spark, corpus_p)
    corpus.append(emb.where(F.col("vec_id") < 20))
    corpus.append(emb.where(F.col("vec_id") >= 20))
    heal_index_from_changes(
        spark,
        corpus_p,
        str(tmp_path / "idx"),
        str(tmp_path / "ckpt"),
        lambda b: S.ivf_index_assign(
            cent, b.select("vec_id", "embedding"), "vec_id"
        ),
        stats_cols=["cell"],
    ).awaitTermination()

    healed = sorted(
        map(tuple, TxTable(spark, str(tmp_path / "idx")).read().collect())
    )
    oneshot = sorted(
        map(tuple, S.ivf_index_assign(cent, emb, "vec_id").collect())
    )
    assert healed == oneshot and len(healed) == 30


def test_heal_bm25_postings_and_meta_probe_parity(spark, tmp_path):
    """VERDICT r10 item 3: the healer generalizes to the BM25 family.
    BM25 needs TWO derived tables (bucketed postings + the mergeable
    (n_docs, sum_dl) corpus-stats meta) — so TWO healers stream the
    same corpus feed with their own checkpoints, the decoupled analogue
    of postings_append's twin writes. A probe served from the healed
    pair must equal one served from a one-shot postings_append build,
    and the healed index must carry the n_buckets geometry stamp so a
    disagreeing probe is refused."""
    import pytest as _pytest

    from hapiy_etl_spark.operators import textindex as TI
    from hapiy_etl_spark.streaming.jobs import heal_index_from_changes

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"w{(i * j) % 13}" for j in range(1, 9)))
            for i in range(24)
        ],
        "doc_id long, text string",
    )
    corpus_p = str(tmp_path / "corpus")
    corpus = TxTable(spark, corpus_p)
    corpus.append(docs.where(F.col("doc_id") < 16))
    corpus.append(docs.where(F.col("doc_id") >= 16))

    n_buckets = 8
    for name, build in (
        ("idx", lambda b: TI.postings_build(
            b.select("doc_id", "text"), n_buckets=n_buckets)[0]),
        ("meta", lambda b: TI.postings_build(
            b.select("doc_id", "text"), n_buckets=n_buckets)[1]),
    ):
        heal_index_from_changes(
            spark,
            corpus_p,
            str(tmp_path / name),
            str(tmp_path / f"ckpt_{name}"),
            build,
            stats_cols=["tb"] if name == "idx" else None,
            extra_meta={"n_buckets": n_buckets} if name == "idx" else None,
        ).awaitTermination()

    # one-shot reference build via postings_append
    one_idx = TxTable(spark, str(tmp_path / "one_idx"))
    one_meta = TxTable(spark, str(tmp_path / "one_meta"))
    p, m = TI.postings_build(docs, n_buckets=n_buckets)
    TI.postings_append(one_idx, one_meta, p, m, n_buckets=n_buckets)

    healed_idx = TxTable(spark, str(tmp_path / "idx"))
    healed_meta = TxTable(spark, str(tmp_path / "meta"))
    terms = ["w1", "w5", "w12"]

    def probe(idx, meta):
        return sorted(
            map(
                tuple,
                TI.bm25_probe_index(
                    lambda bs: idx.read(where_in={"tb": bs}),
                    meta.read(),
                    terms,
                    k=10,
                    n_buckets=n_buckets,
                    index=idx,
                ).collect(),
            )
        )

    assert probe(healed_idx, healed_meta) == probe(one_idx, one_meta)
    # meta merges by SUM across healed appends: totals equal one-shot
    tot = healed_meta.read().agg(
        F.sum("n_docs").alias("n"), F.sum("sum_dl").alias("s")
    ).collect()[0]
    assert (tot["n"], tot["s"]) == (24, 24 * 8)
    # the healed index carries the stamp: a disagreeing probe refuses
    with _pytest.raises(ValueError, match="n_buckets"):
        TI.bm25_probe_index(
            lambda bs: healed_idx.read(where_in={"tb": bs}),
            healed_meta.read(),
            terms,
            n_buckets=n_buckets * 2,
            index=healed_idx,
        )


def test_sized_cluster_dirs_and_bucket_geometry_rules():
    """VERDICT r10 item 4: the online-dedup bucket geometry stops being
    a hand-tuned constant. suggest_band_bucket_geometry picks the
    (immutable, stamped) bucket modulus from expected corpus size at
    index creation; sized_cluster_dirs derives the clustered dir count
    from CURRENT index rows at each compaction — growing until one dir
    per bucket, always under the policy threshold."""
    from hapiy_etl_spark.operators.dedup import suggest_band_bucket_geometry
    from hapiy_etl_spark.operators.maintenance import sized_cluster_dirs

    # modulus from capacity: clamp floor, powers of two, clamp ceiling
    assert suggest_band_bucket_geometry(1_000_000) == 16
    assert suggest_band_bucket_geometry(100_000_000) == 256
    assert suggest_band_bucket_geometry(10_000_000_000) == 32768
    assert suggest_band_bucket_geometry(10**15) == 65536  # ceiling
    # 4 bands instead of 8 halves the postings -> one notch down
    assert suggest_band_bucket_geometry(
        100_000_000, num_hashes=8, band_size=2
    ) == 128

    # dir count: floor (pre-r11 parity) while the index is small...
    assert sized_cluster_dirs(0, 16, 8) == 4
    assert sized_cluster_dirs(1000, 16, 8) == 4
    # ...grows with rows past the floor...
    assert sized_cluster_dirs(40_000_000, 1024, 2048, floor=8) == 10
    assert sized_cluster_dirs(400_000_000, 1024, 2048, floor=8) == 100
    # ...pins at one dir per bucket (more cannot improve pruning)...
    assert sized_cluster_dirs(40_000_000_000, 1024, 2048, floor=8) == 1024
    # ...and lands with quarter-headroom under max_dirs so the policy
    # stays amortized even when the rows term saturates (ADVICE r11:
    # max_dirs-1 would re-fire the full rewrite on every single append)
    assert sized_cluster_dirs(10**12, 4096, 16) == 12
    assert sized_cluster_dirs(10**12, 4096, 16) <= 16 - 16 // 4
    # degenerate threshold: no headroom is representable below 2
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sized_cluster_dirs(100, 16, 1)
    # monotone in rows (no oscillation as the index grows)
    prev = 0
    for rows in (0, 10**6, 10**7, 10**8, 10**9, 10**10):
        d = sized_cluster_dirs(rows, 256, 512, floor=4)
        assert d >= prev
        prev = d


def test_online_dedup_auto_sized_compaction(spark, tmp_path):
    """The sink's None-default sig_compact_kw derives its clustered dir
    count from the index instead of pinning max_dirs//2 — and the
    composed behavior (pruned reads, dedup verdicts, geometry stamps)
    is unchanged at demo scale where the rows-term is below the floor."""
    from hapiy_etl_spark.streaming.jobs import ingest_dedup_batch

    corpus_p = str(tmp_path / "corpus")
    sig_p = str(tmp_path / "sigs")

    def batch(i, texts):
        return spark.createDataFrame(
            [(i * 100 + j, t) for j, t in enumerate(texts)],
            "doc_id long, text string",
        )

    fresh = lambda i: [  # noqa: E731
        f"e{i} " + " ".join(f"b{i}w{j}k{k}" for k in range(8))
        for j in range(3)
    ]
    for i in range(1, 7):
        ingest_dedup_batch(
            batch(i, fresh(i)),
            corpus_p,
            sig_p,
            epoch_id=i,
            run_id="auto",
            auto_compact_max_dirs=4,
            # sig_compact_kw=None -> the sink derives it
        )
    sig_t = TxTable(spark, sig_p)
    # the policy fired at least once and landed under the threshold
    ops = [m["op"] for m in sig_t.history()]
    assert "optimize" in ops
    assert sig_t.n_dirs() < 4 + 1
    # a replayed batch still drops against the compacted+derived index
    replay = batch(9, fresh(3))  # batch-3 text under new ids
    ingest_dedup_batch(
        replay, corpus_p, sig_p, epoch_id=9, run_id="auto",
        auto_compact_max_dirs=4,
    )
    corpus_rows = TxTable(spark, corpus_p).read()
    assert corpus_rows.where(F.col("doc_id") >= 900).count() == 0


def test_heal_semdedup_embedding_index_matches_oneshot(spark, tmp_path):
    """Healer coverage for the LAST index family (r11): a sign-bucketed
    embedding index healed from the corpus change feed equals the
    one-shot bucketing of the whole corpus (the bucket key is a pure
    per-row function, so batch grain cannot change it), carries the
    bits geometry stamp, and serves the same bucket-pruned semantic
    probe. With this, every persisted-index family — MinHash band
    postings, shingle postings, BM25 postings+meta, IVF assignments,
    sign-bucket embeddings — has healer parity evidence."""
    from hapiy_etl_spark.functions import sign_bucket
    from hapiy_etl_spark.operators.textindex import recorded_stamp
    from hapiy_etl_spark.streaming.jobs import heal_index_from_changes

    bits = 4
    emb = spark.createDataFrame(
        [
            (i, [(-1.0) ** (i >> b & 1) * (0.1 + b) for b in range(6)])
            for i in range(20)
        ],
        "vec_id long, embedding array<double>",
    )
    corpus_p = str(tmp_path / "corpus")
    corpus = TxTable(spark, corpus_p)
    corpus.append(emb.where(F.col("vec_id") < 12))
    corpus.append(emb.where(F.col("vec_id") >= 12))

    def build(b):
        return b.select("vec_id", "embedding").withColumn(
            "bucket", sign_bucket("embedding", bits)
        )

    heal_index_from_changes(
        spark,
        corpus_p,
        str(tmp_path / "idx"),
        str(tmp_path / "ckpt"),
        build,
        stats_cols=["bucket"],
        extra_meta={"bits": bits},
    ).awaitTermination()

    idx = TxTable(spark, str(tmp_path / "idx"))
    healed = sorted(map(tuple, idx.read().collect()))
    oneshot = sorted(map(tuple, build(emb).collect()))
    assert healed == oneshot and len(healed) == 20
    assert recorded_stamp(idx, "bits") == bits
    # bucket-pruned probe: one bucket's where_in read returns exactly
    # that bucket's rows
    b0 = oneshot[0][2]
    got = sorted(
        r[0]
        for r in idx.read(where_in={"bucket": [b0]})
        .where(F.col("bucket") == b0)
        .select("vec_id")
        .collect()
    )
    want = sorted(r[0] for r in build(emb).where(F.col("bucket") == b0).select("vec_id").collect())
    assert got == want


def test_txstore_delete_keys_bloom_pruned_erasure(spark, tmp_path):
    """The right-to-be-forgotten primitive: an explicit-id delete
    rewrites ONLY dirs whose stats/blooms might contain a key, keeps
    NULL-key rows, matches a plain filter row-for-row, and a retry of
    an applied erasure (or an erase of absent ids) commits nothing."""
    t = TxTable(spark, str(tmp_path / "t"))
    for lo in (0, 100, 200):  # three id-ranged dirs with stats + blooms
        rows = [(lo + i, f"doc{lo + i}") for i in range(100)]
        t.append(
            spark.createDataFrame(rows, "doc_id long, body string"),
            stats_cols=["doc_id"],
            bloom_cols=["doc_id"],
        )
    v0 = t.latest_version()
    dirs0 = t._manifest(v0)["dirs"]

    v1 = t.delete_keys([5, 7], on="doc_id")
    assert v1 > v0
    dirs1 = t._manifest(v1)["dirs"]
    # only the [0,99] dir rewritten; the other two id ranges carried
    # forward byte-untouched (same dir names, stats and blooms intact)
    assert len(set(dirs0) & set(dirs1)) == 2
    got = {r.doc_id for r in t.read().select("doc_id").collect()}
    assert 5 not in got and 7 not in got and 6 in got and 105 in got
    assert t.read().count() == 300 - 2

    # absent ids: every dir provably clean (the rewritten dir carries
    # the union stats/blooms of its parents) -> no commit at all
    assert t.delete_keys([9999], on="doc_id") == v1
    # DataFrame form + idempotent retry of the applied erasure: the
    # blooms may false-positive on a re-probed id, but the anti-join
    # then deletes zero rows — re-run converges, never corrupts
    keys_df = spark.createDataFrame([(105,)], "doc_id long")
    v2 = t.delete_keys(keys_df, on="doc_id")
    assert t.read().count() == 300 - 3

    with pytest.raises(ValueError, match="NULL"):
        t.delete_keys([None, 3], on="doc_id")
    with pytest.raises(ValueError, match="max_keys"):
        t.delete_keys(list(range(20)), on="doc_id", max_keys=10)

    # NULL-key rows survive an anti-join erasure (SQL semantics) even
    # in a stats-less dir, which is conservatively rewritten
    t2 = TxTable(spark, str(tmp_path / "t2"))
    t2.append(
        spark.createDataFrame(
            [(None, "orphan"), (1, "a"), (2, "b")], "doc_id long, body string"
        )
    )
    t2.delete_keys([1], on="doc_id")
    left = {r.doc_id for r in t2.read().select("doc_id").collect()}
    assert left == {None, 2}


def test_txstore_retighten_blooms_decays_erasure_bounce(spark, tmp_path):
    """The fpr-keyed re-tighten (r13): repeated copy-on-write erasures
    consolidate survivors into one dir whose inherited union bloom —
    at the PARENTS' geometry — saturates, so later erasures of absent
    keys keep false-positive-rewriting it (the 1↔9 bounce in the r12
    growth table). retighten_blooms detects the saturated dir from the
    manifest alone, rebuilds its bloom from its own rows at a geometry
    resized to the dir's actual key count (metadata-only commit, zero
    data rewritten), and the bounce stops: absent-key erasures become
    no-commit no-ops again."""
    t = TxTable(spark, str(tmp_path / "t"))
    # deliberately TIGHT geometry (256 bits): each dir's 60 keys fill
    # ~half the bitmap, so the 4-way union saturates
    for lo in (0, 1000, 2000, 3000):
        rows = [(lo + i, f"doc{lo + i}") for i in range(60)]
        t.append(
            spark.createDataFrame(rows, "doc_id long, body string"),
            stats_cols=["doc_id"],
            bloom_cols=["doc_id"],
            bloom_bits=256,
            bloom_k=5,
        )
    # one erasure touching all four ranges -> ONE survivor dir carrying
    # the 4-way union bloom (and union [0, 3059] stats)
    t.delete_keys([5, 1005, 2005, 3005], on="doc_id")
    m = t._manifest(t.latest_version())
    assert len(m["dirs"]) == 1
    ests = t.bloom_fpr_estimates("doc_id")
    (survivor,) = m["dirs"]
    assert ests[survivor] > 0.5  # saturated union: estimate screams

    # the bounce: an ABSENT key false-positives through the saturated
    # bloom (and the union stats range), forcing a pointless rewrite
    v_before = t.latest_version()
    t.delete_keys([1500], on="doc_id")  # 1500 inside union range, absent
    assert t.latest_version() > v_before  # rewrite happened (the bounce)

    # re-tighten: metadata-only commit, dirs byte-identical, estimate
    # collapses because the rebuilt bloom is sized to ~236 actual keys
    m1 = t._manifest(t.latest_version())
    fixed = t.retighten_blooms(["doc_id"], fpr_threshold=0.05)
    assert fixed == m1["dirs"]
    m2 = t.latest_version()
    assert t._manifest(m2)["op"] == "retighten"
    assert t._manifest(m2)["dirs"] == m1["dirs"]  # zero data rewritten
    est2 = t.bloom_fpr_estimates("doc_id")
    assert all(e < 0.05 for e in est2.values()), est2
    # stats re-tightened along: the recorded range shrinks to contents
    new_stats = t._manifest(m2)["stats"][t._manifest(m2)["dirs"][0]]
    assert new_stats["doc_id"][0] >= 0 and new_stats["doc_id"][1] <= 3059

    # bounce decayed: the same absent-key erasure now proves clean from
    # metadata and commits NOTHING
    assert t.delete_keys([1501], on="doc_id") == m2
    # idempotent: nothing left over threshold, no further commit
    assert t.retighten_blooms(["doc_id"], fpr_threshold=0.05) == []
    assert t.latest_version() == m2
    # reads unchanged through the whole cycle
    assert t.read().count() == 240 - 4


def test_retighten_bloom_resize_is_capped():
    """The resize geometry caps at BLOOM_RESIZE_CAP_BITS (128 KiB raw):
    blooms inline in the manifest every read carries forward, so a
    consolidated survivor dir with millions of keys must not produce a
    multi-megabyte base64 bitmap (ADVICE r13) — residual FPR above the
    cap is accepted instead."""
    from hapiy_etl_spark.operators.txstore import (
        BLOOM_RESIZE_CAP_BITS,
        _bloom_bits_for,
    )

    assert _bloom_bits_for(0) == 256
    assert _bloom_bits_for(100) == 1024  # ~10 bits/key, pow2-rounded
    assert _bloom_bits_for(10_000_000) == BLOOM_RESIZE_CAP_BITS
    assert _bloom_bits_for(BLOOM_RESIZE_CAP_BITS) == BLOOM_RESIZE_CAP_BITS


def test_retighten_capped_dir_does_not_livelock(spark, tmp_path):
    """ADVICE r14: a dir with more distinct keys than ~cap/10 stays over
    fpr_threshold even after its capped own-rows rebuild, so every
    scheduled retighten tick re-read the full dir, rebuilt an identical
    bitmap, and committed a fresh no-op 'retighten' manifest —
    unbounded version/history churn plus a repeated full-dir scan.
    Rebuilt entries now carry src=="own" and the staleness scan skips
    them: the first retighten commits once (recording the marker +
    resized bitmap), every later tick returns [] with NO commit and NO
    version bump. Modeled with fpr_threshold=0.0 so the rebuilt dir
    provably still 'estimates above threshold'."""
    t = TxTable(spark, str(tmp_path / "t"))
    rows = [(i, f"doc{i}") for i in range(60)]
    t.append(
        spark.createDataFrame(rows, "doc_id long, body string"),
        bloom_cols=["doc_id"],
        bloom_bits=256,
        bloom_k=5,
    )
    first = t.retighten_blooms(["doc_id"], fpr_threshold=0.0)
    assert first != []  # one commit records the own-rows marker
    v = t.latest_version()
    m = t._manifest(v)
    (d,) = m["dirs"]
    assert m["blooms"][d]["doc_id"]["src"] == "own"
    assert t.bloom_fpr_estimates("doc_id")[d] > 0.0  # still "over" 0.0
    # every subsequent tick: settled — no commit, no version churn
    for _ in range(3):
        assert t.retighten_blooms(["doc_id"], fpr_threshold=0.0) == []
        assert t.latest_version() == v
    # the marker never weakens pruning: probes replay the recorded
    # geometry regardless of provenance
    assert t.delete_keys([999_999], on="doc_id") == v  # absent: no-op


def test_erasure_propagates_to_shingle_index(spark, tmp_path):
    """Right-to-be-forgotten across the corpus AND a derived postings
    index: after delete_keys on both, the index equals a one-shot
    rebuild over the surviving corpus bit-for-bit, and the doc-id
    blooms (postings_append bloom_key=) prune the erasure to the dirs
    that actually hold the victim's postings."""
    from hapiy_etl_spark.operators import textindex as TI

    rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(8)), f"src{i % 3}")
        for i in range(30)
    ]
    rows[4] = (4, "tiny victim doc", "src1")  # one shingle -> one bucket
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    corpus = TxTable(spark, str(tmp_path / "corpus"))
    for lo in (0, 10, 20):
        corpus.append(
            docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 10)),
            stats_cols=["doc_id"],
            bloom_cols=["doc_id"],
        )
    idx = TxTable(spark, str(tmp_path / "idx"))
    TI.postings_append(
        idx, None, TI.shingle_postings_build(docs), None, bloom_key="doc_id"
    )
    dirs_before = idx._manifest(idx.latest_version())["dirs"]

    # erase the single-shingle victim: its postings live in exactly one
    # term-bucket dir, so the doc-id blooms must prune the rewrite to
    # ~1 of the 8 bucket dirs (false positives can add a dir or two)
    idx.delete_keys([4], on="doc_id")
    dirs_after = idx._manifest(idx.latest_version())["dirs"]
    assert len(set(dirs_before) & set(dirs_after)) >= 5

    # then a full-vocabulary victim + corpus co-erasure and the parity
    # contract: erased index == one-shot rebuild over survivors
    victims = [4, 17]
    corpus.delete_keys(victims, on="doc_id")
    idx.delete_keys([17], on="doc_id")

    assert corpus.read().count() == 28
    assert {r.doc_id for r in corpus.read().select("doc_id").collect()}.isdisjoint(victims)

    rebuilt = TI.shingle_postings_build(docs.where(~F.col("doc_id").isin(victims)))
    erased = idx.read()
    assert erased.count() == rebuilt.count()
    assert erased.exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(erased).count() == 0


def test_reconcile_index_deletes_repairs_interrupted_takedown(spark, tmp_path):
    """Crash between the corpus erasure and the index erasure leaves
    orphaned postings; the reconciler erases exactly them (idempotent,
    second run commits nothing) and the repaired index equals a
    one-shot rebuild over the surviving corpus."""
    from hapiy_etl_spark.operators import textindex as TI
    from hapiy_etl_spark.operators.maintenance import reconcile_index_deletes

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(6)), "s") for i in range(20)],
        "doc_id long, text string, source string",
    )
    corpus = TxTable(spark, str(tmp_path / "corpus"))
    corpus.append(docs, stats_cols=["doc_id"], bloom_cols=["doc_id"])
    idx = TxTable(spark, str(tmp_path / "idx"))
    TI.postings_append(
        idx, None, TI.shingle_postings_build(docs), None, bloom_key="doc_id"
    )

    # the crash window: corpus erased, index NOT
    corpus.delete_keys([3, 11, 19], on="doc_id")
    assert reconcile_index_deletes(corpus, idx, on="doc_id") == 3
    v = idx.latest_version()
    assert reconcile_index_deletes(corpus, idx, on="doc_id") == 0  # idempotent
    assert idx.latest_version() == v  # ...and commits nothing

    rebuilt = TI.shingle_postings_build(
        docs.where(~F.col("doc_id").isin([3, 11, 19]))
    )
    assert idx.read().exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(idx.read()).count() == 0


def test_healer_recovery_after_erasure_rewrite(spark, tmp_path):
    """The full takedown runbook across the decoupled healer: heal two
    corpus appends; a delete_keys erasure + another append land while
    the healer is down; the old checkpoint then RAISES the loud
    not-representable error (never silently skips a mutation);
    heal_recover_from_rewrite resyncs the index from table contents
    (orphans erased, missed appends backfilled, == one-shot build);
    the healer restarts at starting_version with a fresh checkpoint
    and keeps healing new appends exactly-once."""
    from hapiy_etl_spark.operators.textindex import shingle_postings_build
    from hapiy_etl_spark.streaming.jobs import (
        heal_index_from_changes,
        heal_recover_from_rewrite,
    )

    corpus_p, idx_p = str(tmp_path / "corpus"), str(tmp_path / "idx")
    ckpt1, ckpt2 = str(tmp_path / "ckpt1"), str(tmp_path / "ckpt2")

    def doc(i):
        return (i, " ".join(f"d{i}w{j}" for j in range(10)))

    build = lambda b: shingle_postings_build(b.select("doc_id", "text"))
    corpus = TxTable(spark, corpus_p)
    corpus.append(spark.createDataFrame([doc(1), doc(2)], "doc_id long, text string"))
    corpus.append(spark.createDataFrame([doc(3)], "doc_id long, text string"))

    def heal(ckpt, starting_version=None):
        for _ in range(corpus.latest_version() + 1):
            heal_index_from_changes(
                spark, corpus_p, idx_p, ckpt, build,
                stats_cols=["tb"], max_versions_per_trigger=1,
                starting_version=starting_version,
            ).awaitTermination()

    def oneshot():
        return sorted(map(tuple, shingle_postings_build(corpus.read()).collect()))

    def healed():
        return sorted(map(tuple, TxTable(spark, idx_p).read().collect()))

    heal(ckpt1)
    assert healed() == oneshot()

    # healer down: a takedown erasure + one more append hit the corpus
    corpus.delete_keys([2], on="doc_id")
    corpus.append(spark.createDataFrame([doc(4)], "doc_id long, text string"))

    with pytest.raises(Exception, match="rewr|resync|table_diff"):
        heal(ckpt1)  # old checkpoint crosses the delete span: loud stop

    report = heal_recover_from_rewrite(
        spark, corpus_p, idx_p, on="doc_id", build_fn=build, stats_cols=["tb"]
    )
    assert report["orphans_erased"] == 1  # doc 2's postings
    assert report["docs_backfilled"] == 1  # doc 4, missed while down
    assert report["snapshot_version"] == corpus.latest_version()
    assert healed() == oneshot()

    # idempotent: a second recovery repairs nothing, commits nothing
    v = TxTable(spark, idx_p).latest_version()
    r2 = heal_recover_from_rewrite(
        spark, corpus_p, idx_p, on="doc_id", build_fn=build, stats_cols=["tb"]
    )
    assert r2["orphans_erased"] == 0 and r2["docs_backfilled"] == 0
    assert TxTable(spark, idx_p).latest_version() == v

    # snapshot-then-stream handoff: fresh checkpoint from the snapshot
    # version; a new append heals exactly-once, old data not re-fed
    sv = report["snapshot_version"]
    corpus.append(spark.createDataFrame([doc(5)], "doc_id long, text string"))
    heal(ckpt2, starting_version=sv)
    assert healed() == oneshot()
    v = TxTable(spark, idx_p).latest_version()
    heal(ckpt2, starting_version=sv)  # no new commits: noop
    assert TxTable(spark, idx_p).latest_version() == v

    # NULL-key corpus rows are invisible to key-grain recovery (review
    # r12): they can be neither matched nor erased by key, so they are
    # NOT re-backfilled — idempotence holds with one present
    corpus.append(
        spark.createDataFrame([(None, "null key doc")], "doc_id long, text string")
    )
    for _ in range(2):
        r3 = heal_recover_from_rewrite(
            spark, corpus_p, idx_p, on="doc_id", build_fn=build, stats_cols=["tb"]
        )
        assert r3["orphans_erased"] == 0 and r3["docs_backfilled"] == 0
    assert TxTable(spark, idx_p).latest_version() == v

    # a keyed doc whose rows the builder drops (NULL text → zero
    # postings) is re-fed every run but never commits: it reports
    # under re_fed_but_empty, NOT docs_backfilled (r13, review
    # feedback — backfilled counts only committed keys, so monitoring
    # sees "nothing backfilled" stay true on reruns)
    corpus.append(
        spark.createDataFrame([(6, None)], "doc_id long, text string")
    )
    for _ in range(2):
        r4 = heal_recover_from_rewrite(
            spark, corpus_p, idx_p, on="doc_id", build_fn=build, stats_cols=["tb"]
        )
        assert r4["docs_backfilled"] == 0 and r4["re_fed_but_empty"] == 1
    assert TxTable(spark, idx_p).latest_version() == v


def test_recovery_runs_builder_once_and_clamps_overbuild(spark, tmp_path):
    """heal_recover_from_rewrite materializes the rebuild ONCE (ADVICE
    r13: the emptiness probe + key count + append previously re-ran
    build_fn three times through lineage — an accumulator inside the
    builder proves each missing row is now processed exactly once), and
    a builder that emits keys OUTSIDE the missing set neither inflates
    docs_backfilled nor drives re_fed_but_empty negative."""
    from pyspark.sql import types as T

    from hapiy_etl_spark.streaming.jobs import heal_recover_from_rewrite

    corpus_p, idx_p = str(tmp_path / "corpus"), str(tmp_path / "idx")
    corpus = TxTable(spark, corpus_p)
    corpus.append(
        spark.createDataFrame(
            [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id long, text string"
        )
    )

    acc = spark.sparkContext.accumulator(0)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("term", T.StringType()),
        ]
    )

    def build_counting(missing):
        def f(batches):
            import pandas as pd

            for pdf in batches:
                acc.add(len(pdf))
                out = pdf[["doc_id", "text"]].rename(columns={"text": "term"})
                # one EXTRA key outside the missing set: must not count
                extra = pd.DataFrame({"doc_id": [999], "term": ["ghost"]})
                yield pd.concat([out, extra], ignore_index=True)

        return missing.mapInPandas(f, schema)

    report = heal_recover_from_rewrite(
        spark, corpus_p, idx_p, on="doc_id", build_fn=build_counting
    )
    # every missing corpus row fed through the builder exactly once
    assert acc.value == 3, acc.value
    # ghost key 999 excluded from the backfill count; clamp holds
    assert report["docs_backfilled"] == 3
    assert report["re_fed_but_empty"] == 0
    # the appended rows themselves still include what the builder wrote
    assert TxTable(spark, idx_p).read().count() > 3


def test_txgroup_atomic_commit_kills_between_writes(spark, tmp_path, monkeypatch):
    """The r14 atomic two-table commit (VERDICT r13 item 6): kill the
    online-dedup sink at BOTH crash points around the old corpus/index
    window and show the restart needs NO self-heal branch —
    tx_append_once is booby-trapped during the replay, so the test
    fails if any per-table heal append runs. Recovery is the generic
    journal roll-forward (txgroup_recover), and the final state is
    bit-identical to an uncrashed reference run."""
    import pytest as _pytest

    from hapiy_etl_spark.operators import txstore as TX
    from hapiy_etl_spark.streaming import jobs as J

    def mk_batch(ids):
        return spark.createDataFrame(
            [(i, " ".join(f"w{i}x{j}" for j in range(10))) for i in ids],
            "doc_id long, text string",
        )

    b0, b1 = mk_batch(range(4)), mk_batch(range(10, 15))

    def table_state(base):
        c = sorted(map(tuple, TxTable(spark, f"{base}/corpus").read().collect()))
        s = sorted(map(tuple, TxTable(spark, f"{base}/sig").read().collect()))
        return c, s

    # uncrashed reference run
    ref = str(tmp_path / "ref")
    J.ingest_dedup_batch(b0, f"{ref}/corpus", f"{ref}/sig", 0, run_id="r1")
    J.ingest_dedup_batch(b1, f"{ref}/corpus", f"{ref}/sig", 1, run_id="r1")
    want = table_state(ref)

    def boom(*a, **kw):
        raise AssertionError("self-heal branch ran: tx_append_once called")

    # -- crash point A: AFTER the group record and the corpus publish,
    # before the index publish — the exact window the pre-r14 sink
    # healed on replay
    base = str(tmp_path / "crashA")
    J.ingest_dedup_batch(b0, f"{base}/corpus", f"{base}/sig", 0, run_id="r1")
    real_pub = TX.TxTable._publish_manifest

    def kill_after_corpus(self, m):
        v = real_pub(self, m)
        if str(self.path).endswith("corpus") and (m.get("meta") or {}).get("epoch") == 1:
            raise RuntimeError("killed between the two writes")
        return v

    monkeypatch.setattr(TX.TxTable, "_publish_manifest", kill_after_corpus)
    with _pytest.raises(RuntimeError, match="killed between"):
        J.ingest_dedup_batch(b1, f"{base}/corpus", f"{base}/sig", 1, run_id="r1")
    monkeypatch.setattr(TX.TxTable, "_publish_manifest", real_pub)
    # the legacy crash state on disk: corpus at epoch 1, index at 0...
    assert TxTable(spark, f"{base}/corpus").last_stream_epoch() == 1
    assert TxTable(spark, f"{base}/sig").last_stream_epoch() == 0
    # ...but a journal record exists, so the replayed batch rolls it
    # forward and NEVER enters a heal append
    monkeypatch.setattr(J, "tx_append_once", boom)
    J.ingest_dedup_batch(b1, f"{base}/corpus", f"{base}/sig", 1, run_id="r1")
    monkeypatch.setattr(J, "tx_append_once", J.tx_append_once)
    monkeypatch.undo()
    assert table_state(base) == want
    assert list(Path(f"{base}/corpus/_txgroup").glob("g-*.json")) == []

    # -- crash point B: BEFORE the group record — neither table may
    # advance (staged dirs are vacuum debris), and the replay commits
    # the whole batch atomically
    base = str(tmp_path / "crashB")
    J.ingest_dedup_batch(b0, f"{base}/corpus", f"{base}/sig", 0, run_id="r1")
    real_link = TX.os.link

    def kill_before_record(src, dst):
        if Path(dst).name.startswith("g-"):
            raise RuntimeError("killed before the group record")
        return real_link(src, dst)

    monkeypatch.setattr(TX.os, "link", kill_before_record)
    with _pytest.raises(RuntimeError, match="killed before"):
        J.ingest_dedup_batch(b1, f"{base}/corpus", f"{base}/sig", 1, run_id="r1")
    monkeypatch.setattr(TX.os, "link", real_link)
    assert TxTable(spark, f"{base}/corpus").last_stream_epoch() == 0
    assert TxTable(spark, f"{base}/sig").last_stream_epoch() == 0
    J.ingest_dedup_batch(b1, f"{base}/corpus", f"{base}/sig", 1, run_id="r1")
    assert table_state(base) == want


def test_txgroup_three_table_epoch_kills_at_each_publish(
    spark, tmp_path, monkeypatch
):
    """extra_appends (r15, VERDICT r14 item 8): a derived table's
    per-epoch partial rides the SAME group record as the corpus and
    index — the flagship topology's MV shape. Kill the sink at every
    inter-publish point (after corpus, after index, before the
    record): the restart needs NO self-heal branch (tx_append_once
    booby-trapped), recovery is the generic journal roll-forward, and
    the final 3-table state is bit-identical to an uncrashed run."""
    import pytest as _pytest

    from hapiy_etl_spark.operators import txstore as TX
    from hapiy_etl_spark.streaming import jobs as J

    def mk_batch(ids):
        return spark.createDataFrame(
            [(i, " ".join(f"w{i}x{j}" for j in range(10)), f"s{i % 2}")
             for i in ids],
            "doc_id long, text string, source string",
        )

    def mv_appends_for(base):
        mv_t = TxTable(spark, f"{base}/mv")

        def mv(survivors):
            partial = survivors.groupBy("source").agg(
                F.count("*").alias("n_docs")
            )
            return [{"table": mv_t, "df": partial}]

        return mv

    def run_epochs(base, crash_epoch_fn=None):
        for ep, ids in ((0, range(4)), (1, range(10, 15))):
            if crash_epoch_fn and ep == 1:
                crash_epoch_fn()
            J.ingest_dedup_batch(
                mk_batch(ids), f"{base}/corpus", f"{base}/sig", ep,
                run_id="r1", extra_appends=mv_appends_for(base),
            )

    def table_state(base):
        return tuple(
            sorted(map(tuple, TxTable(spark, f"{base}/{n}").read().collect()))
            for n in ("corpus", "sig", "mv")
        )

    ref = str(tmp_path / "ref")
    run_epochs(ref)
    want = table_state(ref)
    assert want[2]  # the mv partials actually landed

    real_pub = TX.TxTable._publish_manifest

    def boom(*a, **kw):
        raise AssertionError("self-heal branch ran: tx_append_once called")

    # kill after the Nth member publish of epoch 1's group record
    for n_published, label in ((1, "after corpus"), (2, "after index")):
        base = str(tmp_path / f"crash{n_published}")
        J.ingest_dedup_batch(
            mk_batch(range(4)), f"{base}/corpus", f"{base}/sig", 0,
            run_id="r1", extra_appends=mv_appends_for(base),
        )
        seen = {"n": 0}

        def kill_after_n(self, m, _n=n_published):
            v = real_pub(self, m)
            if (m.get("meta") or {}).get("epoch") == 1:
                seen["n"] += 1
                if seen["n"] == _n:
                    raise RuntimeError("killed between publishes")
            return v

        monkeypatch.setattr(TX.TxTable, "_publish_manifest", kill_after_n)
        with _pytest.raises(RuntimeError, match="killed between"):
            J.ingest_dedup_batch(
                mk_batch(range(10, 15)), f"{base}/corpus", f"{base}/sig", 1,
                run_id="r1", extra_appends=mv_appends_for(base),
            )
        monkeypatch.setattr(TX.TxTable, "_publish_manifest", real_pub)
        monkeypatch.setattr(J, "tx_append_once", boom)
        J.ingest_dedup_batch(
            mk_batch(range(10, 15)), f"{base}/corpus", f"{base}/sig", 1,
            run_id="r1", extra_appends=mv_appends_for(base),
        )
        monkeypatch.undo()
        assert table_state(base) == want, label
        assert list(Path(f"{base}/corpus/_txgroup").glob("g-*.json")) == []

    # kill BEFORE the record: no table advances, replay commits all 3
    base = str(tmp_path / "crash0")
    J.ingest_dedup_batch(
        mk_batch(range(4)), f"{base}/corpus", f"{base}/sig", 0,
        run_id="r1", extra_appends=mv_appends_for(base),
    )
    real_link = TX.os.link

    def kill_before_record(src, dst):
        if Path(dst).name.startswith("g-"):
            raise RuntimeError("killed before the group record")
        return real_link(src, dst)

    monkeypatch.setattr(TX.os, "link", kill_before_record)
    with _pytest.raises(RuntimeError, match="killed before"):
        J.ingest_dedup_batch(
            mk_batch(range(10, 15)), f"{base}/corpus", f"{base}/sig", 1,
            run_id="r1", extra_appends=mv_appends_for(base),
        )
    monkeypatch.setattr(TX.os, "link", real_link)
    for n in ("corpus", "sig", "mv"):
        assert TxTable(spark, f"{base}/{n}").last_stream_epoch() == 0
    J.ingest_dedup_batch(
        mk_batch(range(10, 15)), f"{base}/corpus", f"{base}/sig", 1,
        run_id="r1", extra_appends=mv_appends_for(base),
    )
    assert table_state(base) == want


def test_txgroup_recover_guards(spark, tmp_path):
    """txgroup_recover's safety rails: an already-published identical
    manifest is accepted (idempotent re-run), a DIFFERENT manifest at
    the journaled version raises (single-writer violation), and an
    empty/missing journal dir is a no-op."""
    import json as _json

    from hapiy_etl_spark.operators.txstore import (
        txgroup_commit_appends,
        txgroup_recover,
    )

    assert txgroup_recover(spark, str(tmp_path / "nope")) == 0
    t1 = TxTable(spark, str(tmp_path / "t1"))
    t2 = TxTable(spark, str(tmp_path / "t2"))
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    gp = str(tmp_path / "grp")
    v1, v2 = txgroup_commit_appends(
        gp, [{"table": t1, "df": df}, {"table": t2, "df": df}]
    )
    assert (v1, v2) == (1, 1)
    assert t1.read().count() == 1 and t2.read().count() == 1
    # a re-run over a consumed journal is a no-op
    assert txgroup_recover(spark, gp) == 0
    # forge a stale record conflicting with published content
    rec = {
        "ts": 0,
        "tables": [
            {
                "path": str(t1.path),
                "manifest": {**t1._manifest(1), "dirs": ["forged"]},
            }
        ],
    }
    (Path(gp) / "g-forged.json").write_text(_json.dumps(rec))
    with pytest.raises(RuntimeError, match="single-writer"):
        txgroup_recover(spark, gp)
    (Path(gp) / "g-forged.json").unlink()


def test_reconcile_covers_signature_and_ivf_index_families(spark, tmp_path):
    """Erasure generalizes across every persisted-index family: the
    MinHash signature index (rows keyed by `doc`) and the IVF
    assignment index (rows keyed by the vector id) both repair to
    corpus truth through the same reconcile + delete_keys path."""
    from hapiy_etl_spark.operators import dedup as D
    from hapiy_etl_spark.operators import similarity as S
    from hapiy_etl_spark.operators.maintenance import reconcile_index_deletes

    # --- signature family -------------------------------------------
    docs = spark.createDataFrame(
        [(i, " ".join(f"d{i}w{j}" for j in range(10))) for i in range(12)],
        "doc_id long, text string",
    )
    corpus = TxTable(spark, str(tmp_path / "corpus"))
    corpus.append(docs, stats_cols=["doc_id"], bloom_cols=["doc_id"])
    sig_idx = TxTable(spark, str(tmp_path / "sigidx"))
    sigs = D.minhash_signatures(docs, "doc_id", "text", n=3, portable=True)
    sig_idx.append(D.band_postings(sigs, portable=True), bloom_cols=["doc"])

    corpus.delete_keys([3, 7], on="doc_id")
    assert reconcile_index_deletes(corpus, sig_idx, on="doc", corpus_on="doc_id") == 2
    left = {r.doc for r in sig_idx.read().select("doc").distinct().collect()}
    assert left == set(range(12)) - {3, 7}

    # --- IVF family --------------------------------------------------
    import random

    random.seed(7)
    vecs = spark.createDataFrame(
        [(i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    vcorpus = TxTable(spark, str(tmp_path / "vcorpus"))
    vcorpus.append(vecs, stats_cols=["vec_id"], bloom_cols=["vec_id"])
    cents, assign = S.ivf_index_build(vecs, "vec_id", n_centroids=2)
    ivf_idx = TxTable(spark, str(tmp_path / "ivfidx"))
    ivf_idx.append(assign, bloom_cols=["vec_id"])

    vcorpus.delete_keys([0, 19], on="vec_id")
    assert reconcile_index_deletes(vcorpus, ivf_idx, on="vec_id") == 2
    vleft = {r.vec_id for r in ivf_idx.read().select("vec_id").distinct().collect()}
    assert vleft == set(range(1, 19))


def test_healer_continuous_trigger_always_on(spark, tmp_path):
    """The always-on healer posture: ONE long-running processingTime
    query (no restart loop) keeps draining corpus appends as they land,
    exactly-once — healed index equals the one-shot build after the
    writer stops, with zero healer restarts."""
    import time

    from hapiy_etl_spark.operators.textindex import shingle_postings_build
    from hapiy_etl_spark.streaming.jobs import heal_index_from_changes

    corpus_p, idx_p = str(tmp_path / "corpus"), str(tmp_path / "idx")

    def doc(i):
        return (i, " ".join(f"d{i}w{j}" for j in range(10)))

    corpus = TxTable(spark, corpus_p)
    corpus.append(spark.createDataFrame([doc(1), doc(2)], "doc_id long, text string"))

    q = heal_index_from_changes(
        spark, corpus_p, idx_p, str(tmp_path / "ckpt"),
        lambda b: shingle_postings_build(b.select("doc_id", "text")),
        stats_cols=["tb"],
        trigger_processing_time="1 seconds",
    )
    try:
        # appends land WHILE the query runs — no restarts anywhere
        for i in (3, 4, 5):
            corpus.append(
                spark.createDataFrame([doc(i)], "doc_id long, text string")
            )
            time.sleep(0.8)

        def healed_rows():
            try:
                return sorted(map(tuple, TxTable(spark, idx_p).read().collect()))
            except FileNotFoundError:
                return []

        want = sorted(map(tuple, shingle_postings_build(corpus.read()).collect()))
        deadline = time.time() + 60
        while time.time() < deadline and healed_rows() != want:
            time.sleep(1.0)
        assert healed_rows() == want
    finally:
        q.stop()


def test_retighten_is_change_feed_transparent(spark, tmp_path):
    """A retighten commit re-references every data dir (metadata-only),
    so the txtable_changes stream neither raises the non-append error
    nor re-delivers rows across it — the maintenance can run under a
    live healer, unlike an erasure. (The dir-diff rule makes this true
    by construction; this pins it against regressions in either the
    source or the commit shape.)"""
    from hapiy_etl_spark.operators.textindex import shingle_postings_build
    from hapiy_etl_spark.streaming.jobs import heal_index_from_changes

    corpus_p, idx_p = str(tmp_path / "corpus"), str(tmp_path / "idx")
    build = lambda b: shingle_postings_build(b.select("doc_id", "text"))

    def doc(i):
        return (i, " ".join(f"d{i}w{j}" for j in range(10)))

    corpus = TxTable(spark, corpus_p)
    for i in (1, 2):
        corpus.append(
            spark.createDataFrame([doc(i)], "doc_id long, text string"),
            stats_cols=["doc_id"], bloom_cols=["doc_id"],
            bloom_bits=256, bloom_k=5,
        )

    def heal():
        for _ in range(corpus.latest_version() + 1):
            heal_index_from_changes(
                spark, corpus_p, idx_p, str(tmp_path / "ckpt"), build,
                stats_cols=["tb"], max_versions_per_trigger=1,
            ).awaitTermination()

    def healed():
        return sorted(map(tuple, TxTable(spark, idx_p).read().collect()))

    heal()
    assert healed() == sorted(map(tuple, build(corpus.read()).collect()))

    # saturate + retighten: same dirs, new metadata — mid-history
    v = corpus.latest_version()
    assert corpus.retighten_blooms(["doc_id"], fpr_threshold=0.0) != []
    assert corpus.latest_version() == v + 1  # the commit happened
    corpus.append(
        spark.createDataFrame([doc(3)], "doc_id long, text string"),
        stats_cols=["doc_id"], bloom_cols=["doc_id"],
    )
    heal()  # the old checkpoint crosses the retighten span: no error
    want = sorted(map(tuple, build(corpus.read()).collect()))
    assert healed() == want  # doc 3 delivered once, nothing re-delivered


def test_healer_always_on_survives_midrun_takedown(spark, tmp_path):
    """Unit twin of the r13 --soak-erasure run: a delete_keys takedown
    lands WHILE the always-on (processingTime) healer is live. The
    change feed must kill the query LOUDLY at the non-append commit
    (never a silent skip), the runbook recovery resyncs the index from
    contents (victim's postings out, missed appends in), and a
    fresh-checkpoint restart at the snapshot version keeps healing new
    appends exactly-once."""
    import time

    from hapiy_etl_spark.operators.textindex import shingle_postings_build
    from hapiy_etl_spark.streaming.jobs import (
        heal_index_from_changes,
        heal_recover_from_rewrite,
    )

    corpus_p, idx_p = str(tmp_path / "corpus"), str(tmp_path / "idx")
    build = lambda b: shingle_postings_build(b.select("doc_id", "text"))

    def doc(i):
        return (i, " ".join(f"d{i}w{j}" for j in range(10)))

    corpus = TxTable(spark, corpus_p)
    corpus.append(
        spark.createDataFrame([doc(1), doc(2)], "doc_id long, text string"),
        stats_cols=["doc_id"],
        bloom_cols=["doc_id"],
    )

    def healed_rows():
        try:
            return sorted(map(tuple, TxTable(spark, idx_p).read().collect()))
        except FileNotFoundError:
            return []

    def oneshot():
        return sorted(map(tuple, build(corpus.read()).collect()))

    q = heal_index_from_changes(
        spark, corpus_p, idx_p, str(tmp_path / "ckpt1"), build,
        stats_cols=["tb"], trigger_processing_time="1 seconds",
    )
    try:
        corpus.append(
            spark.createDataFrame([doc(3)], "doc_id long, text string"),
            stats_cols=["doc_id"], bloom_cols=["doc_id"],
        )
        deadline = time.time() + 60
        while time.time() < deadline and healed_rows() != oneshot():
            time.sleep(1.0)
        assert healed_rows() == oneshot()  # healthy co-run first

        # the mid-run takedown: the live query must die loudly
        corpus.delete_keys([2], on="doc_id")
        # one more append lands while the healer is dead/dying
        corpus.append(
            spark.createDataFrame([doc(4)], "doc_id long, text string"),
            stats_cols=["doc_id"], bloom_cols=["doc_id"],
        )
        deadline = time.time() + 90
        while q.isActive and time.time() < deadline:
            time.sleep(1.0)
        assert not q.isActive, "healer survived a delete span"
        import re as _re

        assert _re.search(r"rewr|resync|table_diff", str(q.exception()))
    finally:
        if q.isActive:
            q.stop()

    # runbook: resync from contents, then fresh-checkpoint restart
    report = heal_recover_from_rewrite(
        spark, corpus_p, idx_p, on="doc_id", build_fn=build, stats_cols=["tb"]
    )
    assert report["orphans_erased"] >= 1  # doc 2's postings left the index
    assert healed_rows() == oneshot()
    assert (
        TxTable(spark, idx_p).read().where("doc_id = 2").count() == 0
    )  # the victim is gone from the index, by name

    q2 = heal_index_from_changes(
        spark, corpus_p, idx_p, str(tmp_path / "ckpt2"), build,
        stats_cols=["tb"], trigger_processing_time="1 seconds",
        starting_version=report["snapshot_version"],
    )
    try:
        corpus.append(
            spark.createDataFrame([doc(5)], "doc_id long, text string"),
            stats_cols=["doc_id"], bloom_cols=["doc_id"],
        )
        deadline = time.time() + 60
        while time.time() < deadline and healed_rows() != oneshot():
            time.sleep(1.0)
        assert healed_rows() == oneshot()  # exactly-once resumed
    finally:
        q2.stop()


def test_txstore_delete_keys_concurrent_retry_no_lost_update(spark, tmp_path):
    """A racing append lands between delete_keys' snapshot resolve and
    its commit: the optimistic retry re-reads the interloper's snapshot,
    so the erasure applies AND the raced-in rows survive (including a
    raced-in row carrying an erasure key, which the retry then erases —
    the correct linearization: the delete commit is the later one)."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(i, f"doc{i}") for i in range(10)], "doc_id long, body string"
        ),
        stats_cols=["doc_id"],
        bloom_cols=["doc_id"],
    )
    interloper = TxTable(spark, str(tmp_path / "t"))

    class RaceOnce(TxTable):
        raced = False

        def _commit(self, parent, dirs, op, *args, **kwargs):
            if not RaceOnce.raced and op == "delete":
                RaceOnce.raced = True
                interloper.append(
                    spark.createDataFrame(
                        [(3, "raced-copy"), (77, "raced-new")],
                        "doc_id long, body string",
                    )
                )
            return super()._commit(parent, dirs, op, *args, **kwargs)

    racer = RaceOnce(spark, str(tmp_path / "t"))
    racer.delete_keys([3, 7], on="doc_id")
    got = {(r.doc_id, r.body) for r in racer.read().collect()}
    assert (77, "raced-new") in got  # interloper's write survived
    assert not any(d == 3 or d == 7 for d, _ in got)  # erasure fully applied
    assert len(got) == 9  # 10 - {3,7} + {77}
    # gapless versions: the lost round never wrote a manifest
    assert [m["version"] for m in racer.history()] == [1, 2, 3]


def test_txstore_scan_and_rewrites_share_one_pruning_rule(spark, tmp_path):
    """The dirs a pruned read scans are exactly the dirs the matching
    rewrite touches: read(where_in=) vs delete_keys, and
    read(where_range=) vs delete_where(range_hint=) and
    merge(prune_col=). Dirs are pruned by partition spec, stats and
    bloom; a hinted column without stats on a dir cannot prune it, but
    another hinted column still can."""
    t = TxTable(spark, str(tmp_path / "t"))

    def add(keys, ts0, part=None, stats=("k", "ts"), blooms=("k",)):
        rows = [(k, ts0 + i, part or "z", f"v{k}") for i, k in enumerate(keys)]
        t.append(
            spark.createDataFrame(rows, "k long, ts long, part string, v string"),
            partition={"part": part} if part else None,
            stats_cols=list(stats),
            bloom_cols=list(blooms) or None,
        )

    add(range(0, 10), 100, part="a")
    add(range(10, 20), 200, part="b")
    add(range(20, 30), 300, stats=("k",))  # no ts stats
    add(range(30, 40), 400, blooms=())
    add(range(40, 100, 2), 500)  # even keys: same k range as the odd
    add(range(41, 100, 2), 600)  # dir, so only the blooms tell them apart
    base = t.latest_version()
    # name each dir by its smallest key
    label = {d: s["k"][0] for d, s in t._manifest(base)["stats"].items()}

    def scanned(**kw):
        return {label[d] for d in dirs_read(t.read(**kw))}

    def rewritten(op):
        before = t._manifest(t.latest_version())["dirs"]
        op()
        after = set(t._manifest(t.latest_version())["dirs"])
        t.restore(base)
        return {label[d] for d in before if d not in after}

    # point pruning by stats and bloom, then by partition spec
    assert scanned(where_in={"k": [5, 44]}) == {0, 40}
    assert rewritten(lambda: t.delete_keys([5, 44], on="k")) == {0, 40}
    assert scanned(where_in={"part": ["b"]}) == {10, 20, 30, 40, 41}
    assert rewritten(lambda: t.delete_keys(["b"], on="part")) == {10, 20, 30, 40, 41}

    # range pruning: the dir without ts stats is kept
    rng = {"ts": (150, 250)}
    assert scanned(where_range=rng) == {10, 20}
    assert rewritten(
        lambda: t.delete_where("ts BETWEEN 150 AND 250", range_hint=rng)
    ) == {10, 20}
    batch = spark.createDataFrame(
        [(1000, 150, "z", "new"), (1001, 250, "z", "new")],
        "k long, ts long, part string, v string",
    )
    assert rewritten(lambda: t.merge(batch, keys=["ts"], prune_col="ts")) == {10, 20}

    # two-column hint: k prunes the dir that has no ts stats
    rng2 = {"ts": (150, 350), "k": (0, 15)}
    assert scanned(where_range=rng2) == {10}
    assert rewritten(
        lambda: t.delete_where(
            "ts BETWEEN 150 AND 350 AND k BETWEEN 0 AND 15", range_hint=rng2
        )
    ) == {10}


# -- golden manifest matrix ---------------------------------------------------
# Every write that records stats or blooms (append, group commit, merge,
# optimize_clustered, retighten_blooms) must record exactly the entries
# the earlier per-site stats and bloom functions recorded. Each scenario
# below builds a table from deterministic input; its manifest's
# stats/blooms/schemas maps, keyed by dir POSITION (dir names are
# random) and hashed as canonical JSON, must equal the digests recorded
# from those functions.


def _golden_maps(t: TxTable) -> dict:
    import hashlib

    m = t._manifest(t.latest_version())
    pos = {d: i for i, d in enumerate(m["dirs"])}
    return {
        k: hashlib.sha256(
            json.dumps(
                {pos[d]: v for d, v in (m.get(k) or {}).items()}, sort_keys=True
            ).encode()
        ).hexdigest()[:16]
        for k in ("stats", "blooms", "schemas")
    }


def _golden_bloom_types(spark, t):
    rows = [
        (
            None if i % 17 == 0 else f"doc-{i}",
            i * 3 - 400,
            None if i % 23 == 0 else i * 2**40,
            i * 7 - 1000,
            i % 100 - 50,
        )
        for i in range(300)
    ]
    cols = ["s", "i", "b", "sm", "ti"]
    df = spark.createDataFrame(
        rows, "s string, i int, b bigint, sm smallint, ti tinyint"
    )
    t.append(df, stats_cols=cols, bloom_cols=cols)


def _golden_geometry(spark, t):
    for bits in (1024, 16384, 32768, 65536, 2**20):
        for k in (1, 5, 7):
            lo = bits // 8 + k
            df = spark.createDataFrame(
                [(lo + i * 13, f"g{bits}-{k}-{i}") for i in range(150)],
                "k long, s string",
            )
            t.append(df, bloom_cols=["k", "s"], bloom_bits=bits, bloom_k=k)


def _golden_edge_values(spark, t):
    import datetime as dt
    from decimal import Decimal

    t.append(
        spark.createDataFrame([(None, i) for i in range(20)], "s string, k long")
        .withColumn("k", F.lit(None).cast("long")),
        stats_cols=["s", "k"],
        bloom_cols=["s", "k"],
    )
    t.append(
        spark.createDataFrame([], "s string, k long"),
        stats_cols=["s", "k"],
        bloom_cols=["s", "k"],
    )
    rows = [
        (
            dt.datetime(2031, 6, 1, 12, 0, 0, 123457 + i),
            dt.date(2030, 1, 1 + i),
            Decimal(f"{i}.25"),
            float("nan") if i == 3 else i * 1.5,
            i * 0.25,
            f"v{i:03d}",
        )
        for i in range(10)
    ] + [
        (
            dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
            dt.date(1969, 7, 20),
            Decimal("-1.50"),
            -0.5,
            -2.0,
            "a",
        )
    ]
    t.append(
        spark.createDataFrame(
            rows,
            "ts timestamp, d date, dec decimal(10,2), fn double, f double, s string",
        ),
        stats_cols=["ts", "d", "dec", "fn", "f", "s"],
    )


def _golden_base(spark, t, **kw):
    for j in range(3):
        t.append(
            spark.createDataFrame(
                [
                    (
                        i * 3 + j,
                        None if i % 11 == 0 else f"s{i * 3 + j}",
                        (i * 3 + j) * 0.5,
                    )
                    for i in range(400)
                ],
                "k long, s string, v double",
            ),
            **kw,
        )


def _golden_optimize_explicit(spark, t):
    _golden_base(spark, t, stats_cols=["k"])
    t.optimize_clustered(
        "k", n_dirs=4, stats_cols=["k", "v"], bloom_cols=["k", "s"],
        bloom_bits=16384, bloom_k=5,
    )


def _golden_optimize_inherited(spark, t):
    _golden_base(
        spark, t, stats_cols=["k"], bloom_cols=["k", "s"], bloom_bits=65536,
        bloom_k=7,
    )
    t.optimize_clustered("k", n_dirs=3)


def _golden_merge(spark, t):
    _golden_base(spark, t, stats_cols=["k", "v"], bloom_cols=["k", "s"])
    batch = lambda ks: spark.createDataFrame(
        [(k, f"m{k}", k * 2.0) for k in ks], "k long, s string, v double"
    )
    t.merge(batch([5, 6, 7, 2000]), keys=["k"], prune_col="k")
    t.merge(batch([5000, 5001]), keys=["k"], prune_col="k")  # prunes every dir
    t.merge(batch([1, 900, 1199]), keys=["k"])


def _golden_retighten(spark, t):
    for j in range(3):
        t.append(
            spark.createDataFrame(
                [(i * 3 + j, f"r{i * 3 + j}") for i in range(1500)],
                "k long, s string",
            ),
            stats_cols=["k"],
            bloom_cols=["k", "s"],
            bloom_bits=1024,
        )
    t.delete_keys([4, 5, 3000], on="k")
    t.retighten_blooms(["k", "s"], fpr_threshold=0.01)


_GOLDEN_SCENARIOS = {
    "bloom_types": _golden_bloom_types,
    "geometry": _golden_geometry,
    "edge_values": _golden_edge_values,
    "optimize_explicit": _golden_optimize_explicit,
    "optimize_inherited": _golden_optimize_inherited,
    "merge": _golden_merge,
    "retighten": _golden_retighten,
}

_GOLDEN_MANIFESTS = {
    "bloom_types": {"stats": "ad6c4169c81cd43b", "blooms": "dce3d64a88879080", "schemas": "cb5c37824970c8ee"},
    "edge_values": {"stats": "6461a524204a2325", "blooms": "04dd757011222d08", "schemas": "2a6c7b6f1a12b5e3"},
    "geometry": {"stats": "44136fa355b3678a", "blooms": "e610eb3512f01e78", "schemas": "859fc8ca81d1124e"},
    "merge": {"stats": "8473595cc675a7a3", "blooms": "e2c8530025b4a7c8", "schemas": "473129acc9debab1"},
    "optimize_explicit": {"stats": "e6ce80737e6a5272", "blooms": "3c2c06a4d17cf4bf", "schemas": "23e0377f02f363d2"},
    "optimize_inherited": {"stats": "a39178f24d5cf7e6", "blooms": "e142d737b4833d75", "schemas": "a3f758e016947734"},
    "retighten": {"stats": "5a1c6f54e48b0966", "blooms": "2f015e0366da95cb", "schemas": "b45bc0fd853f909e"},
}


@pytest.mark.parametrize("scenario", sorted(_GOLDEN_SCENARIOS))
def test_txstore_golden_manifest_matrix(spark, tmp_path, scenario):
    t = TxTable(spark, str(tmp_path / "t"))
    _GOLDEN_SCENARIOS[scenario](spark, t)
    got = _golden_maps(t)
    assert got == _GOLDEN_MANIFESTS[scenario]


# -- metadata job budgets ----------------------------------------------------
# Stats and blooms are aggregates observed on the write (or one grouped
# pass for a clustered rewrite), so recording them costs no job of its own.


def test_txstore_append_stats_and_blooms_one_job(spark, spark_jobs, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, f"s{i}") for i in range(200)], "k long, s string"
    )
    _, n = spark_jobs(
        lambda: t.append(df, stats_cols=["k"], bloom_cols=["k", "s"])
    )
    assert n == 1
    m = t._manifest(t.latest_version())
    (d,) = m["dirs"]
    assert m["stats"][d] == {"k": [0, 199]}
    assert list(m["blooms"][d]) == ["k", "s"]


def test_txgroup_dedup_batch_commit_runs_only_its_writes(
    spark, spark_jobs, tmp_path, monkeypatch
):
    from hapiy_etl_spark.operators import txstore as TX
    from hapiy_etl_spark.streaming.jobs import ingest_dedup_batch

    # each staged frame is an anti-join against the pinned drop set, so
    # writing it plainly takes its own jobs (a broadcast + the write);
    # the commit, stats on the band index included, must take no more
    commit = TX.txgroup_commit_appends
    seen = []

    def counted(group_path, appends):
        plain = 0
        for i, a in enumerate(appends):
            out = str(tmp_path / f"plain-{len(seen)}-{i}")
            plain += spark_jobs(lambda: a["df"].write.parquet(out))[1]
        out, n = spark_jobs(lambda: commit(group_path, appends))
        seen.append((len(appends), n, plain))
        return out

    monkeypatch.setattr(TX, "txgroup_commit_appends", counted)
    c, s = str(tmp_path / "corpus"), str(tmp_path / "sigs")
    for e in (1, 2):
        batch = spark.createDataFrame(
            [
                (e * 100 + i, " ".join(f"e{e}d{i}w{j}" for j in range(20)))
                for i in range(30)
            ],
            "doc_id long, text string",
        )
        ingest_dedup_batch(batch, c, s, epoch_id=e, run_id="r")
    assert [(k, n) for k, n, _ in seen] == [(2, plain) for _, _, plain in seen]
    sig = TxTable(spark, s)
    m = sig._manifest(sig.latest_version())
    assert all(m["stats"][d]["bb"][0] is not None for d in m["dirs"])


def test_txgroup_commit_appends_with_pinned_thread_mode_off(spark, tmp_path, monkeypatch):
    # with PYSPARK_PIN_THREAD=false the py4j gateway is no ClientServer
    # and pyspark's inheritable_thread_target(spark) returns the session
    # itself; the stage pool must then run its plain callables
    import py4j.clientserver

    from hapiy_etl_spark.operators.txstore import txgroup_commit_appends
    from hapiy_etl_spark.session import with_caller_job_group

    monkeypatch.setattr(py4j.clientserver, "ClientServer", type("Other", (), {}))
    assert with_caller_job_group(spark, len) is len
    t1 = TxTable(spark, str(tmp_path / "t1"))
    t2 = TxTable(spark, str(tmp_path / "t2"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    vs = txgroup_commit_appends(
        str(tmp_path / "grp"),
        [{"table": t1, "df": df, "stats_cols": ["k"]}, {"table": t2, "df": df}],
    )
    assert vs == [1, 1]
    assert t1.read().count() == 2 and t2.read().count() == 2
    (d,) = t1._manifest(1)["dirs"]
    assert t1._manifest(1)["stats"][d] == {"k": [1, 2]}


def test_optimize_clustered_bloom_cols_add_no_job(spark, spark_jobs, tmp_path):
    df = spark.createDataFrame(
        [(i, f"s{i}", i * 0.5) for i in range(2000)], "k long, s string, v double"
    )
    jobs = {}
    for name, bloom_cols in (("plain", []), ("bloomed", ["k", "s"])):
        t = TxTable(spark, str(tmp_path / name))
        t.append(df)
        _, jobs[name] = spark_jobs(
            lambda: t.optimize_clustered("k", n_dirs=4, bloom_cols=bloom_cols)
        )
        m = t._manifest(t.latest_version())
        assert len(m["dirs"]) == 4
        assert all(list(m.get("blooms", {}).get(d, {})) == bloom_cols for d in m["dirs"])
    assert jobs["bloomed"] == jobs["plain"], jobs


# -- the lookup path: one SQL predicate --------------------------------------


def _parent_row_filter(df, where=None, where_in=None, where_range=None):
    """The row-level re-filter ``TxTable.read`` applied before it became
    one SQL predicate: one ``where`` per condition, every value an
    ``F.lit`` (names backtick-quoted so ``a`b`` parses)."""
    q = lambda k: F.col("`" + k.replace("`", "``") + "`")  # noqa: E731
    for k, val in (where or {}).items():
        df = df.where(q(k) == F.lit(val))
    for k, vals in (where_in or {}).items():
        df = df.where(q(k).isin(list(vals)))
    for k, (lo, hi) in (where_range or {}).items():
        if lo is not None:
            df = df.where(q(k) >= F.lit(lo))
        if hi is not None:
            df = df.where(q(k) <= F.lit(hi))
    return df


def test_sql_literal_spells_the_type_and_value_of_lit(spark):
    import datetime as dt
    from decimal import Decimal

    from hapiy_etl_spark.operators.txstore import _sql_literal

    vals = [
        None, True, False, 0, -1, 2**31 - 1, -(2**31), 2**31, -(2**31) - 1,
        2**63 - 1, -(2**63), 1.5, -0.0, float("nan"), float("inf"),
        float("-inf"), 5e-324, "", "it's", "back\\slash", "\\'", "50%", "a_b",
        "ünï ©ødé 日本", "line\nbreak", "\\\\u0041", dt.date(2024, 2, 29),
        dt.date(1000, 1, 1), Decimal("1.50"), Decimal("-0.001"), Decimal("0"),
        Decimal("12345678901234567890.123"),
    ]
    cols = []
    for i, v in enumerate(vals):
        text = _sql_literal(v)
        assert text is not None, v
        cols += [F.lit(v).alias(f"a{i}"), F.expr(text).alias(f"b{i}")]
    df = spark.range(1).select(*cols)
    types = {f.name: f.dataType for f in df.schema.fields}
    row = df.collect()[0]
    for i, v in enumerate(vals):
        assert types[f"a{i}"] == types[f"b{i}"], (v, _sql_literal(v))
        assert repr(row[f"a{i}"]) == repr(row[f"b{i}"]), (v, _sql_literal(v))
    # no exact spelling: F.lit's meaning depends on the process timezone
    # (naive datetime), on the value's zone, or shifts the value (the
    # 1582 calendar gap); an int outside int64 has no Spark type
    for v in (
        dt.datetime(2024, 1, 1, 12), dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc),
        dt.date(1582, 10, 10), Decimal("1E+2"), Decimal("NaN"), 2**64, b"x",
    ):
        assert _sql_literal(v) is None, v


def _literal_matrix_tables(spark, tmp_path):
    import datetime as dt
    from decimal import Decimal

    schema = (
        "id int, s string, i int, b bigint, f boolean, d double, day date, "
        "dec decimal(20,3), ts timestamp, `my col` string, `a``b` int, repo string"
    )
    rows = [
        (0, "it's", 2**31 - 1, 2**31, True, float("nan"), dt.date(2024, 2, 29),
         Decimal("12.345"), dt.datetime(2024, 1, 1, 12), "x y", 1, "r1"),
        (1, "back\\slash", -(2**31), -(2**31) - 1, False, float("inf"),
         dt.date(2024, 3, 1), Decimal("-0.001"), dt.datetime(2024, 1, 2), "", 2, "r'2"),
        (2, "50%", 0, 2**31 - 1, True, float("-inf"), dt.date(1999, 12, 31),
         Decimal("0.000"), dt.datetime(2023, 12, 31, 23, 59, 59, 999999), "ünï", 3, "r1"),
        (3, "a_b", 7, -(2**63), None, 1.5, None, None, None, None, None, "r1"),
        (4, "", None, 2**63 - 1, False, -0.0, dt.date(2024, 2, 29),
         Decimal("12345678901234567.123"), dt.datetime(2024, 1, 1, 12), "x y", 1, "r'2"),
        (5, "ünï ©ødé 日本", 5, None, True, None, dt.date(2000, 1, 1),
         Decimal("1.500"), dt.datetime(2024, 1, 3), "%", 9, "r3"),
        (6, "x'\\'y", -1, 5, False, 0.0, dt.date(2024, 1, 1), Decimal("2.000"),
         dt.datetime(2024, 1, 1), "_", 4, "r3"),
        (7, None, 1, 1, True, 2.5, dt.date(2024, 1, 1), Decimal("3.000"),
         dt.datetime(2024, 1, 1, 6), None, 5, "r1"),
    ]
    df = spark.createDataFrame(rows, schema)
    flat = TxTable(spark, str(tmp_path / "flat"))
    flat.append(df, stats_cols=["i", "b", "s", "day", "ts", "dec"], bloom_cols=["s", "b"])
    flat.append(df.where("id < 3"))  # a second dir, without metadata
    parted = TxTable(spark, str(tmp_path / "parted"))
    parted.merge(df, keys=["id"], partition_by=["repo"])
    return flat, parted


def test_txstore_read_literal_parity_matrix(spark, tmp_path):
    import datetime as dt
    from decimal import Decimal

    flat, parted = _literal_matrix_tables(spark, tmp_path)
    cases = [
        {"where": {"s": "it's"}},
        {"where": {"s": "back\\slash"}},
        {"where": {"s": "50%"}},
        {"where": {"s": "a_b"}},
        {"where": {"s": ""}},
        {"where": {"s": "ünï ©ødé 日本"}},
        {"where": {"s": "x'\\'y"}},
        {"where_in": {"s": ["it's", "back\\slash", "50%", "a_b", "", "x'\\'y", "nope"]}},
        {"where": {"i": 2**31 - 1}},
        {"where": {"i": -(2**31)}},
        {"where": {"i": 2**31}},
        {"where": {"b": 2**31}},
        {"where": {"b": -(2**31) - 1}},
        {"where": {"b": 2**31 - 1}},
        {"where_in": {"b": [2**31, -(2**31) - 1, 2**63 - 1, -(2**63), 5]}},
        {"where_in": {"i": [2**31 - 1, -(2**31), 2**31]}},
        {"where_range": {"b": (-(2**31) - 1, 2**31)}},
        {"where_range": {"i": (-(2**31), None)}},
        {"where": {"f": True}},
        {"where": {"f": False}},
        {"where": {"d": float("nan")}},
        {"where": {"d": float("inf")}},
        {"where": {"d": float("-inf")}},
        {"where_in": {"d": [float("nan"), 1.5, -0.0]}},
        {"where_range": {"d": (float("-inf"), 2.0)}},
        {"where": {"day": dt.date(2024, 2, 29)}},
        {"where_range": {"day": (dt.date(2000, 1, 1), dt.date(2024, 2, 29))}},
        {"where": {"dec": Decimal("12.345")}},
        {"where_in": {"dec": [Decimal("-0.001"), Decimal("1.5"), Decimal("0")]}},
        {"where_range": {"dec": (Decimal("0"), Decimal("12.345"))}},
        {"where": {"ts": dt.datetime(2024, 1, 1, 12)}},
        {"where_in": {"ts": [dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 3)]}},
        {"where_range": {"ts": (dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2))}},
        {"where": {"repo": "r'2"}},
        {"where_in": {"repo": ["r1", "r'2"]}},
        {"where": {"my col": "x y"}},
        {"where_in": {"my col": ["ünï", "%", "_"]}},
        {"where": {"a`b": 1}},
        {"where_range": {"a`b": (2, 4)}},
        {"where": {"s": None}},
        {
            "where": {"repo": "r1", "f": True},
            "where_in": {"i": [0, 7, 2**31 - 1], "ts": [dt.datetime(2024, 1, 1, 12), dt.datetime(2024, 1, 1)]},
            "where_range": {"b": (None, 2**31), "day": (dt.date(2024, 1, 1), None)},
        },
    ]
    for t in (flat, parted):
        matched = 0
        for case in cases:
            # repr: NaN == NaN, and rows sort by their unique id first
            got = sorted(map(repr, _rows(t.read(**case))))
            want = sorted(map(repr, _rows(_parent_row_filter(t.read(), **case))))
            assert got == want, (t.path.name, case)
            matched += bool(got)
        assert matched >= len(cases) - 4, matched  # the matrix is not vacuous


def test_txstore_warm_where_in_lookup_py4j_budget(spark, py4j_round_trips, tmp_path):
    # the ingest_mix lookup: 50 keys over a Hive-partitioned merge dir;
    # one SQL predicate (the per-condition Column form made 260)
    t = TxTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(f"{i:040x}", f"msg {i}", "org/repo") for i in range(500)],
        "commit_hash string, commit_message string, repo string",
    )
    t.merge(df, keys=["repo", "commit_hash"], partition_by=["repo"])
    keys = [f"{i:040x}" for i in range(0, 500, 10)]
    t.read(where_in={"commit_hash": keys[:3]})  # warm
    out, n = py4j_round_trips(lambda: t.read(where_in={"commit_hash": keys}))
    assert n <= 30, n
    assert sorted(r.commit_hash for r in out.collect()) == keys


def test_txstore_read_after_each_write_sees_the_new_snapshot(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(4)], "k long, v string"))
    fresh = lambda: _rows(TxTable(spark, str(t.path)).read())  # noqa: E731
    assert _rows(t.read()) == fresh()
    steps = [
        lambda: t.append(spark.createDataFrame([(9, "n")], "k long, v string")),
        lambda: t.merge(spark.createDataFrame([(1, "M"), (7, "m")], "k long, v string"), keys=["k"]),
        lambda: t.delete_keys([0, 9], on="k"),
        lambda: t.optimize(),
        lambda: t.restore(1),
    ]
    seen = []
    for step in steps:
        _rows(t.read(where_in={"k": [1, 2]}))  # this instance read the parent
        step()
        got = _rows(t.read())
        assert got == fresh()
        seen.append(got)
    assert seen[0][-1] == (9, "n") and (1, "M") in seen[1]
    assert (0, "v0") not in seen[2] and seen[-1] == _rows(t.read(version=1))


def test_txstore_read_of_vacuumed_version_raises_after_reading_it(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a")], "k long, v string"))
    assert _rows(t.read(version=1)) == [(1, "a")]
    t.overwrite(spark.createDataFrame([(2, "b")], "k long, v string"))
    t.vacuum(keep_last=1, min_age_s=0)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        t.read(version=1)
    assert _rows(t.read()) == [(2, "b")]


def test_txstore_two_reads_of_one_snapshot_join(spark, tmp_path):
    from hapiy_etl_spark.operators.upsert import table_diff

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(10)], "k long, v string"))
    lo = t.read(where_range={"k": (0, 5)})
    hi = t.read(where_range={"k": (3, 9)})
    # Column handles of two reads resolve to their own side
    j = lo.join(hi, lo.k == hi.k).select(lo.k, hi.v)
    assert _rows(j) == [(k, f"v{k}") for k in range(3, 6)]
    assert _rows(lo.join(hi, lo.k == hi.k, "left_anti")) == [(k, f"v{k}") for k in range(3)]
    d = table_diff(t.read(where_in={"k": [1, 2]}), t.read(), ["k"])
    assert _rows(d) == sorted(("I", k, f"v{k}") for k in range(10) if k not in (1, 2))
    # the keyed CDF fallback joins two reads of snapshots sharing dirs
    t.optimize()
    t.append(spark.createDataFrame([(10, "v10")], "k long, v string"))
    assert _rows(t.changes(1, keys=["k"])) == [(10, "v10")]


def test_txstore_caller_cache_does_not_change_later_reads(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    c = t.read().cache()
    assert c.count() == 2
    assert _rows(t.read(where={"k": 2})) == [(2, "b")]
    t.append(spark.createDataFrame([(3, "c")], "k long, v string"))
    assert _rows(t.read()) == [(1, "a"), (2, "b"), (3, "c")]
    c.unpersist()
    assert _rows(t.read(version=1)) == [(1, "a"), (2, "b")]
    assert not t.read(version=1).is_cached
    assert _rows(t.read(where_in={"k": [1, 3]})) == [(1, "a"), (3, "c")]


def test_txgroup_extra_append_keeps_bloom_geometry(spark, tmp_path):
    from hapiy_etl_spark.operators.txstore import txgroup_commit_appends
    from hapiy_etl_spark.streaming.jobs import ingest_dedup_batch

    df = spark.createDataFrame([(i, f"v{i}") for i in range(20)], "k long, v string")
    geom = {"bloom_cols": ["k"], "bloom_bits": 65536, "bloom_k": 3}

    def recorded(t):
        m = t._manifest(t.latest_version())
        bl = m["blooms"][m["dirs"][-1]]["k"]
        return bl["bits"], bl["k"]

    x = TxTable(spark, str(tmp_path / "x"))
    y = TxTable(spark, str(tmp_path / "y"))
    txgroup_commit_appends(
        str(tmp_path / "grp"), [{"table": x, "df": df, **geom}, {"table": y, "df": df}]
    )
    assert recorded(x) == (65536, 3)
    # the dedup batch's extra appends ride the same group commit
    mv = TxTable(spark, str(tmp_path / "mv"))
    batch = spark.createDataFrame(
        [(i, " ".join(f"d{i}w{j}" for j in range(20))) for i in range(10)],
        "doc_id long, text string",
    )
    ingest_dedup_batch(
        batch, str(tmp_path / "corpus"), str(tmp_path / "sigs"), epoch_id=1, run_id="r",
        extra_appends=lambda s: [{"table": mv, "df": s.selectExpr("doc_id AS k"), **geom}],
    )
    assert recorded(mv) == (65536, 3)
