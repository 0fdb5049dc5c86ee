"""Reference-parity pipeline tests (SURVEY.md §5.4): projection/fallback
semantics, idempotence across overlapping batches, watermark
monotonicity, repo namespacing. Fixture per FIXTURES.md table 11."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from hapiy_etl_spark.pipeline.ingest import (
    JsonCommitsSource,
    PipelineConfig,
    RestCommitsSource,
    parse_commits,
)
from hapiy_etl_spark.pipeline.reference_flow import TxCommitsPipeline


def wire_row(sha, author_email, author_date, committer_email, committer_date, message="m"):
    return {
        "sha": sha,
        "commit": {
            "author": {"email": author_email, "date": author_date},
            "committer": {"email": committer_email, "date": committer_date},
            "message": message,
        },
    }


BATCH1 = [
    # normal row
    wire_row("aaa", "a@x.com", "2024-01-01T10:00:00Z", "c@x.com", "2024-01-01T10:00:05Z"),
    # author date null → BOTH ts and email fall back to committer
    # even though author email exists (git_etl.ts:100-105)
    wire_row("bbb", "author@x.com", None, "committer@x.com", "2024-01-02T11:00:00Z"),
    # both dates null → null commit_ts (watermark must skip it)
    wire_row("ccc", "c3@x.com", None, "c3c@x.com", None),
    # same-second siblings (watermark edge, git_etl.ts:321-324)
    wire_row("dd1", "d@x.com", "2024-01-03T12:00:00Z", None, None),
    wire_row("dd2", "d@x.com", "2024-01-03T12:00:00Z", None, None),
]

BATCH2 = [
    # duplicate sha re-delivered (idempotent upsert, git_etl.ts:127-132)
    wire_row("dd2", "d@x.com", "2024-01-03T12:00:00Z", None, None),
    # genuinely new commit
    wire_row("eee", "e@x.com", "2024-01-04T09:00:00Z", None, None),
]


def write_fixture(tmp_path, rows, name):
    p = tmp_path / name
    p.write_text("\n".join(json.dumps(r) for r in rows))
    return str(p)


def test_parse_commits_fallback_semantics(spark, tmp_path):
    src = JsonCommitsSource(write_fixture(tmp_path, BATCH1, "b1.jsonl"))
    out = {r.commit_hash: r for r in parse_commits(src.fetch(spark, None), "repo1").collect()}
    assert len(out) == 5
    # normal: author wins for both fields
    assert out["aaa"].commit_email == "a@x.com"
    assert out["aaa"].commit_ts.isoformat() == "2024-01-01T10:00:00"
    # author date null: BOTH swap to committer — author email discarded
    assert out["bbb"].commit_email == "committer@x.com"
    assert out["bbb"].commit_ts.isoformat() == "2024-01-02T11:00:00"
    # both dates null → null ts, committer email (possibly null)
    assert out["ccc"].commit_ts is None
    assert out["ccc"].commit_email == "c3c@x.com"
    assert out["dd1"].repo == "repo1"


def test_pipeline_idempotent_and_watermarked(spark, tmp_path):
    cfg = PipelineConfig(repo="repo1", owner="o", state_dir=str(tmp_path / "state"))
    b1 = write_fixture(tmp_path, BATCH1, "b1.jsonl")
    b2 = write_fixture(tmp_path, BATCH1 + BATCH2, "b12.jsonl")

    pipe = TxCommitsPipeline(cfg, JsonCommitsSource(b1), spark)
    assert pipe.run_once(spark) == 5
    assert pipe.state(spark).count() == 5
    wm1 = pipe._wm.get("repo1")
    assert wm1.isoformat() == "2024-01-03T12:00:00"  # null ts skipped (R8)

    # tick 2 over overlapping data: only rows strictly after the
    # watermark are fetched (strict > ≡ reference's +1s intent, R9) and
    # re-delivered keys upsert idempotently (R6)
    pipe.source = JsonCommitsSource(b2)
    n = pipe.run_once(spark)
    assert n == 1  # only 'eee' — dd2 is at, not after, the watermark
    state = pipe.state(spark)
    assert state.count() == 6
    assert state.where(F.col("commit_hash") == "dd2").count() == 1
    wm2 = pipe._wm.get("repo1")
    assert wm2 > wm1 and wm2.isoformat() == "2024-01-04T09:00:00"

    # tick 3, no new data → no-op, watermark unchanged
    assert pipe.run_once(spark) == 0
    assert pipe._wm.get("repo1") == wm2


def test_pipeline_repo_namespacing(spark, tmp_path):
    state_dir = str(tmp_path / "state")
    b1 = write_fixture(tmp_path, BATCH1, "b1.jsonl")
    p1 = TxCommitsPipeline(PipelineConfig(repo="repo1", owner="o", state_dir=state_dir), JsonCommitsSource(b1), spark)
    p1.run_once(spark)
    # second repo shares the state table; clear_on_startup=False to keep it
    p2 = TxCommitsPipeline(
        PipelineConfig(repo="repo2", owner="o", state_dir=state_dir, clear_on_startup=False),
        JsonCommitsSource(write_fixture(tmp_path, BATCH2, "b2.jsonl")),
        spark,
    )
    p2.run_once(spark)
    # prefix scan ≡ partition pruning: each pipeline sees only its repo (R7)
    assert p1.state(spark).count() == 5
    assert p2.state(spark).count() == 2
    assert set(r.repo for r in p2.state(spark).collect()) == {"repo2"}


def test_pipeline_clear_on_startup(spark, tmp_path):
    state_dir = str(tmp_path / "state")
    b1 = write_fixture(tmp_path, BATCH1, "b1.jsonl")
    p1 = TxCommitsPipeline(PipelineConfig(repo="repo1", owner="o", state_dir=state_dir), JsonCommitsSource(b1), spark)
    p1.run_once(spark)
    # clear_on_startup=True truncates prior state (R10)
    p2 = TxCommitsPipeline(PipelineConfig(repo="repo1", owner="o", state_dir=state_dir), JsonCommitsSource(b1), spark)
    assert p2.state(spark).count() == 0
    assert p2.run_once(spark) == 5


def test_config_validation():
    with pytest.raises(ValueError, match="repo"):
        PipelineConfig(repo="")
    with pytest.raises(ValueError, match="boolean"):
        PipelineConfig(clear_on_startup="yes")  # type: ignore[arg-type]


def test_rest_source_paginates(spark):
    # 250 commits → 3 pages at per_page=100; injectable fetch, no network
    def fake_fetch(owner, repo, page, since):
        start, end = (page - 1) * 100, min(page * 100, 250)
        return [
            json.dumps(wire_row(f"sha{i}", "a@x", f"2024-01-01T00:{i % 60:02d}:00Z", None, None))
            for i in range(start, end)
        ]

    src = RestCommitsSource("o", "r", fake_fetch)
    df = src.fetch(spark, None)
    assert df.count() == 250
    parsed = parse_commits(df, "r")
    assert parsed.where(F.col("commit_ts").isNull()).count() == 0


def test_config_cron_and_token_validation():
    """R13 cron parseability + R14 flag-gated env credential."""
    import os

    import pytest as _pytest

    from hapiy_etl_spark.pipeline.ingest import PipelineConfig, cron_interval_seconds

    with _pytest.raises(ValueError, match="cron_schedule"):
        PipelineConfig(cron_schedule="every five minutes")
    with _pytest.raises(ValueError, match="cron_schedule"):
        PipelineConfig(cron_schedule="*/5 * * *")  # 4 fields
    with _pytest.raises(ValueError, match="use_github_token"):
        PipelineConfig(use_github_token="yes")  # type: ignore[arg-type]

    assert cron_interval_seconds("*/5 * * * *") == 300
    assert cron_interval_seconds("*/1 * * * *") == 60
    assert cron_interval_seconds("0 3 * * *") is None  # not an every-N form

    cfg = PipelineConfig(use_github_token=True, token_env="FAKE_REST_PAT")
    assert cfg.resolve_token() == os.environ["FAKE_REST_PAT"]  # set in conftest
    assert PipelineConfig(use_github_token=False).resolve_token() is None


def test_rest_source_token_passthrough(spark):
    """R14 end-to-end: config flag -> env token -> fetcher kwarg."""
    from hapiy_etl_spark.pipeline.ingest import PipelineConfig, RestCommitsSource

    seen_tokens = []

    def fetch_page(owner, repo, page, since, token=None):
        seen_tokens.append(token)
        return []  # one empty page ends the loop

    cfg = PipelineConfig(use_github_token=True, token_env="FAKE_REST_PAT")
    src = RestCommitsSource("o", "r", fetch_page, token=cfg.resolve_token())
    src.fetch(spark, None)
    assert seen_tokens == ["s3cret"]

    # flag off -> plain 4-arg call, no token kwarg
    calls = []

    def fetch_plain(owner, repo, page, since):
        calls.append(page)
        return []

    RestCommitsSource("o", "r", fetch_plain, token=PipelineConfig().resolve_token()).fetch(
        spark, None
    )
    assert calls == [1]


def _drift_state(spark, pipe, transform):
    """Rewrite the pipeline's state table through ``transform`` —
    simulates a state table written by a different pipeline version."""
    pipe.table.overwrite(transform(pipe.table.read(merge_schema=True)))


def test_pipeline_schema_preflight_rejects_drift(spark, tmp_path):
    """on_schema_drift='fail' (default): a drifted state table stops the
    tick before any write — the Spark analogue of the reference's fixed
    compile-time schema (git_etl.ts:17-22)."""
    from hapiy_etl_spark.pipeline.ingest import SchemaDriftError

    cfg = PipelineConfig(repo="r", owner="o", state_dir=str(tmp_path / "state"))
    pipe = TxCommitsPipeline(cfg, JsonCommitsSource(write_fixture(tmp_path, BATCH1, "b1.jsonl")), spark)
    assert pipe.run_once(spark) == 5

    # older-version state carries an extra column the batch lacks
    _drift_state(spark, pipe, lambda df: df.withColumn("stars", F.lit(7)))
    pipe.source = JsonCommitsSource(write_fixture(tmp_path, BATCH1 + BATCH2, "b12.jsonl"))
    before = sorted(r.commit_hash for r in pipe.state(spark).collect())
    with pytest.raises(SchemaDriftError, match="stars"):
        pipe.run_once(spark)
    # nothing was written and the watermark did not advance
    assert sorted(r.commit_hash for r in pipe.state(spark).collect()) == before


def test_pipeline_schema_preflight_evolves_additive_drift(spark, tmp_path):
    """on_schema_drift='evolve': added/removed columns merge as nulls;
    the new batch still upserts and the watermark advances."""
    cfg = PipelineConfig(
        repo="r", owner="o", state_dir=str(tmp_path / "state"), on_schema_drift="evolve"
    )
    pipe = TxCommitsPipeline(cfg, JsonCommitsSource(write_fixture(tmp_path, BATCH1, "b1.jsonl")), spark)
    assert pipe.run_once(spark) == 5

    # drift BOTH ways: state gains 'stars' (batch lacks it) and loses
    # 'commit_email' (batch adds it back)
    _drift_state(
        spark, pipe, lambda df: df.withColumn("stars", F.lit(7)).drop("commit_email")
    )
    pipe.source = JsonCommitsSource(write_fixture(tmp_path, BATCH1 + BATCH2, "b12.jsonl"))
    # only strictly-past-watermark rows are fetched (dd2 sits AT the
    # watermark and is not re-delivered)
    assert pipe.run_once(spark) == 1
    out = pipe.table.read(merge_schema=True)
    assert {"stars", "commit_email"} <= set(out.columns)
    rows = {r.commit_hash: r for r in out.collect()}
    assert set(rows) == {"aaa", "bbb", "ccc", "dd1", "dd2", "eee"}
    assert rows["eee"].stars is None  # new batch null-padded
    assert rows["eee"].commit_email == "e@x.com"
    assert rows["aaa"].stars == 7  # survivor kept its evolved column
    assert rows["aaa"].commit_email is None  # dropped column reads null


def test_pipeline_schema_preflight_never_evolves_retyped(spark, tmp_path):
    from hapiy_etl_spark.pipeline.ingest import SchemaDriftError

    cfg = PipelineConfig(
        repo="r", owner="o", state_dir=str(tmp_path / "state"), on_schema_drift="evolve"
    )
    pipe = TxCommitsPipeline(cfg, JsonCommitsSource(write_fixture(tmp_path, BATCH1, "b1.jsonl")), spark)
    assert pipe.run_once(spark) == 5
    _drift_state(
        spark, pipe, lambda df: df.withColumn("commit_ts", F.col("commit_ts").cast("string"))
    )
    pipe.source = JsonCommitsSource(write_fixture(tmp_path, BATCH1 + BATCH2, "b12.jsonl"))
    with pytest.raises(SchemaDriftError, match="retyped"):
        pipe.run_once(spark)


def test_reference_flow_three_ticks_with_drift_in_the_middle(spark, tmp_path):
    """The full git_etl.ts:318-355 daemon composed from production
    components (pipeline/reference_flow): CronLoop ticks on the cron
    grid in virtual time, each tick does watermark → incremental fetch
    → projection → schema pre-flight → atomic TxTable MERGE. Tick 2
    hits a schema-drifted state table (evolved by "another pipeline
    version" between ticks) and merge-evolves; tick 3 runs clean on the
    evolved table. Overlapping deliveries never duplicate (keyed MERGE
    ≡ the KV's idempotent set) and every tick stays time-travelable."""
    from hapiy_etl_spark.pipeline.reference_flow import TxCommitsPipeline

    b1 = write_fixture(tmp_path, BATCH1, "b1.jsonl")
    b12 = write_fixture(tmp_path, BATCH1 + BATCH2, "b12.jsonl")
    b3 = write_fixture(
        tmp_path,
        BATCH1 + BATCH2 + [wire_row("fff", "f@x.com", "2024-01-05T08:00:00Z", None, None)],
        "b3.jsonl",
    )
    cfg = PipelineConfig(
        repo="r",
        owner="o",
        state_dir=str(tmp_path / "state"),
        cron_schedule="*/5 * * * *",
        on_schema_drift="evolve",
    )
    pipe = TxCommitsPipeline(cfg, JsonCommitsSource(b1), spark)

    # virtual-time cron; each tick also swaps the source to the next
    # delivery and tick 2 additionally drifts the state table first
    now = {"t": 0.0}
    feeds = iter(
        [
            (b1, False),
            (b12, True),  # drift lands before tick 2
            (b3, False),
        ]
    )
    base_run = pipe.run_once

    def run_with_feed(spark_arg):
        path, drift = next(feeds)
        pipe.source = JsonCommitsSource(path)
        if drift:
            from pyspark.sql import functions as F

            evolved = pipe.table.read().withColumn("stars", F.lit(7))
            pipe.table.overwrite(evolved)
        return base_run(spark)

    pipe.run_once = run_with_feed  # feed rotation is test plumbing only
    res = pipe.run_scheduled(
        spark,
        max_ticks=3,
        clock=lambda: now["t"],
        sleep=lambda s: now.__setitem__("t", now["t"] + s),
    )
    assert [r.ok for r in res] == [True, True, True]
    assert [r.scheduled_at for r in res] == [0.0, 300.0, 600.0]  # */5 grid

    out = {r.commit_hash: r for r in pipe.state(spark).collect()}
    assert set(out) == {"aaa", "bbb", "ccc", "dd1", "dd2", "eee", "fff"}
    assert out["aaa"].stars == 7  # evolved column survived the merges
    assert out["fff"].stars is None  # post-drift rows null-padded
    # time travel: the tick-1 snapshot is still readable and 5 rows
    assert pipe.table.read(version=1).count() == 5
    # watermark advanced monotonically to the newest effective ts
    assert pipe._wm.get("r").isoformat().startswith("2024-01-05T08:00:00")


def test_reference_flow_fail_mode_isolates_drifted_tick(spark, tmp_path):
    """Under on_schema_drift='fail' a drifted tick errors, the daemon
    keeps running (fire-and-log, git_etl.ts cron semantics), and no
    partial write lands — the snapshot version did not advance."""
    from hapiy_etl_spark.pipeline.reference_flow import TxCommitsPipeline

    b1 = write_fixture(tmp_path, BATCH1, "b1.jsonl")
    b12 = write_fixture(tmp_path, BATCH1 + BATCH2, "b12.jsonl")
    cfg = PipelineConfig(repo="r", owner="o", state_dir=str(tmp_path / "state"))
    pipe = TxCommitsPipeline(cfg, JsonCommitsSource(b1), spark)
    assert pipe.run_once(spark) == 5
    from pyspark.sql import functions as F

    pipe.table.overwrite(pipe.table.read().withColumn("stars", F.lit(7)))
    v_before = pipe.table.latest_version()
    pipe.source = JsonCommitsSource(b12)

    now = {"t": 0.0}
    res = pipe.run_scheduled(
        spark,
        max_ticks=1,
        clock=lambda: now["t"],
        sleep=lambda s: now.__setitem__("t", now["t"] + s),
    )
    assert res[0].ok is False and "drift" in res[0].error
    assert pipe.table.latest_version() == v_before  # no partial write


def test_reference_flow_state_read_prunes_repo_partition(spark, tmp_path):
    """The KV prefix scan (R7) at the file index: the TxTable snapshot
    is laid out one Hive subdir per repo, so state() pushes the repo
    equality into PartitionFilters — file-level pruning, not a row
    filter after a full scan."""
    from hapiy_etl_spark.pipeline.reference_flow import TxCommitsPipeline

    b1 = write_fixture(tmp_path, BATCH1, "b1.jsonl")
    b2 = write_fixture(tmp_path, BATCH2, "b2.jsonl")
    state_dir = str(tmp_path / "state")
    pipe_a = TxCommitsPipeline(
        PipelineConfig(repo="repo-a", owner="o", state_dir=state_dir),
        JsonCommitsSource(b1),
        spark,
    )
    pipe_a.run_once(spark)
    # clear_on_startup=False: the second pipeline SHARES the store
    # (namespaced by repo, the reference's KV prefix) and must not
    # truncate the first one's data
    pipe_b = TxCommitsPipeline(
        PipelineConfig(
            repo="repo-b", owner="o", state_dir=state_dir, clear_on_startup=False
        ),
        JsonCommitsSource(b2),
        spark,
    )
    pipe_b.run_once(spark)

    st = pipe_a.state(spark)
    hashes = {r.commit_hash for r in st.collect()}
    assert hashes == {r["sha"] for r in BATCH1}
    plan = st._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "repo-a" in plan, plan[:1500]
    # cross-check: repo-b's rows exist in the shared table but not in
    # the pruned read
    assert {r.commit_hash for r in pipe_b.state(spark).collect()} == {
        r["sha"] for r in BATCH2
    }


def test_reference_flow_append_mode_prunes_and_dedups_across_ticks(spark, tmp_path):
    """The daemon's insert-only sink (sink_mode='append'): each tick
    anti-joins against the repo-pruned state and appends ONLY fresh
    rows with a partition spec, so (a) re-delivered commits never
    duplicate even without MERGE's copy-on-write, (b) state() reads
    prune the OTHER repo's dirs at the manifest — inputFiles proves
    repo-b's appended dirs are never even listed for repo-a's read —
    across two pipelines sharing one store and two ticks each."""
    from hapiy_etl_spark.pipeline.reference_flow import TxCommitsPipeline

    b1 = write_fixture(tmp_path, BATCH1, "b1.jsonl")
    b12 = write_fixture(tmp_path, BATCH1 + BATCH2, "b12.jsonl")
    b2 = write_fixture(tmp_path, BATCH2, "b2.jsonl")
    state_dir = str(tmp_path / "state")
    pipe_a = TxCommitsPipeline(
        PipelineConfig(repo="repo-a", owner="o", state_dir=state_dir),
        JsonCommitsSource(b1),
        spark,
        sink_mode="append",
    )
    pipe_b = TxCommitsPipeline(
        PipelineConfig(
            repo="repo-b", owner="o", state_dir=state_dir, clear_on_startup=False
        ),
        JsonCommitsSource(b2),
        spark,
        sink_mode="append",
    )
    # tick 1 for both repos: dd2 exists under repo-a too, but the key
    # is (repo, commit_hash) — repo-b's copy is its own fresh row
    assert pipe_a.run_once(spark) == 5
    assert pipe_b.run_once(spark) == 2
    # tick 2: repo-a's delivery overlaps tick 1 (dd2 re-sent) — only
    # the genuinely new commit lands
    pipe_a.source = JsonCommitsSource(b12)
    assert pipe_a.run_once(spark) == 1  # just "eee"
    # replay of the landed batch (crash between append and watermark
    # advance): the anti-join removes everything, nothing commits
    v = pipe_a.table.latest_version()
    from hapiy_etl_spark.pipeline.ingest import parse_commits as _pc

    replay = _pc(spark.read.json(b12), "repo-a")
    assert pipe_a._append_tick(replay) == 0
    assert pipe_a.table.latest_version() == v

    # content per repo is exact and disjoint
    a_hashes = {r.commit_hash for r in pipe_a.state(spark).collect()}
    assert a_hashes == {r["sha"] for r in BATCH1} | {r["sha"] for r in BATCH2}
    assert {r.commit_hash for r in pipe_b.state(spark).collect()} == {
        r["sha"] for r in BATCH2
    }

    # manifest-level pruning: repo-a's read never lists repo-b's dir
    manifest = pipe_a.table._manifest(pipe_a.table.latest_version())
    b_dirs = [
        d for d, p in manifest.get("partitions", {}).items() if p == {"repo": "repo-b"}
    ]
    assert b_dirs, "repo-b's append must carry a partition spec"
    files_a = pipe_a.state(spark).inputFiles()
    assert files_a and not any(bd in f for bd in b_dirs for f in files_a)


def test_reference_flow_retention_expire_prunes_young_dirs(spark, tmp_path):
    """expire_before on the append-mode daemon: commit_ts stats let the
    retention delete carry young dirs forward untouched (same dir ids
    in the manifest), null-commit_ts rows survive (ANSI semantics), and
    the expired rows are gone."""
    import datetime as dt

    from hapiy_etl_spark.pipeline.reference_flow import TxCommitsPipeline

    b1 = write_fixture(tmp_path, BATCH1, "b1.jsonl")  # ts 2024-01-01..03 + null
    b12 = write_fixture(tmp_path, BATCH1 + BATCH2, "b12.jsonl")  # adds 2024-01-04
    pipe = TxCommitsPipeline(
        PipelineConfig(repo="r", owner="o", state_dir=str(tmp_path / "state")),
        JsonCommitsSource(b1),
        spark,
        sink_mode="append",
    )
    assert pipe.run_once(spark) == 5
    pipe.source = JsonCommitsSource(b12)
    assert pipe.run_once(spark) == 1  # "eee" @ 2024-01-04
    m_before = pipe.table._manifest(pipe.table.latest_version())
    young_dir = m_before["dirs"][-1]

    pipe.expire_before(dt.datetime(2024, 1, 3))
    m = pipe.table._manifest(pipe.table.latest_version())
    assert young_dir in m["dirs"]  # young dir carried forward untouched
    out = {r.commit_hash: r.commit_ts for r in pipe.state(spark).collect()}
    # aaa (01-01) and bbb (01-02) expired; ccc has NULL ts and SURVIVES;
    # dd1/dd2 (01-03) and eee (01-04) are at/after the cutoff
    assert set(out) == {"ccc", "dd1", "dd2", "eee"}
    assert out["ccc"] is None
