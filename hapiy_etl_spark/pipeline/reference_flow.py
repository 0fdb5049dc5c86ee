"""The reference's full daemon loop, production-composed.

``git_etl.ts:318-355`` is the reference's whole runtime: open the KV
store, register a cron job, and on every tick read the watermark,
fetch commits since it, project them, and upsert by key. This module
is that loop built from the engine's production components — the one
documented entry point that engages everything at once:

- R12 cron loop          → ``pipeline/scheduler.CronLoop`` (grid-
  aligned ticks, failure isolation, circuit breaker)
- R8/R9 watermark        → ``operators/watermark.WatermarkStore``
  (persisted sidecar, strict ``>`` advance — no same-second loss)
- R1/R2 incremental fetch→ any source with ``fetch(spark, since)``
  (JsonCommitsSource fixture / RestCommitsSource paginated HTTP)
- R3/R4/R5 projection    → ``pipeline/ingest.parse_commits``
- schema pre-flight      → ``pipeline/ingest.check_schema_drift``
  (the reference's fixed compile-time schema, git_etl.ts:17-22,
  re-expressed as an explicit drift gate: fail or merge-evolve)
- R6 keyed upsert sink   → ``operators/txstore.TxTable.merge`` — the
  transactional store, so every tick is an atomic snapshot commit:
  idempotent by key (the KV's ``set`` semantics), atomic by manifest
  (readers never see a torn tick), time-travelable (the KV never was),
  and safe under concurrent writers (optimistic retry).

Scale posture: each tick is one declarative DataFrame plan — fetch
lands as a distributed scan, the MERGE anti-join shuffles on
(repo, commit_hash) and broadcast-joins when the batch is small, and
the state table compacts via ``TxTable.optimize`` without pausing the
loop (copy-on-write). The loop itself holds no data on the driver
beyond the watermark timestamp.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hapiy_etl_spark.operators.metrics import observed
from hapiy_etl_spark.operators.txstore import TxTable
from hapiy_etl_spark.operators.watermark import WatermarkStore
from hapiy_etl_spark.pipeline.ingest import (
    COMMIT_SCHEMA,
    PipelineConfig,
    check_schema_drift,
    cron_interval_seconds,
    parse_commits,
)
from hapiy_etl_spark.pipeline.scheduler import CronLoop, TickResult

log = logging.getLogger(__name__)


class TxCommitsPipeline:
    """Incremental commit ingestion onto a transactional snapshot store.

    Per tick: watermark → fetch → project → pre-flight → keyed upsert
    through ``TxTable.merge``. Every tick is an atomic versioned commit,
    so a crash mid-tick leaves the previous snapshot fully readable and
    the tick simply re-runs (idempotent by key — re-merged rows
    overwrite themselves).
    """

    def __init__(
        self,
        config: PipelineConfig,
        source,
        spark: SparkSession,
        sink_mode: str = "merge",
    ) -> None:
        if sink_mode not in ("merge", "append"):
            raise ValueError(f"sink_mode must be 'merge' or 'append': {sink_mode!r}")
        self.config = config
        self.source = source
        self.sink_mode = sink_mode
        if config.clear_on_startup:  # R10
            import shutil

            shutil.rmtree(config.state_dir, ignore_errors=True)
            config.clear_on_startup = False
        self.table = TxTable(spark, f"{config.state_dir}/commits_tx")
        self._wm = WatermarkStore(f"{config.state_dir}/watermarks.json")

    def state(self, spark: SparkSession) -> DataFrame:
        """Current snapshot, pruned to this pipeline's repo (R7).

        ``read(where=...)`` engages BOTH pruning tiers: dirs appended
        with a ``partition={"repo": ...}`` spec are skipped at the
        MANIFEST (never listed), and Hive-partitioned merge dirs get
        Spark's native PartitionFilters on the residual equality — the
        KV prefix scan at the file index either way. A never-written
        table reads as an empty ``COMMIT_SCHEMA`` frame."""
        if self.table.latest_version() == 0:
            return spark.createDataFrame([], COMMIT_SCHEMA)
        return self.table.read(merge_schema=True, where={"repo": self.config.repo})

    def run_once(self, spark: SparkSession) -> int:
        """One tick ≡ git_etl.ts:318-331, ending in an atomic commit."""
        repo = self.config.repo
        since = self._wm.get(repo)
        wire = self.source.fetch(spark, since)
        # one pass over the wire batch: the pin materializes the tick,
        # and its count and newest commit_ts ride it as observed metrics
        parsed, seen = observed(
            parse_commits(wire, repo),
            "tick",
            F.count(F.lit(1)).alias("n"),
            F.max("commit_ts").alias("newest"),
        )
        parsed = parsed.localCheckpoint(eager=True)
        n = seen.get["n"]
        log.info("tick: %d commits for %s since %s", n, repo, since)  # R15
        if n == 0:
            return 0
        evolve = False
        if self.table.latest_version() > 0:
            evolve = check_schema_drift(
                self.table.read(merge_schema=True),
                parsed,
                self.config.on_schema_drift,
                str(self.table.path),
            )
        if self.sink_mode == "append":
            n = self._append_tick(parsed)
        else:
            # partition_by("repo"): the snapshot lays out one Hive-style
            # subdir per repo, so state() reads prune to this pipeline's
            # repo at the file index (R7, the KV prefix scan) instead of
            # filtering rows after a full-table scan.
            self.table.merge(
                parsed,
                keys=["repo", "commit_hash"],
                allow_missing_columns=evolve,
                partition_by=["repo"],
            )
        self._wm.advance_to(repo, seen.get["newest"])
        return n

    def _append_tick(self, parsed: DataFrame) -> int:
        """Insert-only sink: anti-join the batch against THIS repo's
        already-landed keys (a manifest-pruned read — only this repo's
        dirs are listed), append the survivors as one new dir carrying
        a ``partition={"repo": ...}`` spec. Commits are immutable, so
        for this source insert-only ≡ keyed MERGE — minus merge's
        copy-on-write of the whole table every tick: at 100 TB the
        append path writes O(batch) while merge rewrites O(table).
        Idempotent like the KV set: a re-delivered tick (crash between
        commit and watermark advance) anti-joins to zero rows and lands
        nothing. Returns the number of NEW rows appended."""
        from hapiy_etl_spark.operators.upsert import dedup_by_key

        repo = self.config.repo
        # within-batch dedup first: a paginated fetch can deliver the
        # same commit twice (page-boundary overlap) and the anti-join
        # below only sees ALREADY-LANDED keys — without this, both
        # copies pass and persist, diverging from merge-mode (which
        # dedups via upsert_by_key)
        fresh = dedup_by_key(parsed, ["repo", "commit_hash"], order_col="commit_ts")
        if self.table.latest_version() > 0:
            existing = self.table.read(
                merge_schema=True, where={"repo": repo}
            ).select("repo", "commit_hash")
            fresh = fresh.join(existing, ["repo", "commit_hash"], "left_anti")
        n = fresh.count()
        if n:
            # stats_cols: each appended dir records its commit_ts
            # [min, max], so time-windowed reads over the commit log
            # (read(where_range={"commit_ts": ...})) prune to the ticks
            # overlapping the window — batches arrive in time order, so
            # the ranges barely overlap
            self.table.append(
                fresh, partition={"repo": repo}, stats_cols=["commit_ts"]
            )
        return n

    def expire_before(self, ts) -> int:
        """Retention DELETE over the commit log: drop rows whose
        commit_ts predates ``ts``. The append sink records per-dir
        commit_ts [min, max] stats, so the delete rewrites ONLY the
        dirs overlapping the expired window (range_hint file pruning) —
        at 100 TB, retention touches the old tail, not the table. Rows
        with a NULL commit_ts (both wire dates null, R4) are never
        expired: ANSI DELETE semantics keep null-condition rows."""
        return self.table.delete_where(
            f"commit_ts < TIMESTAMP '{ts.isoformat()}'",
            range_hint={"commit_ts": (None, ts)},
        )

    def run_scheduled(
        self,
        spark: SparkSession,
        max_ticks: int | None = None,
        clock=None,
        sleep=None,
        max_consecutive_failures: int = 3,
    ) -> list[TickResult]:
        """The resident daemon (R11+R12): fire ``run_once`` on the
        config's cron grid until ``max_ticks``. A failed tick (drift
        under 'fail', a transient fetch error) is logged and isolated —
        the next tick still fires — with a consecutive-failure circuit
        breaker. Interval derives from ``cron_schedule`` exactly as the
        streaming route derives its processingTime trigger."""
        interval = cron_interval_seconds(self.config.cron_schedule) or 60
        kwargs = {}
        if clock is not None:
            kwargs["clock"] = clock
        if sleep is not None:
            kwargs["sleep"] = sleep
        loop = CronLoop(
            job=lambda: self.run_once(spark),
            interval_s=interval,
            max_consecutive_failures=max_consecutive_failures,
            **kwargs,
        )
        return loop.run(max_ticks)
