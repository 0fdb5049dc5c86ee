"""Incremental commit-ingestion pipeline — reference-parity semantics.

Re-expresses the reference's per-tick plan (git_etl.ts:318-331:
watermark-read → advance → scan → project → upsert) Spark-first:

- R1 paginated source scan   → ``IncrementalSource.fetch`` (driver-side
  fetch → DataFrame; at scale, Spark 4 Python Data Source with one
  partition per page range)
- R2 source-side pushdown    → the ``since`` parameter filters at the
  source, not client-side (JsonCommitsSource pushes it into the scan)
- R3 projection              → ``parse_commits`` select/alias
- R4 null-coalescing         → author.date null ⇒ BOTH email and date
  fall back to committer (git_etl.ts:100-105 — the fallback swaps both)
- R5 string→timestamp cast   → ``to_timestamp`` (ISO-8601 default)
- R6 keyed upsert            → ``TxTable.merge`` in pipeline/reference_flow
- R8 watermark read          → ``agg(max)``, null-safe (git_etl.ts:147)
- R9 watermark advance       → persisted watermark + strict ``>`` filter,
  replacing the reference's +1s hack (git_etl.ts:319-324) exactly and
  losing no same-second rows
- R10 truncate               → ``clear_on_startup`` removes the state dir
- R11 orchestration          → ``TxCommitsPipeline.run_once``
  (pipeline/reference_flow)
- R13 config                 → ``PipelineConfig`` validation
- R15 observability          → per-batch counts via logging

The reference's O(n) watermark re-scan per tick is deliberately NOT
replicated (SURVEY.md §4.1 anti-pattern): the watermark persists in a
sidecar and is recomputed with agg(max) only on recovery.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hapiy_etl_spark.operators.upsert import schema_diff

log = logging.getLogger(__name__)


class SchemaDriftError(RuntimeError):
    """Batch schema drifted from the state table and the pipeline is
    configured to reject drift (or the drift is not safely evolvable)."""


def check_schema_drift(state: DataFrame, batch: DataFrame, mode: str, label: str) -> bool:
    """Shared drift gate (pre-flight) — compare a state snapshot's
    schema against an incoming batch BEFORE any write. Footer-only
    metadata comparison (operators/upsert.schema_diff); no data scan.

    Returns True when the write must run in schema-evolution mode
    (additive drift under ``mode='evolve'``). Raises SchemaDriftError
    on any drift under 'fail', and on retyped columns always — a type
    change is never silently evolvable. Nullability flips are
    tolerated: parquet round-trips and ``lit()`` projections mangle
    nullable flags without changing any value."""
    drift = [d for d in schema_diff(state, batch) if d["kind"] != "renullabled"]
    if not drift:
        return False
    retyped = [d for d in drift if d["kind"] == "retyped"]
    if mode == "fail" or retyped:
        raise SchemaDriftError(
            f"batch schema drifted from state table {label}: {drift}"
            + (" (retyped columns are never auto-evolved)" if retyped else "")
        )
    log.warning("schema drift evolved for %s: %s", label, drift)  # R15
    return True

# Upstream wire shape: GitHub GET /repos/{owner}/{repo}/commits items
# (reference git_etl.ts:90-105); schema per FIXTURES.md table 11.
WIRE_SCHEMA = T.StructType(
    [
        T.StructField("sha", T.StringType(), False),
        T.StructField(
            "commit",
            T.StructType(
                [
                    T.StructField(
                        "author",
                        T.StructType(
                            [
                                T.StructField("email", T.StringType(), True),
                                T.StructField("date", T.StringType(), True),
                            ]
                        ),
                        True,
                    ),
                    T.StructField(
                        "committer",
                        T.StructType(
                            [
                                T.StructField("email", T.StringType(), True),
                                T.StructField("date", T.StringType(), True),
                            ]
                        ),
                        True,
                    ),
                    T.StructField("message", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

# Stored record shape ≡ reference CommitData (git_etl.ts:17-22) + repo key.
COMMIT_SCHEMA = T.StructType(
    [
        T.StructField("commit_hash", T.StringType(), False),
        T.StructField("commit_ts", T.TimestampType(), True),
        T.StructField("commit_message", T.StringType(), True),
        T.StructField("commit_email", T.StringType(), True),
        T.StructField("repo", T.StringType(), False),
    ]
)


def parse_commits(wire: DataFrame, repo: str) -> DataFrame:
    """Project wire rows to CommitData (R3) with exact R4/R5 semantics.

    Reference git_etl.ts:90-105: email comes from author; when the
    *author date* is absent, BOTH the timestamp and the email fall back
    to committer — an author email present alongside a missing author
    date is discarded.
    """
    author_date = F.col("commit.author.date")
    use_author = author_date.isNotNull()
    return wire.select(
        F.col("sha").alias("commit_hash"),
        F.to_timestamp(F.when(use_author, author_date).otherwise(F.col("commit.committer.date"))).alias(
            "commit_ts"
        ),
        F.col("commit.message").alias("commit_message"),
        F.when(use_author, F.col("commit.author.email"))
        .otherwise(F.col("commit.committer.email"))
        .alias("commit_email"),
        F.lit(repo).alias("repo"),
    )


class JsonCommitsSource:
    """Fixture-backed incremental source (R1) reading JSON-lines wire rows.

    The ``since`` filter is applied inside the scan — the declarative
    analogue of the reference pushing ``since`` into the GitHub request
    (R2, git_etl.ts:57,63). Strict ``>`` per R9's replacement semantics.
    """

    def __init__(self, path: str) -> None:
        self.path = path

    def fetch(self, spark: SparkSession, since: datetime | None) -> DataFrame:
        df = spark.read.schema(WIRE_SCHEMA).json(self.path)
        if since is not None:
            # Filter on the effective timestamp (post-fallback) so the
            # watermark and the filter agree on which column advances.
            eff = F.to_timestamp(
                F.coalesce(F.col("commit.author.date"), F.col("commit.committer.date"))
            )
            df = df.where(eff > F.lit(since))
        return df


class RestCommitsSource:
    """GitHub REST source (R1/R14) — driver-side paginated fetch.

    Network access is injectable (``fetch_page``) so tests never touch
    the network; production would use the real HTTP call with an
    optional token (reference git_etl.ts:12,340-346). Pages arrive as
    JSON strings and parallelize via ``spark.read.json`` on an RDD of
    pages — at real scale, implement as a Spark 4 Python DataSource
    with one input partition per page range.
    """

    def __init__(
        self,
        owner: str,
        repo: str,
        fetch_page: Callable[[str, str, int, datetime | None], list[str]],
        per_page: int = 100,
        token: str | None = None,
    ) -> None:
        """``token`` is the resolved credential (R14) — typically
        ``PipelineConfig.resolve_token()``; passed to ``fetch_page`` as
        a keyword only when set, so token-less fetchers keep the plain
        4-arg signature."""
        self.owner, self.repo, self.fetch_page, self.per_page = owner, repo, fetch_page, per_page
        self.token = token

    def fetch(self, spark: SparkSession, since: datetime | None) -> DataFrame:
        pages: list[str] = []
        page_no = 1
        while True:
            if self.token is not None:
                rows = self.fetch_page(self.owner, self.repo, page_no, since, token=self.token)
            else:
                rows = self.fetch_page(self.owner, self.repo, page_no, since)
            pages.extend(rows)
            if len(rows) < self.per_page:
                break
            page_no += 1
        if not pages:
            return spark.createDataFrame([], WIRE_SCHEMA)
        df = spark.read.schema(WIRE_SCHEMA).json(spark.sparkContext.parallelize(pages))
        if since is not None:
            # Residual client-side filter: the server-side `since` is an
            # optimization (R2), not a correctness guarantee — a server
            # that ignores it must not produce duplicate work downstream.
            eff = F.to_timestamp(
                F.coalesce(F.col("commit.author.date"), F.col("commit.committer.date"))
            )
            df = df.where(eff > F.lit(since))
        return df


_CRON_FIELD = r"[0-9*/,\-]+"


def cron_interval_seconds(cron: str) -> int | None:
    """Map the reference's poll cron to a micro-batch trigger interval
    (R12): ``*/N * * * *`` → N*60 s processingTime; anything else →
    None (caller uses availableNow / external scheduling)."""
    import re as _re

    m = _re.fullmatch(r"\*/(\d+) \* \* \* \*", cron.strip())
    return int(m.group(1)) * 60 if m else None


@dataclass
class PipelineConfig:
    """Run options ≡ reference RunOptions (git_etl.ts:35-42) with the
    same defaults + validation throws (R13, git_etl.ts:161-286):
    repo/owner pairing, cron parseability, state-path, boolean checks,
    and the useGithubToken → env-var credential convention (R14,
    git_etl.ts:12,340-346 — flag on, token read from the environment
    once at startup)."""

    repo: str = "fx_firecast"
    owner: str = "nakennedy11"
    state_dir: str = "./commit_state"
    clear_on_startup: bool = True
    cron_schedule: str = "*/5 * * * *"
    use_github_token: bool = False
    token_env: str = "GITHUB_PAT"
    on_schema_drift: str = "fail"
    extra: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        import re as _re

        if self.on_schema_drift not in ("fail", "evolve"):
            raise ValueError(
                f"on_schema_drift must be 'fail' or 'evolve', got {self.on_schema_drift!r}"
            )
        for name in ("repo", "owner", "state_dir", "token_env"):
            v = getattr(self, name)
            if not isinstance(v, str) or not v.strip():
                raise ValueError(f"config field {name!r} must be a non-empty string")
        for name in ("clear_on_startup", "use_github_token"):
            if not isinstance(getattr(self, name), bool):
                raise ValueError(f"{name} must be a boolean")
        fields_ = self.cron_schedule.split()
        if len(fields_) != 5 or not all(_re.fullmatch(_CRON_FIELD, f) for f in fields_):
            raise ValueError(f"cron_schedule not parseable: {self.cron_schedule!r}")

    def resolve_token(self) -> str | None:
        """R14: the credential leaves the environment only when the flag
        says so (reference reads GITHUB_PAT iff useGithubToken)."""
        import os as _os

        return _os.environ.get(self.token_env) if self.use_github_token else None

