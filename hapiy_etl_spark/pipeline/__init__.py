"""Reference-parity incremental ingestion pipeline (SURVEY.md §2A R1-R15)."""

from hapiy_etl_spark.pipeline.ingest import (  # noqa: F401
    COMMIT_SCHEMA,
    WIRE_SCHEMA,
    JsonCommitsSource,
    PipelineConfig,
    parse_commits,
)
