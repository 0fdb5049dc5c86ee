"""Transactional table-format gateway (Delta/Iceberg), import-gated.

The engine's keyed writes run on its own snapshot-versioned parquet
table, ``TxTable.merge`` (operators/txstore.py), because this
environment ships no lakehouse jars. In production the same call sites
route through a real MERGE INTO — this module is that seam: it detects
an available format and either executes the native MERGE or points the
caller at ``TxTable.merge`` instead.

Environment note (r3): the build container bakes its Python deps and
forbids package installation, and `import delta` fails — so the native
MERGE branch cannot execute here by policy, not by oversight. The
fallback path (``TxTable.merge``) carries the oracle-checked semantics;
the native branch is exercised the first time the package lands on a
real cluster classpath.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def delta_available(spark: SparkSession) -> bool:
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    keys: Sequence[str],
) -> None:
    """Native MERGE INTO when Delta is on the classpath; otherwise raises
    with the emulation pointer (callers in this repo use the emulation
    directly — this is the production entry point)."""
    if not delta_available(spark):
        raise NotImplementedError(
            "No transactional table format on the classpath. Use "
            "hapiy_etl_spark.operators.txstore.TxTable.merge (snapshot-"
            "versioned parquet MERGE with optimistic concurrency and "
            "time travel), or add delta-spark jars for native MERGE INTO."
        )
    from delta.tables import DeltaTable

    target = DeltaTable.forPath(spark, target_path)
    cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    (
        target.alias("t")
        .merge(batch.alias("s"), cond)
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )
