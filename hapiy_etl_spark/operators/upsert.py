"""Keyed upsert (MERGE emulation) and last-write-wins dedup.

Reference parity: the KV sink's ``kv.set`` overwrite-by-key semantics
(reference git_etl.ts:127-132 — idempotent upsert keyed on commit hash).
Plain parquet has no MERGE, so the kernel is:

    new.dropDuplicates(keys)  ∪  existing ⟕anti new     (on keys)

i.e. new rows win, existing rows survive only when their key is absent
from the batch. ``TxTable.merge`` (operators/txstore.py) runs this
kernel inside its copy-on-write commit, so a keyed write lands as one
atomic snapshot. At scale the anti-join shuffles on the key — bucket or
partition the state table by the key to co-locate; with Delta/Iceberg
available this becomes a native MERGE INTO (operators/table_formats.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def dedup_by_key(df: DataFrame, keys: Sequence[str], order_col: str | None = None) -> DataFrame:
    """One row per key. With ``order_col``, last-write-wins by it
    (descending, deterministic); else an arbitrary-but-single row via
    dropDuplicates (hash-agg, cheapest)."""
    if order_col is None:
        return df.dropDuplicates(list(keys))
    w = W.partitionBy(*keys).orderBy(F.col(order_col).desc())
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def upsert_by_key(
    existing: DataFrame | None,
    new: DataFrame,
    keys: Sequence[str],
    order_col: str | None = None,
    allow_missing_columns: bool = False,
) -> DataFrame:
    """Return existing MERGE new on keys (new wins). Pure-DataFrame form.

    ``allow_missing_columns=True`` is the schema-evolution merge: the
    union null-pads columns present on only one side (added or removed
    columns survive as nulls) — the additive half of drift handling;
    retyped columns are never silently evolved (the caller gates)."""
    batch = dedup_by_key(new, keys, order_col)
    if existing is None:
        return batch
    survivors = existing.join(batch.select(*keys), on=list(keys), how="left_anti")
    return survivors.unionByName(batch, allowMissingColumns=allow_missing_columns)


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Reconciliation diff between two snapshots: one row per changed
    key, tagged ``op`` ∈ {I, U, D} (insert/update/delete), carrying the
    NEW side's values for I/U and the OLD side's for D.

    The CDC-generation primitive: feeding the output to an SCD2/upsert
    sink replays ``old → new``. One full-outer join on the key — at
    scale both snapshots should be bucketed on the key so the join is
    Exchange-free. ``compare_cols`` defaults to all non-key columns;
    unchanged rows are dropped (null-safe comparison, so NULL→NULL is
    unchanged and NULL→value is an update).
    """
    key_list = list(keys)
    cols = compare_cols if compare_cols is not None else [
        c for c in new.columns if c not in key_list
    ]
    o = old.select(*key_list, *[F.col(c).alias(f"__o_{c}") for c in cols], F.lit(1).alias("__in_o"))
    n = new.select(*key_list, *[F.col(c).alias(f"__n_{c}") for c in cols], F.lit(1).alias("__in_n"))
    j = o.join(n, on=key_list, how="full_outer")

    changed = F.lit(False)
    for c in cols:
        changed = changed | ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    op = (
        F.when(F.col("__in_o").isNull(), F.lit("I"))
        .when(F.col("__in_n").isNull(), F.lit("D"))
        .when(changed, F.lit("U"))
    )
    # D rows must carry OLD values (the new side is null there), I/U rows
    # the NEW values — coalesce(new, old) does both.
    out_cols = [F.coalesce(F.col(f"__n_{c}"), F.col(f"__o_{c}")).alias(c) for c in cols]
    return (
        j.withColumn("op", op)
        .where(F.col("op").isNotNull())
        .select("op", *key_list, *out_cols)
    )


def schema_diff(old: DataFrame, new: DataFrame) -> list[dict]:
    """Schema-drift report between two snapshots — the companion to the
    row-level ``table_diff``: one record per drifted column, kind ∈
    {added, removed, retyped, renullabled}. Upstream producers changing
    a parquet schema silently (a column re-typed int→string, a NOT NULL
    relaxed) is exactly the failure mode that breaks incremental
    pipelines between runs, and it should be caught by comparing
    footers — pure metadata, no data scan, no Spark job.
    """
    a = {f.name: f for f in old.schema.fields}
    b = {f.name: f for f in new.schema.fields}
    out: list[dict] = []
    for name in sorted(set(a) | set(b)):
        if name not in b:
            out.append(
                {"column": name, "kind": "removed", "old": a[name].dataType.simpleString(), "new": None}
            )
        elif name not in a:
            out.append(
                {"column": name, "kind": "added", "old": None, "new": b[name].dataType.simpleString()}
            )
        elif a[name].dataType != b[name].dataType:
            out.append(
                {
                    "column": name,
                    "kind": "retyped",
                    "old": a[name].dataType.simpleString(),
                    "new": b[name].dataType.simpleString(),
                }
            )
        elif a[name].nullable != b[name].nullable:
            out.append(
                {
                    "column": name,
                    "kind": "renullabled",
                    "old": str(a[name].nullable),
                    "new": str(b[name].nullable),
                }
            )
    return out
