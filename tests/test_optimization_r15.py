"""Focused tests for the r15 optimization round's operator changes.

Three levers, each pinned here:
1. ``io.spread`` — the scale-adaptive map-side fan-out (guide §2.5):
   fires only between the size floor and the parallelism ceiling, and
   never changes results (hash-repartition above set-semantics
   consumers).
2. The clustered-compaction metadata (guide §1.2): the per-dir
   metadata kernel (``txstore._DirMeta``), grouped by bucket in one
   pass, must record byte-identical entries to a per-group reference —
   the one-job-per-dir min/max agg and the explode/``distinct``/Python
   fold Bloom build it replaced, kept below as test-local references.
3. ``ann_recall_audit``'s overlapped checkpoints (guide §2.6) are
   covered by the existing recall tests (content-deterministic arms);
   no new surface.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hapiy_etl_spark.io import SPREAD_MIN_BYTES, spread
from hapiy_etl_spark.operators.txstore import TxTable, _DirMeta, _stat_json_value


def ref_column_stats(df, cols):
    """Reference {col: [min, max]}: one agg job, JSON-normalized."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
    row = df.agg(*aggs).collect()[0]
    out = {}
    for c in cols:
        mn = _stat_json_value(row[f"__mn_{c}"])
        mx = _stat_json_value(row[f"__mx_{c}"])
        out[c] = [mn, mx] if mn is not None and mx is not None else [None, None]
    return out


def ref_bloom(df, col, bits, k):
    """Reference bloom entry: the distinct xxhash64 bit positions of the
    non-NULL values, collected and folded into the bitmap in Python."""
    import base64

    seeds = F.array(
        *[F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(bits)) for i in range(k)]
    )
    rows = (
        df.where(F.col(col).isNotNull())
        .select(F.explode(seeds).alias("p"))
        .distinct()
        .collect()
    )
    buf = bytearray(bits // 8)
    for r in rows:
        pos = int(r["p"])
        buf[pos // 8] |= 1 << (pos % 8)
    return {
        "b64": base64.b64encode(bytes(buf)).decode("ascii"),
        "type": df.schema[col].dataType.simpleString(),
        "bits": bits,
        "k": k,
    }


def test_spread_noop_below_size_floor(spark, tmp_path):
    # a tiny parquet scan (well under SPREAD_MIN_BYTES) must come back
    # untouched: no exchange, same plan object semantics
    p = str(tmp_path / "tiny")
    spark.range(100).withColumn("v", F.col("id") * 2).write.parquet(p)
    df = spark.read.parquet(p)
    out = spread(df, "id")
    assert out.rdd.getNumPartitions() == df.rdd.getNumPartitions()
    assert "REPARTITION" not in out._jdf.queryExecution().toString()


def test_spread_fans_out_large_single_partition_scan(spark, tmp_path):
    # a scan over the floor but under the parallelism fans out to
    # defaultParallelism partitions — and the row SET is unchanged
    p = str(tmp_path / "big")
    n = max(200_000, SPREAD_MIN_BYTES // 4)  # comfortably > 384 KB on disk
    spark.range(n).withColumn(
        "payload", F.md5(F.col("id").cast("string"))
    ).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    target = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() < target  # narrow single-file scan
    out = spread(df, "id")
    assert out.rdd.getNumPartitions() == target
    assert out.count() == n
    # set identity, not just count
    assert (
        out.exceptAll(df).count() == 0 and df.exceptAll(out).count() == 0
    )


def test_spread_noop_when_already_parallel(spark, tmp_path):
    p = str(tmp_path / "wide")
    n = max(200_000, SPREAD_MIN_BYTES // 4)
    target = spark.sparkContext.defaultParallelism
    spark.range(n).withColumn(
        "payload", F.md5(F.col("id").cast("string"))
    ).write.parquet(p)  # many part files
    df = spark.read.parquet(p).repartition(target + 4)
    out = spread(df, "id")
    assert out.rdd.getNumPartitions() == target + 4  # untouched


def test_grouped_stats_match_per_dir_stats(spark, tmp_path):
    # the grouped one-pass form must record byte-identical entries to
    # the per-dir form it replaced — including the datetime/NaN/string
    # normalization edge cases
    import datetime as dt

    pdf = pd.DataFrame(
        {
            "g": [0, 0, 1, 1, 2],
            "k": [5, 1, 9, 7, 3],
            "s": ["b", "a", "z", "y", "m"],
            "ts": [
                dt.datetime(2030, 1, 1),
                dt.datetime(2030, 1, 2),
                dt.datetime(2031, 6, 1),
                dt.datetime(2031, 6, 2),
                dt.datetime(2032, 1, 1),
            ],
            "f": [1.5, float("nan"), 2.5, 3.5, 4.5],
        }
    )
    df = spark.createDataFrame(pdf)
    cols = ["k", "s", "ts", "f"]
    grouped = _DirMeta(df.schema, cols).over(df, by="g")
    for g in (0, 1, 2):
        per_dir = ref_column_stats(df.where(F.col("g") == g), cols)
        assert grouped[g] == (per_dir, {}), f"group {g}: {grouped[g]} != {per_dir}"


def test_grouped_bloom_matches_per_dir_bloom(spark, tmp_path):
    # narrower than, as wide as, and wider than one 32768-bit bitmap
    # chunk, including a partial last chunk
    df = spark.createDataFrame(
        [(i % 3, i * 37) for i in range(300)], "g int, doc_id long"
    )
    for bits, k in ((1 << 14, 5), (1 << 15, 1), (40_000, 3), (1 << 16, 7)):
        grouped = _DirMeta(df.schema, blooms={"doc_id": (bits, k)}).over(df, by="g")
        for g in (0, 1, 2):
            per_dir = ref_bloom(df.where(F.col("g") == g), "doc_id", bits, k)
            assert grouped[g][1]["doc_id"] == per_dir, f"group {g} bloom diverged"


def test_clustered_optimize_metadata_unchanged_by_grouping(spark, tmp_path):
    # end-to-end: a clustered rewrite's manifest must carry tight,
    # correct per-dir stats and inherited blooms exactly as before the
    # one-pass change — and the pruned read contract must hold
    from hapiy_etl_spark.operators.txstore import dirs_read

    t = TxTable(spark, str(tmp_path / "t"))
    df = spark.range(4000).select(
        F.col("id").alias("k"),
        F.pmod(F.xxhash64("id"), F.lit(3)).alias("b"),
    )
    bits = 1 << 16
    for i in range(3):  # interleaved appends: nothing prunable yet
        t.append(
            df.where(F.col("b") == i).drop("b"),
            stats_cols=["k"],
            bloom_cols=["k"],
            bloom_bits=bits,
        )
    t.optimize_clustered("k", n_dirs=4)
    m = t._manifest(t.latest_version())
    assert len(m["dirs"]) == 4
    # tight, disjoint-ish ranges: each dir records real bounds
    ranges = [m["stats"][d]["k"] for d in m["dirs"]]
    assert all(r[0] is not None and r[1] is not None for r in ranges)
    assert ranges == sorted(ranges)  # bucketed by key order
    # inherited blooms present on every rewritten dir, same geometry
    for d in m["dirs"]:
        ent = m["blooms"][d]["k"]
        assert ent["bits"] == bits and ent["k"] == 5
    # range prune: bottom-eighth slice touches one dir
    cut = 4000 // 8
    pre = t.read(where_range={"k": (None, cut)})
    assert len(dirs_read(pre)) == 1
    # bloom point lookup still prunes
    hit = t.read(where={"k": 17})
    assert len(dirs_read(hit)) < 4
    assert hit.count() == 1


if __name__ == "__main__":  # pragma: no cover
    pytest.main([__file__, "-q"])
