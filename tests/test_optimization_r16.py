"""Focused tests for the r16 optimization round's operator changes.

Pinned here:
1. ``_pq_codebooks`` process-pool fit (guide §4.5, VERDICT r15 item 4):
   the pooled per-subspace Lloyd fits must be BIT-identical
   (np.array_equal) to the serial loop across the geometries the ANN
   family actually uses — a drifted codebook would silently move every
   lossy ranking and the hash-pinned index fixtures.
2. The bucket-grouped Bloom build of a clustered compaction (guide §5,
   VERDICT r15 item 7), now the per-dir metadata kernel
   (``txstore._DirMeta``) grouped by bucket: entries stay
   byte-identical to the per-group reference build, the driver collect
   is bounded at one row per group, geometry is validated, and an
   all-NULL bucket records the all-zero bloom (ADVICE r15) instead of
   silently dropping the entry.
3. ``dedup_minhash_lsh``'s content-prefix demo slice (VERDICT r15
   item 8): non-degenerate output at the oracle SF.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hapiy_etl_spark.operators.txstore import TxTable, _DirMeta
from tests.test_optimization_r15 import ref_bloom


def _serial_codebooks(sample, m, n_codes, seed, iters=8):
    """The pre-r16 serial reference fit, verbatim."""
    n, dim = sample.shape
    sub = dim // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, n_codes, sub), dtype=np.float64)
    for j in range(m):
        x = sample[:, j * sub : (j + 1) * sub]
        cent = x[rng.choice(n, size=min(n_codes, n), replace=False)]
        if len(cent) < n_codes:
            cent = np.resize(cent, (n_codes, sub))
        for _ in range(iters):
            d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(n_codes):
                mask = assign == c
                if mask.any():
                    cent[c] = x[mask].mean(axis=0)
        books[j] = cent
    return books


@pytest.mark.parametrize(
    "n,dim,m,n_codes",
    [
        (400, 64, 8, 256),   # ann_pq_topk-style geometry (degenerate n<codes)
        (1000, 64, 16, 256),  # ann_ivfpq_topk geometry
        (50, 16, 4, 16),      # tiny degenerate sample
    ],
)
def test_pq_codebooks_pool_bit_identical_to_serial(n, dim, m, n_codes):
    from hapiy_etl_spark.operators.similarity import _pq_codebooks

    rng = np.random.RandomState(7)
    sample = rng.randn(n, dim)
    pooled = _pq_codebooks(sample, m, n_codes, seed=42)
    serial = _serial_codebooks(sample, m, n_codes, seed=42)
    assert np.array_equal(pooled, serial), "pooled fit drifted from serial"


def test_pq_codebooks_serial_fallback_matches(monkeypatch):
    # a broken pool must fall back to the serial loop, not fail the fit
    import hapiy_etl_spark.operators.similarity as S

    def _broken_pool():
        raise RuntimeError("pool unavailable")

    monkeypatch.setattr(S, "_pq_fit_pool", _broken_pool)
    # the sticky off-flag flips inside the call; monkeypatch restores it
    # (and the pool handle) at teardown so later tests get the pool back
    monkeypatch.setattr(S, "_PQ_FIT_POOL_BROKEN", False)
    monkeypatch.setattr(S, "_PQ_FIT_POOL", None)
    rng = np.random.RandomState(3)
    sample = rng.randn(300, 32)
    out = S._pq_codebooks(sample, 8, 64, seed=42)
    assert np.array_equal(out, _serial_codebooks(sample, 8, 64, seed=42))


def test_pq_codebooks_hung_pool_falls_back_to_serial(monkeypatch):
    # a spawn pool whose workers never come up (a main script without a
    # __main__ guard) must not hang the fit: the creation probe times
    # out, the pool is marked broken and shut down, and the fit is serial
    import concurrent.futures
    import threading

    import hapiy_etl_spark.operators.similarity as S

    release = threading.Event()

    class _HungPool:
        def __init__(self, *args, **kwargs):
            pass

        def submit(self, fn, *args):
            return concurrent.futures.Future()  # never completes

        def map(self, *args, **kwargs):
            release.wait()  # a hung pool.map blocks until teardown
            raise RuntimeError("hung pool released")

        def shutdown(self, wait=True, cancel_futures=False):
            release.set()

    monkeypatch.setattr(concurrent.futures, "ProcessPoolExecutor", _HungPool)
    monkeypatch.setattr(S, "_PQ_FIT_POOL_PROBE_S", 0.5)
    monkeypatch.setattr(S, "_PQ_FIT_POOL_BROKEN", False)
    monkeypatch.setattr(S, "_PQ_FIT_POOL", None)
    rng = np.random.RandomState(5)
    sample = rng.randn(300, 32)
    out = {}
    fit = threading.Thread(
        target=lambda: out.update(books=S._pq_codebooks(sample, 8, 64, seed=42)),
        daemon=True,
    )
    fit.start()
    fit.join(timeout=30)
    release.set()
    assert not fit.is_alive(), "PQ fit hung on a pool that never started"
    assert np.array_equal(out["books"], _serial_codebooks(sample, 8, 64, seed=42))
    assert S._PQ_FIT_POOL_BROKEN and S._PQ_FIT_POOL is None


def test_grouped_bloom_collect_is_one_row_per_group(spark, tmp_path):
    # the executor-side fold: entries byte-identical to the per-group
    # reference AND the driver-side materialization one row per group
    df = spark.createDataFrame(
        [(i % 4, i * 37) for i in range(400)], "g int, doc_id long"
    )
    meta = _DirMeta(df.schema, blooms={"doc_id": (1 << 14, 5)})
    rows = meta.project(df).groupBy("g").agg(*meta.aggs()).collect()
    assert sorted(r["g"] for r in rows) == [0, 1, 2, 3]
    for r in rows:
        per_dir = ref_bloom(df.where(F.col("g") == r["g"]), "doc_id", 1 << 14, 5)
        assert meta.decode(r)[1]["doc_id"] == per_dir, f"group {r['g']} bloom diverged"


def test_grouped_bloom_validates_geometry(spark, tmp_path):
    # ADVICE r15: every bloom build validates bits/k (clear ValueError,
    # not a mid-build IndexError), before any job runs
    df = spark.createDataFrame([(0, 1)], "g int, doc_id long")
    with pytest.raises(ValueError, match="multiple of 8"):
        _DirMeta(df.schema, blooms={"doc_id": (1001, 5)})
    with pytest.raises(ValueError, match="positive"):
        _DirMeta(df.schema, blooms={"doc_id": (1024, 0)})


def test_grouped_bloom_all_null_bucket_records_zero_bloom(spark, tmp_path):
    # ADVICE r15: a bucket whose bloom column is entirely NULL records
    # an ALL-ZERO bloom (prunes every probe), matching the reference
    df = spark.createDataFrame(
        [(0, 5), (0, 9), (1, None)], "g int, doc_id long"
    )
    grouped = _DirMeta(df.schema, blooms={"doc_id": (1 << 12, 5)}).over(df, by="g")
    assert 1 in grouped, "all-NULL bucket lost its bloom entry"
    per_dir_null = ref_bloom(df.where(F.col("g") == 1), "doc_id", 1 << 12, 5)
    assert grouped[1][1]["doc_id"] == per_dir_null  # the all-zero bitmap
    import base64

    assert not any(base64.b64decode(grouped[1][1]["doc_id"]["b64"]))


def test_clustered_optimize_all_null_bucket_keeps_bloom(spark, tmp_path):
    # end-to-end: a clustered rewrite whose lowest bucket collects the
    # NULL-key rows still blooms the (all-NULL there) bloom column
    t = TxTable(spark, str(tmp_path / "t"))
    df = spark.range(2000).select(
        F.when(F.col("id") < 100, None)
        .otherwise(F.col("id"))
        .alias("k"),
        F.col("id").alias("v"),
    )
    t.append(df, stats_cols=["k"], bloom_cols=["k"])
    t.optimize_clustered("k", n_dirs=4)
    m = t._manifest(t.latest_version())
    assert len(m["dirs"]) == 4
    for d in m["dirs"]:
        assert "k" in (m.get("blooms") or {}).get(d, {}), (
            f"dir {d} lost its bloom through the clustered rewrite"
        )


@pytest.mark.parametrize("portable", [False, True])
def test_simhash_expr_build_matches_column_build(spark, portable):
    # r16: simhash_signatures builds its vote/packing expressions as
    # parsed SQL (construction-time optimization); this pins the new
    # form against the pre-r16 Column-API reference, value for value
    from pyspark.sql import functions as F

    import hapiy_etl_spark.operators.dedup as D
    from hapiy_etl_spark.operators.textstats import tokens

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "totally different words here"),
            (4, None),
            (5, ""),
        ],
        "doc_id long, text string",
    )

    def reference(df, portable):
        tok = df.select(
            F.col("doc_id").alias("doc"),
            F.explode_outer(tokens("text")).alias("tok"),
        )
        if portable:
            h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
            n_bits = D.PORTABLE_SIMHASH_BITS
        else:
            h = F.xxhash64("tok")
            n_bits = 64
        votes = [
            F.sum(
                F.when(
                    h.bitwiseAND(F.shiftleft(F.lit(1).cast("long"), b)) != 0, 1
                ).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(n_bits)
        ]
        agg = tok.groupBy("doc").agg(*votes)
        sig = F.lit(0).cast("long")
        for b in range(n_bits):
            sig = sig.bitwiseOR(
                F.when(
                    F.col(f"v{b}") > 0,
                    F.shiftleft(F.lit(1).cast("long"), b),
                ).otherwise(F.lit(0).cast("long"))
            )
        return agg.select("doc", sig.alias("sig"))

    got = {
        r.doc: r.sig
        for r in D.simhash_signatures(
            docs, "doc_id", "text", portable=portable
        ).collect()
    }
    want = {r.doc: r.sig for r in reference(docs, portable).collect()}
    assert got == want
    assert got[1] == got[2]  # identical texts share a signature


def test_lsh_bucket_expr_matches_reference(spark):
    # r16: lsh_bucket builds as one parsed expression — pin against the
    # pre-r16 Column-API fold on real embedding shapes (incl. exact
    # double literal round-trip through CAST('<repr>' AS DOUBLE))
    from pyspark.sql import functions as F

    import hapiy_etl_spark.operators.similarity as S

    planes = S._hyperplanes(8, 6, seed=42)
    df = spark.createDataFrame(
        [(i, [((i * 37 + j * 13) % 17 - 8) / 7.0 for j in range(8)]) for i in range(20)],
        "id long, v array<double>",
    )

    def dot(a, b):  # the Column-API fold S.dot was before it took names
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def reference(vec, planes):
        bucket = F.lit(0).cast("long")
        for i, p in enumerate(planes):
            plane = F.array(*[F.lit(x) for x in p])
            bucket = bucket.bitwiseOR(
                F.when(
                    dot(vec, plane) > 0,
                    F.shiftleft(F.lit(1).cast("long"), i),
                ).otherwise(F.lit(0).cast("long"))
            )
        return bucket

    # a column name that needs quoting in SQL must work as well
    for name in ("v", "my vec"):
        named = df.withColumnRenamed("v", name)
        got = {
            r.id: r.b
            for r in named.select("id", S.lsh_bucket(name, planes).alias("b")).collect()
        }
        want = {
            r.id: r.b
            for r in named.select("id", reference(F.col(name), planes).alias("b")).collect()
        }
        assert got == want


def test_minhash_lsh_demo_slice_non_degenerate(spark):
    # VERDICT r15 item 8: the capped demo must keep >0 near-dup pairs
    # at the oracle SF (the id-hash slice kept ~none)
    from hapiy_etl_spark.registry import all_queries

    q = all_queries()["dedup_minhash_lsh"]
    out = q.fn(spark, "/root/testdata/sf0.01")
    assert out.count() > 0, "demo slice is vacuous again"


if __name__ == "__main__":  # pragma: no cover
    pytest.main([__file__, "-q"])
