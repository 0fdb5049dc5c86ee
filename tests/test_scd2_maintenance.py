"""SCD2 lifecycle, compaction, stratified sampling, HLL sketch tests."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from hapiy_etl_spark.io import read_table
from hapiy_etl_spark.operators.maintenance import stratified_sample
from hapiy_etl_spark.operators.txstore import TxTable
from hapiy_etl_spark.operators.scd2 import OPEN_TS, scd2_apply, scd2_as_of, scd2_current, scd2_init


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_scd2_lifecycle(spark):
    b1 = spark.createDataFrame(
        [(1, "alice", "NY", ts("2024-01-01 00:00:00")),
         (2, "bob", "LA", ts("2024-01-01 00:00:00"))],
        "id long, name string, city string, eff timestamp",
    )
    dim = scd2_init(b1, ["id"], "eff")
    # batch 2: alice moves, bob unchanged (no-op), carol is new
    b2 = spark.createDataFrame(
        [(1, "alice", "SF", ts("2024-02-01 00:00:00")),
         (2, "bob", "LA", ts("2024-02-01 00:00:00")),
         (3, "carol", "TX", ts("2024-02-01 00:00:00"))],
        "id long, name string, city string, eff timestamp",
    )
    dim2 = scd2_apply(dim, b2, ["id"], "eff", compare_cols=["name", "city"])

    rows = {(r.id, r.city, r.valid_from, r.valid_to) for r in dim2.collect()}
    # alice: closed NY version + open SF version
    assert (1, "NY", ts("2024-01-01 00:00:00"), ts("2024-02-01 00:00:00")) in rows
    assert (1, "SF", ts("2024-02-01 00:00:00"), OPEN_TS) in rows
    # bob: single untouched open version (no spurious version)
    assert sum(1 for r in rows if r[0] == 2) == 1
    # carol: new open version
    assert (3, "TX", ts("2024-02-01 00:00:00"), OPEN_TS) in rows

    current = {(r.id, r.city) for r in scd2_current(dim2).collect()}
    assert current == {(1, "SF"), (2, "LA"), (3, "TX")}
    as_of_jan = {(r.id, r.city) for r in scd2_as_of(dim2, ts("2024-01-15 00:00:00")).collect()}
    assert as_of_jan == {(1, "NY"), (2, "LA")}


def test_scd2_idempotent_redelivery(spark):
    b1 = spark.createDataFrame(
        [(1, "a", "X", ts("2024-01-01 00:00:00"))], "id long, name string, city string, eff timestamp"
    )
    dim = scd2_init(b1, ["id"], "eff")
    # redelivering the identical batch produces no new versions
    dim2 = scd2_apply(dim, b1, ["id"], "eff", compare_cols=["name", "city"])
    assert dim2.count() == 1


def test_txtable_optimize_compacts_small_files(spark, sf_dir, tmp_path):
    path = tmp_path / "shattered"
    src = read_table(spark, sf_dir, "orders")
    table = TxTable(spark, str(path))
    table.append(src.repartition(16))

    def n_files(dirs):
        return sum(1 for d in dirs for _ in (path / "data" / d).rglob("*.parquet"))

    before = n_files(table._manifest(table.latest_version())["dirs"])
    assert before >= 16
    table.optimize(target_partitions=2)
    (new_dir,) = table._manifest(table.latest_version())["dirs"]
    assert n_files([new_dir]) <= 2
    assert table.read().count() == src.count()


def test_stratified_sample(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    sample = stratified_sample(docs, "lang", {"en": 0.5, "es": 1.0}, seed=42)
    langs = {r.lang for r in sample.select("lang").distinct().collect()}
    assert langs <= {"en", "es"}  # unlisted strata excluded
    n_es_all = docs.where(F.col("lang") == "es").count()
    assert sample.where(F.col("lang") == "es").count() == n_es_all  # fraction 1.0 keeps all


def test_hll_sketch_agg_mergeable(spark, sf_dir):
    """Spark 3.5+ datasketches HLL: per-group sketches union to the
    global estimate — the mergeable-sketch pattern for distributed
    distinct counts (sketch once, merge anywhere)."""
    li = read_table(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(F.hll_sketch_agg("l_orderkey").alias("sk"))
    merged = per_flag.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")).first().est
    exact = li.select("l_orderkey").distinct().count()
    assert abs(merged - exact) / exact < 0.05


def test_table_format_gateway_graceful(spark):
    import pytest as _pytest

    from hapiy_etl_spark.operators.table_formats import delta_available, merge_upsert

    if delta_available(spark):  # environment-dependent: native path exists
        return
    batch = spark.createDataFrame([(1, "a")], "id long, v string")
    with _pytest.raises(NotImplementedError, match="TxTable.merge"):
        merge_upsert(spark, "/tmp/nope", batch, ["id"])


def test_scd2_duplicate_keys_in_batch_collapse_to_latest(spark):
    """A batch replaying several updates per key applies only the latest
    (micro-batch semantics): exactly one open version, one closing row."""
    b1 = spark.createDataFrame(
        [(1, "alice", "NY", ts("2024-01-01 00:00:00"))],
        "id long, name string, city string, eff timestamp",
    )
    dim = scd2_init(b1, ["id"], "eff")
    b2 = spark.createDataFrame(
        [
            (1, "alice", "SF", ts("2024-02-01 00:00:00")),
            (1, "alice", "TX", ts("2024-03-01 00:00:00")),  # latest wins
        ],
        "id long, name string, city string, eff timestamp",
    )
    dim2 = scd2_apply(dim, b2, ["id"], "eff", compare_cols=["name", "city"])
    rows = dim2.where("id = 1").collect()
    open_rows = [r for r in rows if r.valid_to == OPEN_TS]
    closed = [r for r in rows if r.valid_to != OPEN_TS]
    assert len(open_rows) == 1 and open_rows[0].city == "TX"
    assert len(closed) == 1 and closed[0].city == "NY"
    assert closed[0].valid_to == ts("2024-03-01 00:00:00")


def test_zorder_key_matches_python_morton(spark):
    """Spark bit-interleave == reference Morton code."""
    from pyspark.sql import functions as F

    from hapiy_etl_spark.operators.maintenance import zorder_key

    rows = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.withColumn("z", zorder_key([F.col("x"), F.col("y")], bits=3)).collect()
    }

    def morton(x, y, bits=3):
        z = 0
        for b in range(bits):
            z |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
        return z

    for (x, y), z in got.items():
        assert z == morton(x, y), (x, y)


def test_zorder_key_4col_never_negative(spark):
    """Sign-bit regression: with bits=16 and 4 columns the last
    interleaved bit used to land on bit 63 of the signed long, making
    high-key rows negative so they sorted FIRST. The cap
    (bits = 63 // n_cols) must keep every key non-negative and keep
    the key monotone in the top bit of each column."""
    from pyspark.sql import functions as F

    from hapiy_etl_spark.operators.maintenance import zorder_key

    top = (1 << 16) - 1
    rows = [(0, 0, 0, 0), (top, top, top, top), (top, 0, top, 0)]
    df = spark.createDataFrame(rows, "a long, b long, c long, d long")
    cols = [F.col(c) for c in ("a", "b", "c", "d")]
    got = df.withColumn("z", zorder_key(cols, bits=16)).collect()
    by_key = {(r.a, r.b, r.c, r.d): r.z for r in got}
    assert all(z >= 0 for z in by_key.values()), by_key
    # the all-max corner must sort after everything else
    assert by_key[(top, top, top, top)] == max(by_key.values())


def test_zorder_sort_improves_minmax_skipping(spark):
    """Z-ordered layout: per-partition min/max ranges on BOTH dims are
    tight, so a range predicate on either column can skip most
    partitions (the parquet row-group analogue)."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.functions import spark_partition_id

    from hapiy_etl_spark.operators.maintenance import zorder_sort

    rng = random.Random(7)
    rows = [(rng.randrange(1 << 12), rng.randrange(1 << 12)) for _ in range(20_000)]
    df = spark.createDataFrame(rows, "x long, y long").repartition(16)
    z = zorder_sort(df, ["x", "y"], bits=12, num_partitions=32)

    spans = (
        z.withColumn("pid", spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
        )
        .collect()
    )
    full = 1 << 12
    # every clustered partition must cover far less than the full domain
    # on at least one dim, and on average both dims shrink substantially
    avg_sx = sum(r.sx for r in spans) / len(spans)
    avg_sy = sum(r.sy for r in spans) / len(spans)
    assert avg_sx < full * 0.6 and avg_sy < full * 0.6, (avg_sx, avg_sy)


def test_kmv_sketch_accuracy_and_set_ops(spark):
    """KMV estimates within ~3/sqrt(k) of truth; merge is idempotent;
    intersection via inclusion-exclusion lands near the true overlap."""
    from pyspark.sql import functions as F

    from hapiy_etl_spark.operators.sketches import (
        kmv_estimate,
        kmv_intersect_estimate,
        kmv_merge,
        kmv_sketch,
    )

    k = 256
    # group A: values 0..9999; group B: 5000..14999 -> overlap 5000
    rows = [("a", v) for v in range(10_000)] + [("b", v) for v in range(5_000, 15_000)]
    df = spark.createDataFrame(rows, "g string, v long")
    sk = kmv_sketch(df, ["g"], "v", k=k).cache()
    est = {r.g: r.e for r in sk.select("g", kmv_estimate(F.col("sketch"), k).alias("e")).collect()}
    tol = 3.0 / (k - 2) ** 0.5  # ~19% at k=256
    assert abs(est["a"] - 10_000) / 10_000 < tol
    assert abs(est["b"] - 10_000) / 10_000 < tol

    a = sk.where("g = 'a'").select(F.col("sketch").alias("sa"))
    b = sk.where("g = 'b'").select(F.col("sketch").alias("sb"))
    both = a.crossJoin(b)
    row = both.select(
        kmv_estimate(kmv_merge(F.col("sa"), F.col("sa"), k), k).alias("self_merge"),
        kmv_estimate(kmv_merge(F.col("sa"), F.col("sb"), k), k).alias("union_e"),
        kmv_intersect_estimate(F.col("sa"), F.col("sb"), k).alias("inter_e"),
    ).first()
    assert abs(row.self_merge - est["a"]) < 1e-9  # idempotent merge
    assert abs(row.union_e - 15_000) / 15_000 < tol
    # intersection inherits three estimators' noise — looser bound
    assert abs(row.inter_e - 5_000) / 5_000 < 3 * tol
    sk.unpersist()


def test_frequent_items_exact_under_tiny_capacity(spark):
    """Misra-Gries candidates + exact recount: with capacity far below
    the distinct-key count, every key above the phi threshold is still
    found with its EXACT count (the MG superset guarantee), and nothing
    below the threshold leaks in."""
    from hapiy_etl_spark.operators.heavyhitters import frequent_items

    # 3 hot keys (600/300/150 of 2050 rows) + 1000 singleton keys
    rows = (
        [(1,)] * 600 + [(2,)] * 300 + [(3,)] * 150 + [(1000 + i,) for i in range(1000)]
    )
    df = spark.createDataFrame(rows, "k long").repartition(8)
    got = {
        r.k: r.n for r in frequent_items(df, "k", phi=0.05, capacity=16).collect()
    }
    n = len(rows)
    assert got == {1: 600, 2: 300, 3: 150}
    assert all(c > 0.05 * n for c in got.values())


def test_assign_contiguous_ids_dense_unique(spark, sf_dir):
    """Contiguous id assignment without a single-reducer window: over a
    multi-partition frame the ids are exactly 0..n-1 (dense, unique),
    and the plan contains no partition-less Window (the whole-table
    one-task funnel this operator exists to avoid)."""
    from hapiy_etl_spark.operators.maintenance import assign_contiguous_ids

    df = spark.read.parquet(f"{sf_dir}/orders.parquet").repartition(8)
    n = df.count()
    out = assign_contiguous_ids(df, "row_id")
    ids = [r.row_id for r in out.select("row_id").collect()]
    assert sorted(ids) == list(range(n))
    plan = out._jdf.queryExecution().executedPlan().toString()
    # every Window must be partitioned (windowspecdefinition carries
    # __pid); a global row_number would show an empty partition spec
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            assert "__pid" in ln, ln


def test_assign_contiguous_ids_range_partitioned_equals_global_rank(spark, sf_dir):
    """r11 (the vocab_encode swap): repartitionByRange on a total order
    + assign_contiguous_ids with the same multi-column order_within
    reproduces the global ``row_number() OVER (ORDER BY ...) - 1``
    exactly — range partition i sorts wholly before partition i+1, so
    pid-ordered offsets + within-partition row_number compose to the
    global rank without its single-reducer window."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from hapiy_etl_spark.operators.maintenance import assign_contiguous_ids

    df = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("freq"))
    )
    order = [F.col("freq").desc(), F.col("o_orderpriority")]
    got = {
        r["o_orderpriority"]: r["rid"]
        for r in assign_contiguous_ids(
            df.repartitionByRange(4, *order), "rid", order_within=order
        ).collect()
    }
    want = {
        r["o_orderpriority"]: r["rid"]
        for r in df.withColumn(
            "rid", F.row_number().over(W.orderBy(*order)) - 1
        ).collect()
    }
    assert got == want and len(got) > 1


def test_loghist_sketch_merge_exact_and_quantile_bounds(spark):
    """The DDSketch-style log-histogram: (1) merging per-part sketches
    equals the sketch of the union BIT-FOR-BIT (integer counts — the
    algebraic-partial contract the incremental MV relies on);
    (2) quantile estimates stay within one bucket of relative error
    (10^(1/8) ≈ 1.33x at 8 buckets/decade); (3) zeros and negatives
    land in their dedicated regions and order correctly."""
    from pyspark.sql import functions as F

    from hapiy_etl_spark.operators.sketches import (
        loghist_merge_agg,
        loghist_quantile,
        loghist_sketch,
    )

    rows = [("g", float(v)) for v in range(1, 1001)]  # uniform 1..1000
    df = spark.createDataFrame(rows, "k string, v double")
    half1, half2 = df.where("v <= 500"), df.where("v > 500")

    merged = (
        loghist_sketch(half1, ["k"], "v")
        .unionByName(loghist_sketch(half2, ["k"], "v"))
        .groupBy("k")
        .agg(loghist_merge_agg("loghist").alias("loghist"))
    )
    whole = loghist_sketch(df, ["k"], "v")
    assert merged.collect()[0]["loghist"] == whole.collect()[0]["loghist"]

    est = merged.select(
        loghist_quantile(F.col("loghist"), 0.5).alias("p50"),
        loghist_quantile(F.col("loghist"), 0.99).alias("p99"),
    ).collect()[0]
    rel = 10 ** (1 / 8)
    assert 500 / rel <= est.p50 <= 500 * rel, est.p50
    assert 990 / rel <= est.p99 <= 1000 * rel, est.p99

    # signed + zero ordering: p25 in the negatives, median at zero
    mixed = spark.createDataFrame(
        [("m", float(v)) for v in ([-100] * 25 + [0] * 30 + [100] * 45)],
        "k string, v double",
    )
    sk = loghist_sketch(mixed, ["k"], "v")
    got = sk.select(
        loghist_quantile(F.col("loghist"), 0.2).alias("p20"),
        loghist_quantile(F.col("loghist"), 0.4).alias("p40"),
        loghist_quantile(F.col("loghist"), 0.9).alias("p90"),
    ).collect()[0]
    assert got.p20 < 0 and -100 * rel <= got.p20 <= -100 / rel
    assert got.p40 == 0.0
    assert 100 / rel <= got.p90 <= 100 * rel


def test_incremental_mv_histogram_refresh_equals_recompute(spark, tmp_path):
    """The MV's quantile panel refreshes by exact sketch merge: after
    three appends refreshed one-by-one, the stored histogram equals a
    from-scratch rebuild's, and the finalized approx percentiles stay
    within the sketch's relative-error bound of the true values."""
    from pyspark.sql import functions as F  # noqa: F401

    from hapiy_etl_spark.operators.incremental_mv import IncrementalAggView
    from hapiy_etl_spark.operators.txstore import TxTable

    src = TxTable(spark, str(tmp_path / "src"))
    mk = lambda lo, hi: spark.createDataFrame(
        [("g", float(v)) for v in range(lo, hi)], "k string, v double"
    )
    mv = IncrementalAggView(
        spark,
        src,
        str(tmp_path / "mv"),
        ["k"],
        value_cols=["v"],
        histogram_col="v",
        quantiles=(0.5, 0.95),
    )
    for lo, hi in ((1, 400), (400, 800), (800, 1001)):
        src.append(mk(lo, hi))
        mv.refresh()
    incr_hist = mv.view.read().collect()[0]["loghist"]

    mv2 = IncrementalAggView(
        spark,
        src,
        str(tmp_path / "mv2"),
        ["k"],
        value_cols=["v"],
        histogram_col="v",
        quantiles=(0.5, 0.95),
    )
    mv2.refresh()  # single full build over the same data
    assert incr_hist == mv2.view.read().collect()[0]["loghist"]

    row = mv.result().collect()[0]
    rel = 10 ** (1 / 8)
    assert 500 / rel <= row.approx_p50_v <= 500 * rel
    assert 950 / rel <= row.approx_p95_v <= 950 * rel
    assert row.n == 1000 and row.min_v == 1.0 and row.max_v == 1000.0


def test_kll_sketch_exact_regime_merge_and_error_bound(spark):
    """KLL-family rank sketch (operators/sketches.py, r8): (1) within
    capacity the sketch is EXACT — quantiles are order statistics and
    a merge is the union multiset; (2) above capacity the deterministic
    MRL compactor keeps empirical rank error well-bounded; (3) the
    whole pipeline is deterministic — same input, same serialized
    sketch, bit-for-bit."""
    import json
    import random

    from hapiy_etl_spark.operators.sketches import (
        _kll_insert_many,
        _kll_merge_py,
        _kll_new,
        _kll_quantile_py,
        kll_merge_agg,
        kll_quantile,
        kll_sketch,
    )

    # (1) exact regime, python kernels: merge == union, disc quantiles
    a, b = _kll_new(128), _kll_new(128)
    _kll_insert_many(a, range(40))
    _kll_insert_many(b, range(40, 100))
    m = _kll_merge_py(a, b)
    assert sorted(m["levels"][0]) == [float(i) for i in range(100)]
    assert _kll_quantile_py(m, 0.5) == 49.0
    assert _kll_quantile_py(m, 0.01) == 0.0
    assert _kll_quantile_py(m, 1.0) == 99.0

    # (2) compaction regime: 40k values, k=256 -> rank error < 2%
    rng = random.Random(11)
    vals = [rng.gauss(100.0, 15.0) for _ in range(40000)]
    s = _kll_new(256)
    for i in range(0, len(vals), 5000):
        _kll_insert_many(s, vals[i : i + 5000])
    for q in (0.1, 0.5, 0.9, 0.99):
        est = _kll_quantile_py(s, q)
        rank = sum(1 for v in vals if v <= est) / len(vals)
        assert abs(rank - q) < 0.02, (q, rank)

    # (3) Spark path: per-group sketch -> merge agg -> quantile, exact
    # and deterministic across two runs
    rows = [("g", float(v)) for v in range(1, 201)] + [("h", 5.0), ("h", 7.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    halves = df.withColumn("b", (F.col("v") % 2).cast("int"))
    parts = [
        kll_sketch(halves.where(F.col("b") == i).drop("b"), ["g"], "v", k=512)
        for i in range(2)
    ]
    merged = (
        parts[0]
        .unionByName(parts[1])
        .groupBy("g")
        .agg(kll_merge_agg("kllrank", 512).alias("kllrank"))
    )
    out1 = {
        r.g: (r.p50, r.blob)
        for r in merged.select(
            "g",
            kll_quantile(F.col("kllrank"), 0.5).alias("p50"),
            F.col("kllrank").alias("blob"),
        ).collect()
    }
    assert out1["g"][0] == 100.0  # ceil(0.5*200) = rank 100
    assert out1["h"][0] == 5.0
    out2 = {
        r.g: (r.p50, r.blob)
        for r in merged.select(
            "g",
            kll_quantile(F.col("kllrank"), 0.5).alias("p50"),
            F.col("kllrank").alias("blob"),
        ).collect()
    }
    assert out1 == out2  # deterministic serialization end-to-end
    assert json.loads(out1["g"][1])["k"] == 512


def test_kll_compaction_conserves_weight_exactly():
    """r8 advice: compacting an ODD buffer wholesale drifts total sketch
    weight by up to 2^i per compaction. The fix leaves one element at
    level i when the buffer is odd, so total weight == items inserted,
    exactly, after every insert and merge."""
    import random

    from hapiy_etl_spark.operators.sketches import (
        _kll_insert_many,
        _kll_merge_py,
        _kll_new,
    )

    def weight(s):
        return sum(len(buf) << lvl for lvl, buf in enumerate(s["levels"]))

    rng = random.Random(7)
    s = _kll_new(16)
    n = 0
    # odd-sized batches force odd-length compactions at many levels
    for batch in (1, 17, 33, 5, 129, 255, 3, 1001, 77):
        _kll_insert_many(s, [rng.random() for _ in range(batch)])
        n += batch
        assert weight(s) == n, (batch, weight(s), n)

    other = _kll_new(16)
    _kll_insert_many(other, [rng.random() for _ in range(501)])
    m = _kll_merge_py(s, other)
    assert weight(m) == n + 501


def test_incremental_mv_null_group_key_keeps_sketch_panels(spark, tmp_path):
    """r8 advice: the sketch join-backs used non-null-safe equality, so
    a group whose KEY is NULL silently got NULL kmv/kllrank (and NULL
    distinct/quantile panels) even though its partial existed. With the
    null-safe join the NULL group carries real panels; an all-NULL-
    values group still surfaces with n>0 and NULL quantiles."""
    from hapiy_etl_spark.operators.incremental_mv import IncrementalAggView
    from hapiy_etl_spark.operators.txstore import TxTable

    rows = (
        [(None, float(i), f"u{i % 7}") for i in range(40)]
        + [("a", float(100 + i), f"v{i % 5}") for i in range(30)]
        + [("allnull", None, "w") for _ in range(4)]
    )
    df = spark.createDataFrame(rows, "g string, v double, u string")
    src = TxTable(spark, str(tmp_path / "src"))
    mv = IncrementalAggView(
        spark,
        src,
        str(tmp_path / "mv"),
        ["g"],
        value_cols=["v"],
        distinct_col="u",
        histogram_col="v",
        quantiles=(0.5,),
        rank_sketch="kll",
        kll_k=1024,
    )
    halves = df.withColumn("b", (F.xxhash64("u") % 2).cast("int"))
    for i in range(2):
        src.append(halves.where(F.pmod("b", F.lit(2)) == i).drop("b"))
        mv.refresh()

    got = {r["g"]: r.asDict() for r in mv.result().collect()}
    assert set(got) == {None, "a", "allnull"}
    # NULL-keyed group: full panels, exact in this regime
    assert got[None]["n"] == 40
    assert got[None]["approx_distinct_u"] == 7
    assert got[None]["approx_p50_v"] == 19.0  # ceil(0.5*40) = rank 20 -> 19.0
    assert got["a"]["approx_distinct_u"] == 5
    # all-NULL values: the group exists with a NULL quantile
    assert got["allnull"]["n"] == 4
    assert got["allnull"]["approx_p50_v"] is None


def test_incremental_mv_kll_refresh_equals_recompute(spark, tmp_path):
    """The KLL panel as an incremental-MV partial: refresh-by-parts
    equals a from-scratch recompute in the exact regime — the merge is
    the union multiset, so the quantiles are identical, not merely
    close."""
    from hapiy_etl_spark.operators.incremental_mv import IncrementalAggView
    from hapiy_etl_spark.operators.txstore import TxTable

    rows = [("a", float(i)) for i in range(100)] + [
        ("b", float(1000 + i)) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    src = TxTable(spark, str(tmp_path / "src"))
    mv = IncrementalAggView(
        spark,
        src,
        str(tmp_path / "mv"),
        ["g"],
        value_cols=["v"],
        histogram_col="v",
        quantiles=(0.5, 0.9),
        rank_sketch="kll",
        kll_k=1024,
    )
    thirds = df.withColumn("b", (F.xxhash64("v") % 3).cast("int"))
    for i in range(3):
        src.append(thirds.where(F.pmod("b", F.lit(3)) == i).drop("b"))
        mv.refresh()

    src2 = TxTable(spark, str(tmp_path / "src2"))
    src2.append(df)
    mv2 = IncrementalAggView(
        spark,
        src2,
        str(tmp_path / "mv2"),
        ["g"],
        value_cols=["v"],
        histogram_col="v",
        quantiles=(0.5, 0.9),
        rank_sketch="kll",
        kll_k=1024,
    )
    mv2.refresh()
    cols = ["g", "n", "approx_p50_v", "approx_p90_v"]
    got = sorted(map(tuple, mv.result().select(*cols).collect()))
    want = sorted(map(tuple, mv2.result().select(*cols).collect()))
    assert got == want
    assert got[0][2] == 49.0  # exact order statistic, not an estimate
