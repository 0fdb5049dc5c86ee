"""Unit tests for library operators: as-of join, interval join, upsert,
watermark store."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from hapiy_etl_spark.operators.asof import asof_join, interval_overlap_join
from hapiy_etl_spark.operators.upsert import dedup_by_key, upsert_by_key
from hapiy_etl_spark.operators.watermark import WatermarkStore


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def quotes(spark):
    return spark.createDataFrame(
        [
            ("A", ts("2024-01-01 10:00:00"), 100.0),
            ("A", ts("2024-01-01 10:05:00"), 101.0),
            ("A", ts("2024-01-01 10:10:00"), 102.0),
            ("B", ts("2024-01-01 10:03:00"), 50.0),
        ],
        "sym string, qts timestamp, px double",
    )


@pytest.fixture()
def trades(spark):
    return spark.createDataFrame(
        [
            ("A", ts("2024-01-01 10:02:00"), 1),  # after 10:00 quote
            ("A", ts("2024-01-01 10:05:00"), 2),  # exactly at 10:05
            ("A", ts("2024-01-01 09:59:00"), 3),  # before any quote
            ("B", ts("2024-01-01 10:04:00"), 4),
            ("C", ts("2024-01-01 10:00:00"), 5),  # no quotes at all
        ],
        "sym string, tts timestamp, trade_id int",
    )


def test_asof_join_backward_inclusive(spark, trades, quotes):
    out = asof_join(
        trades, quotes, on="sym", left_ts="tts", right_ts="qts", right_cols=["qts", "px"], how="left"
    )
    got = {r.trade_id: (r.px, r.qts) for r in out.collect()}
    assert got[1] == (100.0, ts("2024-01-01 10:00:00"))
    assert got[2] == (101.0, ts("2024-01-01 10:05:00"))  # inclusive: same-ts visible
    assert got[3] == (None, None)
    assert got[4] == (50.0, ts("2024-01-01 10:03:00"))
    assert got[5] == (None, None)


def test_asof_join_strict_and_inner(spark, trades, quotes):
    out = asof_join(
        trades, quotes, on="sym", left_ts="tts", right_ts="qts", right_cols=["px"], strict=True
    )
    got = {r.trade_id: r.px for r in out.collect()}
    assert got[2] == 100.0  # strict: 10:05 quote NOT visible at 10:05 trade
    assert 3 not in got and 5 not in got  # inner drops unmatched


def test_asof_rejects_column_clash(spark, trades, quotes):
    with pytest.raises(ValueError, match="collide"):
        asof_join(
            trades.withColumn("px", F.lit(0.0)),
            quotes,
            on="sym",
            left_ts="tts",
            right_ts="qts",
            right_cols=["px"],
        )


def test_interval_overlap_join_bucketed_matches_plain(spark):
    left = spark.createDataFrame(
        [("A", ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"), 1),
         ("A", ts("2024-01-01 12:00:00"), ts("2024-01-01 13:00:00"), 2)],
        "sym string, s timestamp, e timestamp, lid int",
    )
    right = spark.createDataFrame(
        [("A", ts("2024-01-01 10:30:00"), ts("2024-01-01 12:30:00"), 10),
         ("A", ts("2024-01-01 13:00:00"), ts("2024-01-01 14:00:00"), 20)],
        "sym string, s timestamp, e timestamp, rid int",
    )
    plain = interval_overlap_join(left, right, "sym", "s", "e", "s", "e")
    pairs_plain = sorted((r["lid"], r["rid"]) for r in plain.select("lid", "rid").collect())
    bucketed = interval_overlap_join(left, right, "sym", "s", "e", "s", "e", bucket_seconds=1800)
    pairs_bucketed = sorted((r["lid"], r["rid"]) for r in bucketed.select("lid", "rid").collect())
    # [12:00,13:00) vs [13:00,14:00) do NOT overlap (half-open)
    assert pairs_plain == [(1, 10), (2, 10)]
    assert pairs_bucketed == pairs_plain


def test_dedup_last_write_wins(spark):
    df = spark.createDataFrame(
        [("k1", 1, "old"), ("k1", 2, "new"), ("k2", 5, "only")],
        "k string, seq int, v string",
    )
    out = {r.k: r.v for r in dedup_by_key(df, ["k"], order_col="seq").collect()}
    assert out == {"k1": "new", "k2": "only"}


def test_upsert_by_key_semantics(spark):
    existing = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    new = spark.createDataFrame([("b", 20), ("c", 30), ("b", 20)], "k string, v int")
    out = {r.k: r.v for r in upsert_by_key(existing, new, ["k"]).collect()}
    assert out == {"a": 1, "b": 20, "c": 30}


def test_txtable_merge_redelivery_idempotent(spark, tmp_path):
    from hapiy_etl_spark.operators.txstore import TxTable

    table = TxTable(spark, str(tmp_path / "state"))
    batch = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    table.merge(batch, ["k"])
    table.merge(batch, ["k"])  # re-delivery is a no-op
    assert table.read().count() == 2
    table.merge(spark.createDataFrame([("b", 99)], "k string, v int"), ["k"])
    out = {r.k: r.v for r in table.read().collect()}
    assert out == {"a": 1, "b": 99}


def test_watermark_store(spark, tmp_path):
    store = WatermarkStore(str(tmp_path / "wm.json"))
    assert store.get("src") is None
    df = spark.createDataFrame(
        [(ts("2024-01-01 10:00:00"),), (ts("2024-01-02 10:00:00"),), (None,)],
        "ts timestamp",
    )
    wm = store.advance_from("src", df, "ts")
    assert wm == ts("2024-01-02 10:00:00")  # max ignores nulls (REF R8)
    # never lowers
    older = spark.createDataFrame([(ts("2023-01-01 00:00:00"),)], "ts timestamp")
    assert store.advance_from("src", older, "ts") == wm
    # strict > filter: watermark row itself excluded, no same-second loss
    remaining = store.incremental_filter("src", df, "ts").collect()
    assert remaining == []


def test_asof_join_null_right_values_from_same_row(spark):
    """A genuinely-null right value must not be conflated with no-match,
    and filled columns must all come from the SAME right row (the struct
    payload guarantees both)."""
    quotes = spark.createDataFrame(
        [
            ("A", ts("2024-01-01 10:00:00"), 100.0, "nyse"),
            # latest quote has a NULL px but a real venue
            ("A", ts("2024-01-01 10:05:00"), None, "arca"),
        ],
        "sym string, qts timestamp, px double, venue string",
    )
    trades = spark.createDataFrame(
        [("A", ts("2024-01-01 10:06:00"), 1)],
        "sym string, tts timestamp, trade_id int",
    )
    out = asof_join(
        trades, quotes, on="sym", left_ts="tts", right_ts="qts",
        right_cols=["px", "venue"], how="inner",
    ).collect()
    # matched (inner keeps it) even though px is null; no mixing with the
    # 10:00 row's px=100.0
    assert len(out) == 1
    assert out[0].px is None and out[0].venue == "arca"


def test_table_diff_replay_reproduces_new(spark):
    """Applying the diff to old (delete D keys, upsert I/U rows) must
    reproduce new exactly — the CDC round-trip contract."""
    from hapiy_etl_spark.operators.upsert import table_diff, upsert_by_key

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b", 20.0), (3, "c2", 30.0), (4, "d", 40.0), (5, "e", 50.0)],
        "k long, s string, v double",
    )
    d = table_diff(old, new, keys=["k"])
    ops = {r.k: r.op for r in d.collect()}
    assert ops == {1: "D", 3: "U", 5: "I"}  # 2 and 4 unchanged -> absent

    deletes = d.where("op = 'D'").select("k")
    upserts = d.where("op != 'D'").drop("op")
    replayed = upsert_by_key(old.join(deletes, "k", "left_anti"), upserts, keys=["k"])
    assert sorted(map(tuple, replayed.collect())) == sorted(map(tuple, new.collect()))


def test_parquet_merge_schema_evolution(spark, tmp_path):
    """Schema evolution on read: files written with different columns
    merge into the union schema (new columns null for old files)."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, s string").write.parquet(f"{p}/batch=1")
    spark.createDataFrame([(2, "b", 9.5)], "id long, s string, score double").write.parquet(
        f"{p}/batch=2"
    )
    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(df.columns) == {"id", "s", "score", "batch"}
    rows = {r.id: r.score for r in df.collect()}
    assert rows == {1: None, 2: 9.5}


def test_bucketed_write_join_is_shuffle_free(spark, sf_dir):
    """Both join sides bucketed by the join key (same bucket count):
    the SortMergeJoin plan must contain NO Exchange — the write-time
    shuffle replaces every query-time shuffle on that key. The 100 TB
    fact-fact join lever."""
    import contextlib
    import io as _io

    from hapiy_etl_spark.io import read_table, write_bucketed

    orders = read_table(spark, sf_dir, "orders").withColumnRenamed("o_orderkey", "orderkey")
    li = read_table(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "orderkey")
    write_bucketed(orders, "bq_orders", "orderkey", n_buckets=8)
    write_bucketed(li.select("orderkey", "l_extendedprice"), "bq_lineitem", "orderkey", n_buckets=8)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("bq_orders").join(spark.table("bq_lineitem"), "orderkey")
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert j.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS bq_orders")
        spark.sql("DROP TABLE IF EXISTS bq_lineitem")


def test_triangle_stats_known_graph(spark):
    """K4 (4 triangles) + a pendant path + a disconnected edge, with
    duplicate/reversed/self-loop noise the canonicalizer must absorb."""
    from hapiy_etl_spark.operators.graph import triangle_stats

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    noise = [(2, 1), (3, 1), (5, 5)]  # reversed dups + self-loop
    extra = [(4, 5), (6, 7)]  # pendant edge + disconnected edge
    edges = spark.createDataFrame(k4 + noise + extra, "src long, dst long")
    row = triangle_stats(edges).collect()[0]
    assert row.n_nodes == 7
    assert row.n_edges == 8
    assert row.n_triangles == 4
    # wedges: deg = {1:3, 2:3, 3:3, 4:4, 5:1, 6:1, 7:1} -> 3+3+3+6 = 15
    assert row.n_wedges == 15
    assert abs(row.clustering - 3.0 * 4 / 15) < 1e-6


def test_triangle_stats_triangle_free(spark):
    """A star graph has wedges but zero triangles."""
    from hapiy_etl_spark.operators.graph import triangle_stats

    star = [(0, i) for i in range(1, 6)]
    row = triangle_stats(spark.createDataFrame(star, "src long, dst long")).collect()[0]
    assert row.n_triangles == 0
    assert row.n_wedges == 10


def test_asof_forward_and_tolerance(spark):
    """Forward direction picks the nearest FOLLOWING right row; the
    tolerance nulls (how=left) or drops (how=inner) distant matches;
    equal timestamps are visible when non-strict, invisible when
    strict."""
    import datetime as dt

    from hapiy_etl_spark.operators.asof import asof_join

    T = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    left = spark.createDataFrame(
        [(1, T(10)), (1, T(30)), (2, T(10))], "k long, lts timestamp"
    )
    right = spark.createDataFrame(
        [(1, T(10), "a"), (1, T(12), "b"), (1, T(300), "c")],
        "k long, rts timestamp, v string",
    )
    fwd = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        right_cols=["v"], how="left", direction="forward",
    ).orderBy("k", "lts").collect()
    # t=10 sees the equal-ts 'a'; t=30 sees 'c'; k=2 unmatched
    assert [r.v for r in fwd] == ["a", "c", None]

    fwd_strict = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        right_cols=["v"], how="left", direction="forward", strict=True,
    ).orderBy("k", "lts").collect()
    # strict: t=10 skips equal-ts 'a', lands on 'b'
    assert [r.v for r in fwd_strict] == ["b", "c", None]

    fwd_tol = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        right_cols=["v"], how="left", direction="forward",
        tolerance_seconds=60,
    ).orderBy("k", "lts").collect()
    # t=30 -> 'c' at t=300 is 270s away, beyond the 60s tolerance
    assert [r.v for r in fwd_tol] == ["a", None, None]

    fwd_tol_inner = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        right_cols=["v"], how="inner", direction="forward",
        tolerance_seconds=60,
    ).collect()
    assert [r.v for r in fwd_tol_inner] == ["a"]

    back_tol = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        right_cols=["v"], how="left", direction="backward",
        tolerance_seconds=5,
    ).orderBy("k", "lts").collect()
    # backward tolerance: t=30's latest prior is 'b' at 12 (18s > 5s)
    assert [r.v for r in back_tol] == ["a", None, None]


def test_interval_union_stats_merges_touching_and_overlapping(spark):
    import datetime as dt

    from hapiy_etl_spark.operators.timeseries import interval_union_stats

    T = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    rows = [
        # key 1: [0,10) + [5,20) overlap -> [0,20); [20,30) touches -> merged;
        # [40,50) separate. covered = 30+10 = 40s, 2 segments
        (1, T(0), T(10)), (1, T(5), T(20)), (1, T(20), T(30)), (1, T(40), T(50)),
        # key 2: containment [0,100) superset of [10,20)
        (2, T(0), T(100)), (2, T(10), T(20)),
    ]
    df = spark.createDataFrame(rows, "k long, s timestamp, e timestamp")
    out = {r.k: r for r in interval_union_stats(df, "k", "s", "e").collect()}
    assert out[1].covered_micros == 40 * 1_000_000
    assert out[1].n_segments == 2
    assert out[2].covered_micros == 100 * 1_000_000
    assert out[2].n_segments == 1


def test_edit_distance_pairs_match_bruteforce(spark):
    """Deletion-neighborhood candidates + exact verify must find exactly
    the brute-force Levenshtein<=1 pairs on a planted typo set (sub,
    insert, delete, far-apart, and identical-string cases)."""
    from pyspark.sql import functions as F

    from hapiy_etl_spark.operators.editsim import edit_distance_pairs

    words = [
        "spark", "sparc", "spak", "sparks",  # sub / delete / insert of spark
        "shuffle", "shufle", "table", "cable", "fable",
        "window", "widow", "totally-unrelated", "spark",  # dup string, new id
    ]
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "id long, s string"
    )
    got = {
        (r.id_a, r.id_b)
        for r in edit_distance_pairs(df, "id", "s", max_edit=1).collect()
    }
    brute = {
        (a_i, b_i)
        for a_i, a_w in enumerate(words)
        for b_i, b_w in enumerate(words)
        if a_i < b_i and a_w != b_w and _lev(a_w, b_w) <= 1
    }
    assert got == brute
    # the identical-string pair (0, 13) is excluded by the s_a != s_b rule
    assert (0, 13) not in got


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_edit_distance_pairs_plan_has_no_cartesian(spark):
    from hapiy_etl_spark.operators.editsim import edit_distance_pairs

    df = spark.createDataFrame(
        [(i, f"word{i}") for i in range(50)], "id long, s string"
    )
    plan = (
        edit_distance_pairs(df, "id", "s")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_schema_diff_reports_drift_kinds(spark):
    """Added / removed / retyped / nullability drift between snapshot
    schemas, from footers only (no job)."""
    from pyspark.sql import types as T

    from hapiy_etl_spark.operators.upsert import schema_diff

    old = spark.createDataFrame([], T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
        T.StructField("gone", T.IntegerType(), True),
    ]))
    new = spark.createDataFrame([], T.StructType([
        T.StructField("id", T.LongType(), True),       # relaxed nullability
        T.StructField("v", T.IntegerType(), True),     # retyped
        T.StructField("fresh", T.DoubleType(), True),  # added
    ]))
    diff = {d["column"]: d["kind"] for d in schema_diff(old, new)}
    assert diff == {
        "gone": "removed",
        "fresh": "added",
        "v": "retyped",
        "id": "renullabled",
    }
    assert schema_diff(old, old) == []


def test_checked_append_quarantine_and_fail_modes(spark, tmp_path):
    """Constraint-gated TxTable append: quarantine mode lands clean rows
    in the table and violating rows (with sorted reasons) in a
    versioned quarantine table; fail mode aborts before ANY write when
    a violation exists and appends atomically when none do."""
    import pytest as _pytest

    from hapiy_etl_spark.operators.constraints import (
        VIOLATIONS_COL,
        Check,
        checked_append,
        validate_split,
    )
    from hapiy_etl_spark.operators.txstore import TxTable

    checks = [
        Check("v_not_null", "v IS NOT NULL"),
        Check("k_positive", "k > 0"),
    ]
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (-3, None), (4, "d")], "k long, v string"
    )

    clean, bad = validate_split(df, checks)
    assert {r.k for r in clean.collect()} == {1, 4}
    reasons = {r.k: list(r[VIOLATIONS_COL]) for r in bad.collect()}
    assert reasons == {2: ["v_not_null"], -3: ["k_positive", "v_not_null"]}

    t = TxTable(spark, str(tmp_path / "t"))
    q = TxTable(spark, str(tmp_path / "q"))
    rep = checked_append(t, df, checks, quarantine_table=q)
    assert rep == {"appended": 2, "quarantined": 2}
    assert {r.k for r in t.read().collect()} == {1, 4}
    assert {r.k for r in q.read().collect()} == {2, -3}

    # fail mode: nothing written on violation...
    v_before = t.latest_version()
    with _pytest.raises(ValueError, match="violate constraints"):
        checked_append(t, df, checks, mode="fail")
    assert t.latest_version() == v_before
    # ...and a clean batch appends
    ok = spark.createDataFrame([(9, "z")], "k long, v string")
    assert checked_append(t, ok, checks, mode="fail") == {
        "appended": 1,
        "quarantined": 0,
    }
    assert {r.k for r in t.read().collect()} == {1, 4, 9}


def test_resample_interpolate_planted_semantics(spark):
    """Planted series: head slots stay null, interior gaps are linear,
    tail slots carry the last observation forward."""
    import datetime as dt

    from hapiy_etl_spark.operators.timeseries import resample_interpolate

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [  # observations at hours 1, 4 (values 10 -> 40), last at 4
        (1, base + dt.timedelta(hours=1), 10.0),
        (1, base + dt.timedelta(hours=4), 40.0),
        (1, base + dt.timedelta(hours=6, minutes=30), 40.0),
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    # widen the span with a sentinel observation at hour 0 for key 2 so
    # key 1's own grid is [1h, 6h]
    out = {
        int(r.grid_ts.hour): (r.value_interp, r.is_observed)
        for r in resample_interpolate(df, "k", "ts", "v", 3600).collect()
    }
    assert out[1] == (10.0, True)
    assert out[2] == (20.0, False)  # linear: 10 + (40-10)*1/3
    assert out[3] == (30.0, False)
    assert out[4] == (40.0, True)
    assert out[5] == (40.0, False)  # tail ffill up to the last slot
    assert out[6] == (40.0, True)

    # head-null: drop the hour-1 observation's value only via a later start
    df2 = spark.createDataFrame(
        [(1, base + dt.timedelta(hours=2), None), (1, base + dt.timedelta(hours=3), 5.0)],
        "k int, ts timestamp, v double",
    )
    out2 = {
        int(r.grid_ts.hour): r.value_interp
        for r in resample_interpolate(df2, "k", "ts", "v", 3600).collect()
    }
    assert out2[2] is None  # before the first non-null observation
    assert out2[3] == 5.0
