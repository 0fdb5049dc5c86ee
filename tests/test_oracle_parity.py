"""Every registered query with an oracle must hash-match DuckDB locally.

This replays the driver's correctness gate at sf0.001 (fast) — the
driver runs the same comparison at sf0.01 per round.
"""

from __future__ import annotations

import pytest

from hapiy_etl_spark.registry import all_queries
from tests.oracle import compare

QUERIES = [q for q in all_queries().values() if q.oracle is not None]


@pytest.mark.parametrize("query", QUERIES, ids=[q.name for q in QUERIES])
def test_oracle_parity(spark, sf_dir, query):
    compare(spark, query, sf_dir)


def test_all_queries_runnable(spark, sf_dir):
    """Queries without an oracle still must run and return a DataFrame."""
    for q in all_queries().values():
        if q.oracle is None:
            df = q.fn(spark, sf_dir)
            assert df.count() >= 0, q.name


def test_harness_rejects_decimal_vs_float():
    """The local gate must be as dtype-strict as the driver's hash."""
    from decimal import Decimal

    import pytest as _pytest

    from tests.oracle import compare_frames

    with _pytest.raises(AssertionError, match="value mismatch"):
        compare_frames("planted", ["v"], [(Decimal("3.50"),)], ["v"], [(3.5,)])


def test_harness_rejects_int_vs_float():
    import pytest as _pytest

    from tests.oracle import compare_frames

    with _pytest.raises(AssertionError, match="value mismatch"):
        compare_frames("planted", ["v"], [(1,)], ["v"], [(1.0,)])


def test_harness_reproduces_duckdb_hugeint_seam():
    """DuckDB returns HUGEINT for SUM over integers, which ``.df()``
    materializes as float64 while Spark emits int64 — the root cause of
    all three r02 driver hash failures. The local gate must surface it:
    an un-cast integer SUM mismatches an int result, and the registry
    convention (CAST ... AS BIGINT) fixes it."""
    import duckdb as _duckdb

    from tests.oracle import _pdf_rows, compare_frames

    con = _duckdb.connect()
    try:
        cols, rows = _pdf_rows(
            con.execute("SELECT SUM(x) AS s FROM (VALUES (1), (2)) t(x)").df()
        )
        f_cols, f_rows = _pdf_rows(
            con.execute(
                "SELECT CAST(SUM(x) AS BIGINT) AS s FROM (VALUES (1), (2)) t(x)"
            ).df()
        )
    finally:
        con.close()
    with pytest.raises(AssertionError, match="value mismatch"):
        compare_frames("planted", ["s"], [(3,)], cols, rows)
    compare_frames("planted", ["s"], [(3,)], f_cols, f_rows)


def test_harness_rejects_array_cells():
    import pytest as _pytest

    from tests.oracle import UnsafeOutputError, compare_frames

    with _pytest.raises(UnsafeOutputError):
        compare_frames("planted", ["v"], [([1, 2],)], ["v"], [([1, 2],)])


def test_stats_pruned_time_slice_with_null_ts_event(spark, sf_dir, tmp_path):
    """An event with a NULL ts forms a NULL week group; the query skips
    it (no window can hold it) instead of raising on ``int(None)``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hapiy_etl_spark.io import TABLES

    for t in TABLES:
        if t != "events":
            (tmp_path / f"{t}.parquet").symlink_to(f"{sf_dir}/{t}.parquet")
    ev = pq.read_table(f"{sf_dir}/events.parquet")
    i = ev.schema.get_field_index("ts")
    null_ts = ev.slice(0, 1).set_column(
        i, ev.schema.field(i), pa.nulls(1, ev.schema.field(i).type)
    )
    pq.write_table(pa.concat_tables([ev, null_ts]), tmp_path / "events.parquet")
    compare(spark, all_queries()["stats_pruned_time_slice"], str(tmp_path))
