"""Every declared query with an oracle must match DuckDB locally —
the same gate the driver applies at sf0.01 (run here at the fixture SF)."""

from __future__ import annotations

import pytest

from nosql_to_sql_migration_tool_spark.queries import ORACLES, QUERIES
from tests.conftest import SF_DIR_CORRECTNESS
from tests.oracle_check import compare


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, spark, duck):
    spark_df = QUERIES[name](spark, SF_DIR_CORRECTNESS)
    duck_rel = duck.sql(ORACLES[name])
    problems = compare(spark_df, duck_rel)
    assert not problems, f"{name}: {problems}"


def test_every_query_has_an_oracle():
    """test_oracle_parity executes every declared query value-for-value
    at the same SF, so a separate run-them-all pass is pure duplication
    (78s of suite time, VERDICT r7 next #8) — PROVIDED the parametrized
    list covers the whole registry. This pin keeps that true: a query
    registered without an oracle would silently drop out of the local
    gate otherwise."""
    assert set(QUERIES) == set(ORACLES)


def test_stratified_sample_respects_bounds(spark):
    from nosql_to_sql_migration_tool_spark.operators.relational import (
        stratified_sample,
    )
    from nosql_to_sql_migration_tool_spark.sources.registry import load_table
    from tests.conftest import SF_DIR_SMOKE

    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    out = stratified_sample(
        customer, "c_mktsegment", {"BUILDING": "ff", "MACHINERY": "10"},
        "c_custkey",
    )
    segs = {r["c_mktsegment"] for r in out.select("c_mktsegment").distinct().collect()}
    assert segs <= {"BUILDING", "MACHINERY"}
    n_building_all = customer.filter("c_mktsegment = 'BUILDING'").count()
    n_building_kept = out.filter("c_mktsegment = 'BUILDING'").count()
    n_mach_all = customer.filter("c_mktsegment = 'MACHINERY'").count()
    n_mach_kept = out.filter("c_mktsegment = 'MACHINERY'").count()
    assert n_building_kept == n_building_all  # 'ff' bound ~= keep all
    assert 0 < n_mach_kept < n_mach_all / 2   # '10' bound ~= 6%


def test_median_price_rounds_half_cent_like_duckdb(spark, tmp_path):
    """251826.35 / 251826.36 interpolate to 251826.35499999998 in both
    engines. Spark's round(x, 2) takes that HALF_UP to .35, DuckDB's
    round(double, 2) = round(x * 100) / 100 gives .36; the query must
    round DuckDB's way."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "orders.parquet"
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([1, 2], type=pa.int64()),
                "o_totalprice": pa.array([251826.35, 251826.36]),
                "o_orderpriority": ["1-URGENT", "1-URGENT"],
            }
        ),
        path,
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{path}'")
    name = "median_price_by_priority"
    spark_df = QUERIES[name](spark, str(tmp_path))
    assert spark_df.first()["median_price"] == 251826.36
    problems = compare(spark_df, con.sql(ORACLES[name]))
    con.close()
    assert not problems, problems
