"""The per-session parquet schema memo behind ``registry.load_table``:
a repeat read of an unchanged table launches no Spark job, a rewritten
table is re-inferred, a fresh session starts empty, and ``events.ts``
keeps its semantics on a memo hit."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nosql_to_sql_migration_tool_spark.sources import registry
from nosql_to_sql_migration_tool_spark.sources.registry import load_table
from tests.conftest import SF_DIR_SMOKE


def _last_job_id(spark) -> int:
    """Highest job id in the context's status store (-1 when empty)."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    if jobs.isEmpty():
        return -1
    return max(jobs.head().jobId(), jobs.last().jobId())


def _jobs_of(spark, fn):
    before = _last_job_id(spark)
    out = fn()
    return out, _last_job_id(spark) - before


def _write_table(spark, path, n_cols: int, as_dir: bool) -> None:
    cols = {f"c{i}": list(range(5)) for i in range(n_cols)}
    if as_dir:
        spark.createDataFrame(
            list(zip(*cols.values())), ", ".join(f"{c} long" for c in cols)
        ).coalesce(1).write.mode("overwrite").parquet(str(path))
    else:
        pq.write_table(pa.table(cols), path)


def test_repeat_read_of_unchanged_table_launches_no_job(spark, tmp_path):
    _write_table(spark, tmp_path / "t.parquet", 2, as_dir=False)
    first, n_first = _jobs_of(spark, lambda: load_table(spark, str(tmp_path), "t"))
    again, n_again = _jobs_of(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert n_first == 1  # the schema-inference job
    assert n_again == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


@pytest.mark.parametrize("as_dir", [False, True], ids=["file", "directory"])
def test_rewritten_table_is_read_with_its_new_schema(spark, tmp_path, as_dir):
    path = tmp_path / "t.parquet"
    _write_table(spark, path, 2, as_dir)
    assert load_table(spark, str(tmp_path), "t").columns == ["c0", "c1"]
    _write_table(spark, path, 3, as_dir)
    df, n_jobs = _jobs_of(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert n_jobs == 1  # stale stamp: inferred again
    assert df.columns == ["c0", "c1", "c2"]
    assert df.agg({"c2": "sum"}).first()[0] == 10
    _, n_jobs = _jobs_of(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert n_jobs == 0


def test_fresh_session_reinfers(spark, tmp_path):
    _write_table(spark, tmp_path / "t.parquet", 2, as_dir=False)
    load_table(spark, str(tmp_path), "t")
    fresh = spark.newSession()
    df, n_jobs = _jobs_of(spark, lambda: load_table(fresh, str(tmp_path), "t"))
    assert n_jobs == 1
    assert df.columns == ["c0", "c1"]
    _, n_jobs = _jobs_of(spark, lambda: load_table(fresh, str(tmp_path), "t"))
    assert n_jobs == 0


def test_concurrent_first_reads_agree(spark, tmp_path):
    """Overlap threads may miss on the same table at once; every thread
    still gets the table's schema and the memo ends with one entry."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    _write_table(spark, tmp_path / "t.parquet", 3, as_dir=False)
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            futs = [
                pool.submit(load_table, spark, str(tmp_path), "t")
                for _ in range(16)
            ]
            cols = [f.result(timeout=120).columns for f in futs]
    finally:
        sys.setswitchinterval(switch)
    assert cols == [["c0", "c1", "c2"]] * 16
    keys = [k for k in registry._SCHEMA_MEMO[spark] if k[0].startswith(str(tmp_path))]
    assert len(keys) == 1
    _, n_jobs = _jobs_of(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert n_jobs == 0


def test_uri_paths_bypass_the_memo(spark, tmp_path):
    _write_table(spark, tmp_path / "t.parquet", 2, as_dir=False)
    uri = "file://" + str(tmp_path)
    for _ in range(2):
        df, n_jobs = _jobs_of(spark, lambda: load_table(spark, uri, "t"))
        assert n_jobs == 1
        assert df.columns == ["c0", "c1"]
    memo = registry._SCHEMA_MEMO.get(spark, {})
    assert not [k for k in memo if k[0].startswith("file:")]


def test_events_ts_semantics_hold_on_a_hit(spark):
    load_table(spark, SF_DIR_SMOKE, "events")
    hit, n_jobs = _jobs_of(spark, lambda: load_table(spark, SF_DIR_SMOKE, "events"))
    assert n_jobs == 0
    miss = load_table(spark.newSession(), SF_DIR_SMOKE, "events")
    assert hit.dtypes == miss.dtypes
    assert dict(hit.dtypes)["ts"] == "timestamp"
    cols = ["event_id", "unix_micros(ts)"]
    assert sorted(hit.selectExpr(*cols).collect()) == sorted(
        miss.selectExpr(*cols).collect()
    )


def test_nanos_events_ts_floors_to_micros_on_a_hit(spark, tmp_path):
    """A TIMESTAMP(NANOS) file reads as a nanos long (nanosAsLong) and
    floor-truncates to micros, also before 1970, on a hit as on a miss."""
    ns = [-1_500, 1_700_000_000_123_456_789]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([0, 1], type=pa.int64()),
                "ts": pa.array(ns, type=pa.timestamp("ns")),
            }
        ),
        tmp_path / "events.parquet",
        version="2.6",
    )
    for expect_jobs in (1, 0):
        df, n_jobs = _jobs_of(
            spark, lambda: load_table(spark, str(tmp_path), "events")
        )
        assert n_jobs == expect_jobs
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = df.orderBy("event_id").selectExpr("unix_micros(ts)").collect()
        assert [r[0] for r in got] == [n // 1000 for n in ns]
