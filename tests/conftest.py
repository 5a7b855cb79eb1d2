"""Shared pytest fixtures: one SparkSession per test session, a DuckDB
connection with the fixture tables registered as views."""

from __future__ import annotations

import glob
import os

import duckdb
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _test_driver_mem() -> str:
    """A quarter of host memory, 2-8 GiB. The package's 48g default lets
    the one long-lived test JVM grow past a small host's RAM and be
    OOM-killed mid-suite; a capped heap is collected instead."""
    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    return f"{max(2, min(8, mem_gib // 4))}g"


@pytest.fixture(scope="session")
def spark():
    from bottledwater_pg_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _test_driver_mem())
    spark = get_spark("bottledwater-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for path in glob.glob(os.path.join(SF_DIR, "*.parquet")):
        name = os.path.basename(path).replace(".parquet", "")
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


def assert_df_matches_oracle(spark_df, duck_con, sql: str, sort_cols=None):
    """Order-insensitive comparison of a Spark DataFrame against a DuckDB
    query — mirrors the driver's correctness gate (sorted columns,
    sorted rows, value compare)."""
    import pandas as pd

    mine = spark_df.toPandas()
    oracle = duck_con.sql(sql).df()
    assert sorted(mine.columns) == sorted(oracle.columns), (
        f"column mismatch: {sorted(mine.columns)} vs {sorted(oracle.columns)}"
    )
    cols = sorted(oracle.columns)
    mine = mine[cols]
    oracle = oracle[cols]
    # normalize datetime units (Spark->pandas is ns, DuckDB->pandas is us;
    # assert_frame_equal compares the raw int64 views otherwise)
    for c in cols:
        for df in (mine, oracle):
            if str(df[c].dtype).startswith("datetime64"):
                df[c] = df[c].astype("datetime64[ns]")
    sort_cols = sort_cols or cols
    mine = mine.sort_values(sort_cols).reset_index(drop=True)
    oracle = oracle.sort_values(sort_cols).reset_index(drop=True)
    assert len(mine) == len(oracle), f"row count {len(mine)} vs {len(oracle)}"
    pd.testing.assert_frame_equal(mine, oracle, check_dtype=False, atol=1e-9, rtol=1e-9)
