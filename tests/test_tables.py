"""Fixture loads: the schema Spark inferred for a fixture is reused, so
a repeated load plans without a Spark job, and a changed fixture or
inference conf infers again."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR, jobs_of

from octopufs_spark import tables


@pytest.mark.parametrize("name", ["lineitem", "events"])
def test_second_load_launches_no_job(spark, name):
    """``events`` reads its nanosecond timestamps as longs and converts
    them, from the cached schema as from an inferred one."""
    tables._SCHEMAS.pop(f"{SF_DIR}/{name}.parquet", None)
    first, jobs = jobs_of(spark, lambda: tables.load(spark, SF_DIR, name))
    assert jobs
    again, jobs = jobs_of(spark, lambda: tables.load(spark, SF_DIR, name))
    assert jobs == []
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())
    if name == "events":
        assert dict(again.dtypes)["ts"] == "timestamp_ntz"


def test_changed_fixture_or_conf_infers_again(spark, tmp_path):
    """A rewritten file, a new file in a fixture directory, and a
    changed inference conf each re-infer and replace the entry."""
    region = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), region)
    tables.load(spark, str(tmp_path), "region")
    _, jobs = jobs_of(spark, lambda: tables.load(spark, str(tmp_path), "region"))
    assert jobs == []
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["a", "b"]}), region)
    df, jobs = jobs_of(spark, lambda: tables.load(spark, str(tmp_path), "region"))
    assert jobs and df.columns == ["r_regionkey", "r_name"]
    assert list(tables._SCHEMAS).count(str(region)) == 1

    nation = tmp_path / "nation.parquet"
    nation.mkdir()
    pq.write_table(pa.table({"n_name": [b"x"]}), nation / "part-0.parquet")
    df = tables.load(spark, str(tmp_path), "nation")
    assert dict(df.dtypes)["n_name"] == "binary"
    _, jobs = jobs_of(spark, lambda: tables.load(spark, str(tmp_path), "nation"))
    assert jobs == []
    shutil.copy(nation / "part-0.parquet", nation / "part-1.parquet")
    df, jobs = jobs_of(spark, lambda: tables.load(spark, str(tmp_path), "nation"))
    assert jobs and df.count() == 2
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        df, jobs = jobs_of(spark, lambda: tables.load(spark, str(tmp_path), "nation"))
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert jobs and dict(df.dtypes)["n_name"] == "string"
