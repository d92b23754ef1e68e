"""Catalog helper tests (reference: metastore/package.scala,
TableMetadataValidator.scala).

Column and partition facts come from the table's CatalogTable, not from
spark.catalog.listColumns, which launches Spark jobs: these tests pin
that the two agree, that the helpers a promotion calls launch no job,
and that the validator still rejects every kind of mismatch.
"""

from __future__ import annotations

import pytest

from octopufs_spark import catalog

TYPED_COLUMNS = (
    "d DECIMAL(12,3), c CHAR(3), v VARCHAR(5), ts TIMESTAMP_NTZ, a ARRAY<INT>, "
    "m MAP<STRING, BIGINT>, s STRUCT<x: INT, y: STRING>, p STRING, q INT"
)


@pytest.fixture()
def make_table(spark, tmp_path):
    """``make_table(name, columns, using, partitioned_by)`` creates an
    external table under ``tmp_path``; every one is dropped afterwards."""
    made = []

    def make(name, columns, using="parquet", partitioned_by=None):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        parts = f"PARTITIONED BY ({partitioned_by})" if partitioned_by else ""
        spark.sql(
            f"CREATE TABLE {name} ({columns}) USING {using} {parts} "
            f"LOCATION '{tmp_path / name}'"
        )
        made.append(name)
        return name

    yield make
    for name in made:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def _listed(spark, table):
    return [(c.name, c.dataType, c.isPartition) for c in spark.catalog.listColumns(table)]


def test_columns_match_list_columns(spark, make_table):
    typed = make_table("cat_typed", TYPED_COLUMNS, partitioned_by="p, q")
    flat = make_table("cat_flat", "id BIGINT, name STRING")
    spark.range(3).createOrReplaceTempView("cat_view")
    try:
        for table in (typed, flat, "cat_view"):
            assert catalog._columns(spark, table) == _listed(spark, table)
    finally:
        spark.catalog.dropTempView("cat_view")
    cols = {name: (dtype, part) for name, dtype, part in catalog._columns(spark, typed)}
    assert cols["c"] == ("string", False)
    assert cols["d"] == ("decimal(12,3)", False)
    assert (cols["p"], cols["q"]) == (("string", True), ("int", True))


def test_get_table_metadata(spark, make_table, tmp_path):
    table = make_table("cat_meta", "a INT, p STRING, q INT", partitioned_by="p, q")
    meta = catalog.get_table_metadata(spark, table)
    assert meta["partition_columns"] == ["p", "q"]
    assert meta["provider"] == "parquet"
    assert meta["table_type"] == "EXTERNAL"
    assert meta["location"].rstrip("/").endswith(str(tmp_path / "cat_meta"))
    spark.range(3).createOrReplaceTempView("cat_meta_view")
    try:
        assert catalog.get_table_metadata(spark, "cat_meta_view")["partition_columns"] == []
    finally:
        spark.catalog.dropTempView("cat_meta_view")


def test_promotion_helpers_launch_no_spark_jobs(spark, make_table):
    columns = "a INT, p STRING"
    src = make_table("cat_jobs_src", columns, partitioned_by="p")
    trg = make_table("cat_jobs_trg", columns, partitioned_by="p")
    spark.sql(f"INSERT INTO {src} VALUES (1, 'x'), (2, 'y'), (3, 'z')")
    sc = spark.sparkContext
    group = "catalog_no_jobs"
    sc.setJobGroup(group, "catalog helpers must not launch Spark jobs")
    try:
        catalog.validate_compatibility(spark, src, trg)
        matched = catalog.filter_partitions(spark, src, ["p=y"])
        paths = catalog.get_table_l1_partition_paths(spark, src)
        catalog.refresh_metadata(spark, src)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [p.rsplit("/", 1)[-1] for p in matched] == ["p=y"]
    assert sorted(p.rsplit("/", 1)[-1] for p in paths) == ["p=x", "p=y", "p=z"]
    assert jobs == []


@pytest.mark.parametrize(
    "trg_columns, trg_using, trg_parts, message",
    [
        ("a BIGINT, p STRING, q INT", "parquet", "p", "incompatible schemas/partitioning"),
        ("a INT, p STRING, q INT", "parquet", "q", "incompatible schemas/partitioning"),
        ("a INT, p STRING, q INT", "orc", "p", "incompatible formats"),
    ],
    ids=["column_type", "partition_columns", "format"],
)
def test_validate_compatibility_rejects(spark, make_table, trg_columns, trg_using, trg_parts, message):
    src = make_table("cat_val_src", "a INT, p STRING, q INT", partitioned_by="p")
    trg = make_table("cat_val_trg", trg_columns, using=trg_using, partitioned_by=trg_parts)
    with pytest.raises(ValueError, match=message):
        catalog.validate_compatibility(spark, src, trg)


def test_l1_partition_paths_require_partitioned_table(spark, make_table):
    table = make_table("cat_unpart", "a INT, b STRING")
    with pytest.raises(ValueError, match="not partitioned"):
        catalog.get_table_l1_partition_paths(spark, table)
