"""Compaction tests (reference: Coalesce.scala behavior)."""

from __future__ import annotations

import os
import threading
import zlib
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from octopufs_spark import compact
from octopufs_spark.fs.core import MAX_ATTEMPTS
from tests.conftest import SF_DIR, jobs_of


def _write_fragmented(spark, path: str, n_files: int = 20):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return df.count()


def test_median_heuristic_skips_large_files(spark, tmp_path):
    path = str(tmp_path / "big")
    _write_fragmented(spark, path, n_files=2)
    # files ~tens of KB; 0MB-target → already "large enough" relative to 0
    assert compact.figure_out_number_of_partitions(path, requested_mb=0) == -1


def test_auto_coalesce_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "frag")
    n = _write_fragmented(spark, path, n_files=20)
    files_before = len(list(Path(path).glob("*.parquet")))
    assert files_before >= 20
    rewritten = compact.do_auto_coalesce(spark, path, requested_size_mb=100)
    assert rewritten
    files_after = len(list(Path(path).glob("*.parquet")))
    assert files_after < files_before
    assert spark.read.parquet(path).count() == n
    assert not Path(path + "_temp").exists()


def test_get_lowest_folders(tmp_path):
    (tmp_path / "t" / "a" / "x").mkdir(parents=True)
    (tmp_path / "t" / "a" / "y").mkdir(parents=True)
    (tmp_path / "t" / "b").mkdir(parents=True)
    leaves = {Path(p).name for p in compact.get_lowest_folders(str(tmp_path / "t"))}
    assert leaves == {"x", "y", "b"}


def _tree(root) -> dict[str, int]:
    """{relative path: crc32} of every file and folder under ``root``."""
    out = {}
    for dirpath, dirs, files in os.walk(root):
        out.update({os.path.relpath(os.path.join(dirpath, d), root): -1 for d in dirs})
        for name in files:
            path = os.path.join(dirpath, name)
            out[os.path.relpath(path, root)] = zlib.crc32(Path(path).read_bytes())
    return out


def _temps(root) -> list[str]:
    return [d for d, dirs, _ in os.walk(root) for x in dirs if x.endswith("_temp")]


def _data(folder) -> list[Path]:
    return sorted(p for p in Path(folder).iterdir() if p.is_file() and not p.name.startswith(("_", ".")))


def _on(spark, path: str, fn, attempts: int = 1):
    """``fn()``, checked to have rewritten on ``path``: no Spark job on
    the driver path; on the Spark path one job per attempt, the first
    and each retry (none at all when nothing needed a rewrite)."""
    out, jobs = jobs_of(spark, fn)
    assert len(jobs) == (attempts if path == "spark" else 0), path
    return out


def test_do_it_all_partitioned(spark, tmp_path, each_batch_path):
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet").withColumn("o_year", F.year("o_orderdate"))
    for path in each_batch_path():
        root = str(tmp_path / path / "part")
        df.repartition(10).write.mode("overwrite").partitionBy("o_year").parquet(root)
        n = spark.read.parquet(root).count()
        rewritten = _on(spark, path, lambda: compact.do_it_all(spark, [root], requested_file_size_mb=100))
        assert rewritten > 0
        assert spark.read.parquet(root).count() == n
        # a compacted leaf holds one data file beside _SUCCESS; a checksum
        # beside it (Hadoop's writer leaves one) is not data either, so a
        # second run settles
        leaves = [p for p in Path(root).iterdir() if p.is_dir()]
        assert all((leaf / "_SUCCESS").exists() and len(_data(leaf)) == 1 for leaf in leaves)
        for leaf in leaves:
            (leaf / f".{_data(leaf)[0].name}.crc").write_bytes(b"crc")
        names = sorted(str(p.relative_to(root)) for p in Path(root).rglob("*"))
        again = lambda: compact.do_it_all(spark, [root], requested_file_size_mb=100)  # noqa: E731
        assert _on(spark, path, again, attempts=0) == 0
        assert sorted(str(p.relative_to(root)) for p in Path(root).rglob("*")) == names


@pytest.mark.parametrize("spelling", ["file:///", "file:/"])
def test_escaped_and_spaced_leaves_are_rewritten_in_place(spark, tmp_path, spelling, each_batch_path):
    """Spark writes ``p='a:b'`` to a ``p=a%3Ab`` directory and ``p='x y'``
    to ``p=x y``. Compaction takes both names as written, on every
    spelling of the root: each leaf is rewritten where it is, and no
    percent-decoded ``p=a:b`` sibling appears beside the original."""
    df = spark.range(300).withColumn("p", F.when(F.col("id") % 2 == 0, "a:b").otherwise("x y"))
    for path in each_batch_path():
        root = tmp_path / path / "esc"
        df.repartition(6).write.partitionBy("p").parquet(str(root))
        assert sorted(d.name for d in root.iterdir() if d.is_dir()) == ["p=a%3Ab", "p=x y"]
        uri = spelling + str(root).lstrip("/")
        assert _on(spark, path, lambda: compact.do_it_all(spark, [uri], requested_file_size_mb=100)) == 2
        assert sorted(d.name for d in root.iterdir() if d.is_dir()) == ["p=a%3Ab", "p=x y"]
        assert all(len(_data(root / leaf)) == 1 for leaf in ("p=a%3Ab", "p=x y"))
        got = spark.read.parquet(str(root))
        assert got.count() == 300
        assert {r.p: r["count"] for r in got.groupBy("p").count().collect()} == {"a:b": 150, "x y": 150}


def test_own_pool_threads_exit(spark, tmp_path):
    """On empty leaves compaction needs no Spark session, rewrites
    nothing, and the listing's worker threads exit before it returns;
    so do the driver pool's threads of a rewrite."""
    for i in range(4):
        (tmp_path / "t" / f"p={i}").mkdir(parents=True)
    baseline = threading.active_count()
    assert compact.do_partition_coalesce(None, str(tmp_path / "t")) == 0
    assert threading.active_count() == baseline
    assert compact.do_it_all(None, [str(tmp_path / "t")]) == 0
    assert threading.active_count() == baseline
    for i in range(4):
        for j in range(3):
            _pa_file(tmp_path / "t" / f"p={i}" / f"{j}.parquet", pa.table({"id": [j]}))
    assert _on(spark, "driver", lambda: compact.do_it_all(spark, [str(tmp_path / "t")])) == 4
    assert threading.active_count() == baseline


def test_local_compaction_starts_no_thread(spark, tmp_path, driver_pools):
    """A compaction whose leaves are all local prepares, rewrites and
    swaps them on the calling thread."""
    for i in range(3):
        for j in range(3):
            _pa_file(tmp_path / "t" / f"p={i}" / f"{j}.parquet", pa.table({"id": [j]}))
    assert _on(spark, "driver", lambda: compact.do_it_all(spark, [f"file:{tmp_path}/t"])) == 3
    assert driver_pools == []
    assert all(len(_data(tmp_path / "t" / f"p={i}")) == 1 for i in range(3))


def test_a_failed_local_swap_still_finishes_the_other_leaves(spark, tmp_path, driver_pools, monkeypatch):
    """On the calling thread, as on a pool, one leaf whose swap raises
    does not stop the others: they are swapped in, and the error is
    raised once every leaf has run, leaving no other ``_temp`` behind."""
    for i in range(3):
        for j in range(3):
            _pa_file(tmp_path / "t" / f"p={i}" / f"{j}.parquet", pa.table({"id": [j]}))
    real, failed = compact._run_threaded, []

    def first_swap_fails(fn, items, *args):
        if fn.__name__ != "finish":
            return real(fn, items, *args)

        def swap(leaf):
            if leaf == items[0]:
                failed.append(Path(leaf).name)
                raise OSError(f"swap of {leaf} failed")
            return fn(leaf)

        return real(swap, items, *args)

    monkeypatch.setattr(compact, "_run_threaded", first_swap_fails)
    with pytest.raises(OSError, match="swap of .* failed"):
        compact.do_it_all(spark, [str(tmp_path / "t")])
    assert driver_pools == []
    leaves = ["p=0", "p=1", "p=2"]
    assert sorted(os.listdir(tmp_path / "t")) == sorted(leaves + [f"{failed[0]}_temp"])
    for leaf in leaves:
        assert len(_data(tmp_path / "t" / leaf)) == (3 if leaf == failed[0] else 1), leaf


def test_mixed_schema_folder_is_left_intact(spark, tmp_path, each_batch_path):
    """Spark's non-merging read keeps one file's schema, so rewriting a
    schema-evolved folder would drop the other files' columns: it is
    skipped, bytes and all."""
    for path in each_batch_path():
        folder = str(tmp_path / path / "t")
        spark.range(3).repartition(3).write.parquet(folder)
        spark.range(3, 6).withColumn("extra", F.lit("x")).repartition(3).write.mode("append").parquet(folder)
        before = _tree(tmp_path / path)
        coalesce = lambda: compact.do_auto_coalesce(spark, folder, requested_size_mb=100)  # noqa: E731
        assert _on(spark, path, coalesce) is False
        assert _tree(tmp_path / path) == before
        assert _temps(tmp_path / path) == []


def _pa_file(path, table):
    Path(path).parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, compression="none")


def test_leaves_that_cannot_be_rewritten_are_skipped(spark, tmp_path, each_batch_path):
    """Each leaf below holds files one output cannot hold; do_it_all
    skips them all, leaves their bytes and no ``_temp``, and still
    compacts the good leaf beside them."""
    for path in each_batch_path():
        root = tmp_path / path / "t"
        # int32 and int64 ids
        _pa_file(root / "ints" / "a.parquet", pa.table({"id": pa.array([1], pa.int32())}))
        _pa_file(root / "ints" / "b.parquet", pa.table({"id": pa.array([2], pa.int64())}))
        # one file mixes INT96 with INT64 timestamps: Spark writes TIMESTAMP
        # as INT96 and TIMESTAMP_NTZ as INT64; pyarrow's switch is per file
        spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
        try:
            spark.range(4).select(
                F.timestamp_seconds(F.col("id")).alias("ts"),
                F.timestamp_seconds(F.col("id")).cast("timestamp_ntz").alias("ntz"),
            ).repartition(2).write.parquet(str(root / "int96_ntz"))
        finally:
            spark.conf.unset("spark.sql.parquet.outputTimestampType")
        # schemas that differ only between groups (2 outputs of 2 files each;
        # the 1000 KB and 70 KB files share a group): each group is
        # consistent, the folder is not
        wide = pa.table({"id": [1], "payload": [b""], "extra": ["x"]})
        for name, kb, table in (
            ("a1", 1000, pa.table({"id": [1], "payload": [b""]})),
            ("a2", 70, pa.table({"id": [2], "payload": [b""]})),
            ("b1", 980, wide),
            ("b2", 80, wide),
        ):
            payload = os.urandom(kb * 1024)
            _pa_file(root / "groups" / f"{name}.parquet", table.set_column(1, "payload", pa.array([payload])))
        groups = compact._balanced(compact._leaf_files(str(root / "groups"))[str(root / "groups")], 2)
        assert [[Path(f.path).stem for f in g] for g in groups] == [["a1", "a2"], ["b1", "b2"]]
        # equal Arrow types, but Spark reads one file with the legacy
        # calendar: a legacy-calendar flag, or a writer before Spark 3.0
        ts = pa.table({"ts": pa.array([0], pa.timestamp("us"))})
        for leaf, metas in (
            ("rebase_flag", [{}, {"org.apache.spark.legacyDateTime": ""}]),
            ("rebase_writer", [{"org.apache.spark.version": "2.4.8"}, {"org.apache.spark.version": "3.5.0"}]),
        ):
            for i, meta in enumerate(metas):
                _pa_file(root / leaf / f"{i}.parquet", ts.replace_schema_metadata(meta))
        # writers of Spark 3.0 and later read alike: this leaf is compacted
        for i in range(3):
            meta = {"org.apache.spark.version": ("3.5.0", "4.0.0")[i % 2]}
            _pa_file(root / "good" / f"{i}.parquet", pa.table({"id": [i]}).replace_schema_metadata(meta))
        before = _tree(root)
        assert _on(spark, path, lambda: compact.do_it_all(spark, [str(root)], requested_file_size_mb=1)) == 1
        after = _tree(root)
        assert {k: v for k, v in after.items() if not k.startswith("good")} == {
            k: v for k, v in before.items() if not k.startswith("good")
        }
        assert len(_data(root / "good")) == 1
        assert pq.read_table(root / "good").column("id").to_pylist() == [0, 1, 2]
        assert _temps(root) == []


def test_compaction_runs_a_spark_job_only_at_or_above_the_limit(spark, tmp_path, monkeypatch):
    """The batch's bytes are the listed sizes of the files it rewrites:
    one byte under ``DRIVER_COPY_BYTES`` it runs on the driver, at the
    limit in one Spark job, as copies do."""
    from octopufs_spark.fs import distributed

    for name in ("under", "at"):
        for leaf in ("p=0", "p=1"):
            for i in range(3):
                _pa_file(tmp_path / name / leaf / f"{i}.parquet", pa.table({"id": [i]}))
    total = sum(p.stat().st_size for p in (tmp_path / "under").rglob("*.parquet"))
    for name, limit, want in (("under", total + 1, 0), ("at", total, 1)):
        monkeypatch.setattr(distributed, "DRIVER_COPY_BYTES", limit)
        root = str(tmp_path / name)
        assert _on(spark, "spark" if want else "driver", lambda: compact.do_it_all(spark, [root])) == 2
        assert all(len(_data(tmp_path / name / leaf)) == 1 for leaf in ("p=0", "p=1"))


def test_auto_coalesce_keeps_subfolders(spark, tmp_path):
    """The swap replaces the whole folder, so a folder with a subfolder
    is left as it is rather than losing the subfolder's rows."""
    path = tmp_path / "events"
    for i in range(3):
        _pa_file(path / f"{i}.parquet", pa.table({"id": [i]}))
    _pa_file(path / "sub" / "x.parquet", pa.table({"id": [9]}))
    before = _tree(tmp_path)
    assert compact.do_auto_coalesce(spark, str(path), requested_size_mb=100) is False
    assert _tree(tmp_path) == before
    assert _temps(tmp_path) == []


def test_failed_rewrite_raises_and_cleans_up(spark, tmp_path, each_batch_path):
    """An unreadable file fails its group on every attempt: do_it_all
    raises naming its leaf once the retries are used up, after it has
    compacted the other leaf; no ``_temp`` is left and the bad leaf is
    byte-identical."""
    for path in each_batch_path():
        root = tmp_path / path / "t"
        for leaf in ("good", "bad"):
            for i in range(3):
                _pa_file(root / leaf / f"{i}.parquet", pa.table({"id": [i]}))
        whole = (root / "bad" / "1.parquet").read_bytes()
        (root / "bad" / "1.parquet").write_bytes(whole[: len(whole) // 2])
        before = _tree(root / "bad")

        def fails():
            with pytest.raises(RuntimeError, match="compaction failed for .*/bad$"):
                compact.do_it_all(spark, [str(root)])

        _on(spark, path, fails, attempts=MAX_ATTEMPTS)
        assert _tree(root / "bad") == before
        assert len(_data(root / "good")) == 1 and (root / "good" / "_SUCCESS").exists()
        assert _temps(root) == []


def test_stale_temp_is_replaced(spark, tmp_path, each_batch_path):
    """A crashed run's ``_temp`` sibling is neither a leaf nor kept."""
    for path in each_batch_path():
        root = tmp_path / path / "t"
        for i in range(3):
            _pa_file(root / "p" / f"{i}.parquet", pa.table({"id": [i]}))
            _pa_file(root / "p_temp" / f"{i}.parquet", pa.table({"id": [10 + i]}))
        assert compact.get_lowest_folders(str(root)) == [str(root / "p")]
        assert _on(spark, path, lambda: compact.do_it_all(spark, [str(root)])) == 1
        assert sorted(os.listdir(root)) == ["p"]
        assert pq.read_table(root / "p").column("id").to_pylist() == [0, 1, 2]


def _typed(df):
    """Every column type the rewrite must carry through."""
    return df.select(
        "id",
        (F.col("id") * 1.5).cast("decimal(18,3)").alias("d18"),
        (F.col("id") * 12345.678901).cast("decimal(38,6)").alias("d38"),
        # a timestamp past 2262 does not fit INT96 read as nanoseconds
        F.when(F.col("id") == 0, F.lit("2300-01-01 00:00:00").cast("timestamp"))
        .otherwise(F.timestamp_seconds(F.col("id") * 1000003 + 1_600_000_000))
        .alias("ts"),
        F.timestamp_seconds(F.col("id") * 7).cast("timestamp_ntz").alias("ntz"),
        F.date_add(F.lit("1990-01-01").cast("date"), F.col("id").cast("int")).alias("dt"),
        F.array(F.col("id"), F.col("id") + 1).alias("arr"),
        F.create_map(F.col("id").cast("string"), F.col("id")).alias("m"),
        F.struct(F.col("id").alias("a"), F.lit("s").alias("b")).alias("st"),
        F.when(F.col("id") % 3 == 0, None).otherwise(F.col("id").cast("string")).alias("s"),
        F.col("id").cast("string").cast("binary").alias("bin"),
        (F.col("id") / 7).cast("float").alias("f"),
    )


_ROW_META = b"org.apache.spark.sql.parquet.row.metadata"


def test_compaction_keeps_spark_types(spark, tmp_path, each_batch_path):
    """Spark reads a compacted folder back with the identical schema and
    rows, in exactly one row group. Under INT96 the NTZ column is left
    out: a file that mixes INT96 with INT64 timestamps is skipped (see
    test_leaves_that_cannot_be_rewritten_are_skipped). The allowed
    physical change: pyarrow 16 writes DECIMAL(18,3) as
    FIXED_LEN_BYTE_ARRAY where Spark writes INT64; every reader takes
    both."""
    leaves = {"micros": "TIMESTAMP_MICROS", "int96": "INT96"}
    for path in each_batch_path():
        root = tmp_path / path / "t"
        for leaf, ts_type in leaves.items():
            df = _typed(spark.range(40))
            if ts_type == "INT96":
                df = df.drop("ntz")
            spark.conf.set("spark.sql.parquet.outputTimestampType", ts_type)
            try:
                df.repartition(10).write.parquet(str(root / leaf))
            finally:
                spark.conf.unset("spark.sql.parquet.outputTimestampType")
        spark.sql("DROP TABLE IF EXISTS compact_chars")
        spark.sql(
            f"CREATE TABLE compact_chars (id BIGINT, c CHAR(5), v VARCHAR(10)) "
            f"USING parquet LOCATION '{root / 'chars'}'"
        )
        chars = spark.range(40).selectExpr("id", "cast(id as string) c", "repeat('v', int(id % 11)) v")
        chars.repartition(10).write.insertInto("compact_chars")
        before = {leaf: spark.read.parquet(str(root / leaf)) for leaf in leaves}
        before = {leaf: (df.schema, df.orderBy("id").collect()) for leaf, df in before.items()}
        table_before = spark.table("compact_chars")
        table_before = (table_before.schema, table_before.orderBy("id").collect())
        assert all(len(_data(root / leaf)) == 10 for leaf in (*leaves, "chars"))
        row_meta = pq.read_schema(_data(root / "chars")[0]).metadata[_ROW_META]
        assert _on(spark, path, lambda: compact.do_it_all(spark, [str(root)])) == 3
        for leaf in leaves:
            df = spark.read.parquet(str(root / leaf))
            assert (df.schema, df.orderBy("id").collect()) == before[leaf]
        spark.sql("REFRESH TABLE compact_chars")
        table = spark.table("compact_chars")
        assert (table.schema, table.orderBy("id").collect()) == table_before
        # Spark's row metadata is carried over
        (data,) = _data(root / "chars")
        assert pq.read_schema(data).metadata[_ROW_META] == row_meta
        for leaf in (*leaves, "chars"):
            (data,) = _data(root / leaf)
            assert pq.ParquetFile(data).num_row_groups == 1
        spark.sql("DROP TABLE compact_chars")
