"""Python Data Source API (Spark 4) connector tests: batch read,
streaming micro-batches, and the two-phase-commit JSON writer
(octopufs_spark/sources.py). The registered query q_scan_python_ds
covers the batch value contract against DuckDB; these tests cover the
connector behaviors the oracle can't see (partition counts, stream
offsets, commit manifest)."""

from __future__ import annotations

import json
import time

import pytest

from pyspark.sql import functions as F

from octopufs_spark.sources import (
    MOD,
    MULT,
    N_DEVICES,
    read_committed,
    register_synthgen,
)


def _read(spark, total=1000, partitions=4):
    register_synthgen(spark)
    return (
        spark.read.format("synthgen")
        .option("total", total)
        .option("partitions", partitions)
        .load()
    )


def test_batch_values_and_partitioning(spark):
    df = _read(spark, total=1000, partitions=4)
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 1000
    rows = {r["id"]: r for r in df.collect()}
    for i in (0, 1, 999):
        assert rows[i]["device"] == i % N_DEVICES
        assert rows[i]["reading"] == ((i * MULT) % MOD) / 100.0


def test_batch_uneven_split_covers_all_rows(spark):
    df = _read(spark, total=1003, partitions=7)
    agg = df.agg(
        F.count("*").alias("n"), F.countDistinct("id").alias("d"), F.max("id").alias("mx")
    ).collect()[0]
    assert (agg["n"], agg["d"], agg["mx"]) == (1003, 1003, 1002)


def test_stream_reads_all_rows_in_order(spark, tmp_path):
    register_synthgen(spark)
    stream = (
        spark.readStream.format("synthgen")
        .option("total", 500)
        .option("rows_per_batch", 200)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("synth_stream")
        .trigger(processingTime="0 seconds")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    # latestOffset advances rows_per_batch per micro-batch, so the full
    # 500 rows arrive over (at least) 3 batches — poll until drained.
    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.sql("SELECT COUNT(*) FROM synth_stream").collect()[0][0] >= 500:
            break
        time.sleep(0.5)
    q.stop()
    got = spark.sql("SELECT * FROM synth_stream").collect()
    assert len(got) == 500
    by_id = {r["id"]: r for r in got}
    assert by_id[123]["reading"] == ((123 * MULT) % MOD) / 100.0


def test_writer_two_phase_commit_roundtrip(spark, tmp_path):
    out = tmp_path / "json_sink"
    df = _read(spark, total=300, partitions=3)
    df.write.format("synthgen").mode("append").option("path", str(out)).save()
    manifest = json.loads((out / "_SUCCESS").read_text())
    assert manifest["rows"] == 300
    assert len(manifest["files"]) == 3
    # Tasks stage under temp names; only the driver publishes part- names.
    assert all(name.startswith("part-") for name in manifest["files"])
    assert not list(out.glob("*.tmp"))
    back = read_committed(spark, str(out))
    assert back.count() == 300
    assert back.agg(F.countDistinct("id")).collect()[0][0] == 300


def test_writer_manifest_ignores_orphan_files(spark, tmp_path):
    """A partial file left by a dead/speculative task attempt (staged
    temp name, never committed) must not be double-counted on read."""
    out = tmp_path / "orphan_sink"
    df = _read(spark, total=100, partitions=2)
    df.write.format("synthgen").mode("append").option("path", str(out)).save()
    (out / ".staged-deadbeef.json.tmp").write_text(
        '{"id": 999999, "device": 0, "reading": 0.0}\n'
    )
    back = read_committed(spark, str(out))
    assert back.count() == 100
    assert back.where("id = 999999").count() == 0


def test_writer_overwrite_clears_stale_files(spark, tmp_path):
    """mode('overwrite') must replace, not append next to, prior files."""
    out = tmp_path / "ow_sink"
    _read(spark, total=200, partitions=2).write.format("synthgen").mode("append").option(
        "path", str(out)
    ).save()
    _read(spark, total=50, partitions=1).write.format("synthgen").mode("overwrite").option(
        "path", str(out)
    ).save()
    manifest = json.loads((out / "_SUCCESS").read_text())
    assert manifest["rows"] == 50
    # Stale part files from the first run are gone from disk too.
    on_disk = sorted(p.name for p in out.glob("part-*.json"))
    assert on_disk == sorted(manifest["files"])
    assert read_committed(spark, str(out)).count() == 50


def test_writer_abort_removes_staged_files(spark, tmp_path):
    """A failing write job must abort cleanly: staged part files from
    completed tasks are removed and no _SUCCESS manifest appears."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    out = tmp_path / "abort_sink"
    df = _read(spark, total=100, partitions=2).withColumn(
        "boom", F.expr("CASE WHEN id = 99 THEN raise_error('fail late') ELSE 'ok' END")
    )
    with _pytest.raises(Exception):
        df.write.format("synthgen").mode("append").option("path", str(out)).save()
    assert not (out / "_SUCCESS").exists()
    # Nothing was ever published under a final name.
    assert not list(out.glob("part-*.json")) if out.exists() else True


def test_kmeans_requires_init_vectors(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from octopufs_spark.llm import clustering
    from octopufs_spark.tables import load

    vecs = load(spark, "/root/testdata/sf0.001", "embeddings").where(F.col("vec_id") >= 10)
    with _pytest.raises(ValueError, match="vec_id"):
        clustering.kmeans_int(vecs, k=4, iters=1)


def test_stream_restart_resumes_from_committed_offset(spark, tmp_path):
    """Checkpoint-restart contract: a FRESH reader instance starts at
    _current=0 while the committed offset may be far ahead. partitions()
    folds every offset Spark replans with back into the reader's
    cursor, so the restarted stream resumes immediately (no stall
    through no-op polls) and every row lands exactly once. Uses a file
    sink — the memory sink refuses checkpoint recovery."""
    register_synthgen(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "rows")

    def start():
        stream = (
            spark.readStream.format("synthgen")
            .option("total", 600)
            .option("rows_per_batch", 100)
            .load()
        )
        return (
            stream.writeStream.format("parquet")
            .trigger(processingTime="0 seconds")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    def sunk():
        try:
            return spark.read.parquet(out)
        except Exception:
            return None

    q = start()
    deadline = time.time() + 120
    while time.time() < deadline:
        df = sunk()
        if df is not None and df.count() >= 200:
            break
        time.sleep(0.2)
    q.stop()
    q2 = start()
    deadline = time.time() + 120
    while time.time() < deadline:
        df = sunk()
        if df is not None and df.agg(F.max("id")).collect()[0][0] == 599:
            break
        time.sleep(0.2)
    q2.stop()
    final = spark.read.parquet(out).agg(
        F.count("*").alias("n"), F.countDistinct("id").alias("d"), F.max("id").alias("mx")
    ).collect()[0]
    # exactly-once across the restart: all 600 rows, no duplicates
    assert (final["n"], final["d"], final["mx"]) == (600, 600, 599)


def test_available_now_drains_per_admission_control(spark, tmp_path):
    """Trigger.AvailableNow snapshots latestOffset ONCE as the terminal
    offset, so the reader's rows_per_batch acts as admission control:
    a rate-limited reader drains one increment and terminates; with
    rows_per_batch >= total one AvailableNow run drains the whole
    source. Pins the semantics a user relies on for catch-up jobs."""
    register_synthgen(spark)

    def run(name, rows_per_batch):
        stream = (
            spark.readStream.format("synthgen")
            .option("total", 300)
            .option("rows_per_batch", rows_per_batch)
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / name))
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive
        return spark.sql(f"SELECT COUNT(*) FROM {name}").collect()[0][0]

    assert run("av_limited", 100) == 100   # one admission increment
    assert run("av_full", 300) == 300      # full drain in one run


def test_manifest_stream_source_incremental_versions(spark, tmp_path):
    """Manifest tables as a streaming source: versions are offsets, so
    each commit's added files arrive as one micro-batch, exactly once,
    including commits made WHILE the stream runs."""
    from octopufs_spark.manifest import ManifestTable, write_and_commit
    from octopufs_spark.sources import register_manifest_stream

    register_manifest_stream(spark)
    table = ManifestTable(str(tmp_path / "mtbl"))
    write_and_commit(spark.range(0, 100).withColumn("v", F.col("id") * 2), table)

    stream = spark.readStream.format("manifest_stream").option("path", table.root).load()
    q = (
        stream.writeStream.format("memory")
        .queryName("mstream")
        .trigger(processingTime="0 seconds")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.sql("SELECT COUNT(*) FROM mstream").collect()[0][0] >= 100:
            break
        time.sleep(0.3)
    # two more commits while the stream is live
    write_and_commit(
        spark.range(1000, 1050).withColumn("v", F.col("id") * 2), table, mode="append"
    )
    write_and_commit(
        spark.range(2000, 2025).withColumn("v", F.col("id") * 2), table, mode="append"
    )
    while time.time() < deadline:
        if spark.sql("SELECT COUNT(*) FROM mstream").collect()[0][0] >= 175:
            break
        time.sleep(0.3)
    q.stop()
    got = spark.sql(
        "SELECT COUNT(*) AS n, COUNT(DISTINCT id) AS d FROM mstream"
    ).collect()[0]
    assert (got["n"], got["d"]) == (175, 175)  # exactly once, all commits
    vals = spark.sql("SELECT SUM(v) AS s FROM mstream").collect()[0]["s"]
    assert vals == sum(2 * i for i in list(range(100)) + list(range(1000, 1050)) + list(range(2000, 2025)))


def test_manifest_stream_rejects_rewrite_commits(spark, tmp_path):
    """Append-only contract: a post-seed overwrite commit in the offset
    range must error, not silently re-emit rewritten rows."""
    import pytest as _pytest

    from octopufs_spark.manifest import ManifestTable, write_and_commit
    from octopufs_spark.sources import ManifestStreamReader, register_manifest_stream

    register_manifest_stream(spark)
    table = ManifestTable(str(tmp_path / "mtbl2"))
    write_and_commit(spark.range(0, 10), table)
    write_and_commit(spark.range(0, 5), table, mode="overwrite")
    reader = ManifestStreamReader({"path": table.root})
    with _pytest.raises(ValueError, match="append-only"):
        reader.partitions({"version": 0}, {"version": 2})


def test_manifest_stream_accepts_stream_append_commits(spark, tmp_path):
    """ADVICE r4 (medium): the manifest stream SOURCE must accept the
    manifest stream SINK's own 'stream-append' commits, so a table fed
    by manifest_stream_writer can itself be streamed out of."""
    from octopufs_spark.manifest import Manifest, ManifestTable, write_and_commit
    from octopufs_spark.sources import ManifestStreamReader

    table = ManifestTable(str(tmp_path / "mtbl3"))
    write_and_commit(spark.range(0, 10).withColumn("v", F.col("id")), table)
    # stage + publish a stream-append commit exactly as the sink does
    spark.range(10, 20).withColumn("v", F.col("id")).write.parquet(
        f"{table.root}/batch-0-test"
    )

    def build(parent):
        return sorted(parent.files + table._data_files_under("batch-0-test"))

    table._commit_with_retry(build, "stream-append", {"batch_id": 0})
    reader = ManifestStreamReader({"path": table.root})
    parts = reader.partitions({"version": 0}, {"version": 2})
    rels = {p.rel_file for p in parts}
    assert any(r.startswith("batch-0-test/") for r in rels)
    assert len(rels) == len(table.read_manifest(2).files)


def test_manifest_stream_delete_mor_raises_unless_skipped(spark, tmp_path):
    """delete_mor changes visible rows without adding files: the stream
    raises by default and skips it under skipChangeCommits=true."""
    import pytest as _pytest

    from octopufs_spark.manifest import ManifestTable, write_and_commit
    from octopufs_spark.merge import delete_where_mor
    from octopufs_spark.sources import ManifestStreamReader

    table = ManifestTable(str(tmp_path / "mtbl4"))
    write_and_commit(spark.range(0, 10).withColumn("v", F.col("id")), table)
    delete_where_mor(spark, table, spark.range(0, 3), ["id"])
    reader = ManifestStreamReader({"path": table.root})
    with _pytest.raises(ValueError, match="skipChangeCommits"):
        reader.partitions({"version": 0}, {"version": 2})
    skipping = ManifestStreamReader({"path": table.root, "skipChangeCommits": "true"})
    parts = skipping.partitions({"version": 0}, {"version": 2})
    rels = {p.rel_file for p in parts}
    assert rels == set(table.read_manifest(1).files)  # v1's files only; v2 skipped


def test_manifest_stream_splits_large_files_by_row_group(spark, tmp_path):
    """A commit landing as ONE multi-row-group file must not read in a
    single task: below the footer-read budget the planner splits it
    into per-row-group partitions, and the streamed result still holds
    every row exactly once."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from octopufs_spark.manifest import ManifestTable
    from octopufs_spark.sources import ManifestStreamReader

    table = ManifestTable(str(tmp_path / "mtbl_rg"))
    (tmp_path / "mtbl_rg" / "seed").mkdir(parents=True)
    pq.write_table(
        pa.table({"id": list(range(1000)), "v": [2 * i for i in range(1000)]}),
        str(tmp_path / "mtbl_rg" / "seed" / "part-0.parquet"),
        row_group_size=100,
    )
    table._commit_with_retry(["seed/part-0.parquet"], "seed", {})

    reader = ManifestStreamReader({"path": table.root})
    parts = reader.partitions({"version": 0}, {"version": 1})
    assert len(parts) == 10  # one per row group, not one per file
    assert {p.row_groups[0] for p in parts} == set(range(10))
    got = []
    for p in parts:
        for b in reader.read(p):
            got.extend(b.column("id").to_pylist())
    assert sorted(got) == list(range(1000))
    # a many-file commit stays file-per-task (no footer reads)
    many = [f"seed/part-{i}.parquet" for i in range(20)]
    assert all(
        p.row_groups is None for p in reader._split_partitions(many)
    )


def test_manifest_stream_added_files_and_starting_version(spark, tmp_path):
    """Commits record their added-file list at publish, so the stream
    plans a version with ONE manifest read and no parent dependency;
    startingVersion=latest skips existing history; consuming a
    vacuum-pruned version fails with a clear error, not a raw
    FileNotFoundError."""
    import pytest as _pytest

    from octopufs_spark.manifest import ManifestTable, write_and_commit
    from octopufs_spark.sources import ManifestStreamReader

    table = ManifestTable(str(tmp_path / "mtbl_add"))
    write_and_commit(spark.range(0, 10).withColumn("v", F.col("id")), table)
    write_and_commit(
        spark.range(10, 20).withColumn("v", F.col("id")), table, mode="append"
    )
    m2 = table.read_manifest(2)
    assert m2.added is not None
    assert set(m2.added) == set(m2.files) - set(table.read_manifest(1).files)

    reader = ManifestStreamReader({"path": table.root})
    parts = reader.partitions({"version": 1}, {"version": 2})
    assert {p.rel_file for p in parts if p.rel_file} == set(m2.added)

    latest = ManifestStreamReader({"path": table.root, "startingVersion": "latest"})
    assert latest.initialOffset() == {"version": 2}
    from_v2 = ManifestStreamReader({"path": table.root, "startingVersion": "2"})
    assert from_v2.initialOffset() == {"version": 1}

    table.vacuum(keep_versions=1, retention_seconds=0)
    with _pytest.raises(ValueError, match="pruned by vacuum"):
        reader.partitions({"version": 0}, {"version": 2})


def test_manifest_stream_max_files_per_trigger(spark, tmp_path):
    """Rate limiting: latestOffset walks versions forward until the
    added-file budget is spent instead of jumping to the head of the
    log, so a stream catching up on many commits drains in bounded
    micro-batches."""
    from octopufs_spark.manifest import ManifestTable, write_and_commit
    from octopufs_spark.sources import ManifestStreamReader

    table = ManifestTable(str(tmp_path / "mtbl_mft"))
    write_and_commit(spark.range(0, 10).coalesce(1), table)  # v1: 1 file
    for k in range(4):  # v2..v5: 2 files each
        write_and_commit(
            spark.range(100 * k, 100 * k + 10).repartition(2), table, mode="append"
        )

    reader = ManifestStreamReader({"path": table.root, "maxFilesPerTrigger": "3"})
    off = reader.initialOffset()
    assert off == {"version": 0}
    # budget 3: v1 (1 file) + v2 (2 files) -> stop at v2
    assert reader.latestOffset() == {"version": 2}
    reader.partitions({"version": 0}, {"version": 2})
    # next trigger: v3 (2 files) + 1 of v4 — the budget is a HARD cap,
    # so the oversize step splits v4 instead of over-running
    assert reader.latestOffset() == {"version": 4, "index": 1}
    reader.commit({"version": 4, "index": 1})
    # remaining 1 file of v4 + v5 (2 files) = exactly the budget
    assert reader.latestOffset() == {"version": 5}
    reader.commit({"version": 5})
    assert reader.latestOffset() == {"version": 5}  # caught up: no-op
    # unbounded reader still jumps straight to the head
    plain = ManifestStreamReader({"path": table.root})
    plain.initialOffset()
    assert plain.latestOffset() == {"version": 5}


def test_manifest_stream_complex_types(spark, tmp_path):
    """Schema inference covers arrays and decimals (an embeddings
    table can stream), and the Arrow-batch read path round-trips the
    values exactly."""
    from decimal import Decimal

    from octopufs_spark.manifest import ManifestTable, write_and_commit
    from octopufs_spark.sources import register_manifest_stream

    register_manifest_stream(spark)
    table = ManifestTable(str(tmp_path / "mtbl_cplx"))
    src = spark.range(0, 50).select(
        F.col("id"),
        F.array(F.col("id").cast("float"), (F.col("id") * 2).cast("float")).alias("emb"),
        (F.col("id") * 1.5).cast("decimal(18,2)").alias("price"),
    )
    write_and_commit(src, table)

    stream = spark.readStream.format("manifest_stream").option("path", table.root).load()
    assert dict(stream.dtypes) == {
        "id": "bigint", "emb": "array<float>", "price": "decimal(18,2)"
    }
    q = (
        stream.writeStream.format("memory")
        .queryName("m_cplx")
        .option("checkpointLocation", str(tmp_path / "ckpt_cplx"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    q.stop()
    rows = {r.id: r for r in spark.table("m_cplx").collect()}
    assert len(rows) == 50
    assert rows[3].emb == [3.0, 6.0] and rows[3].price == Decimal("4.50")


def test_synthgen_filter_pushdown_narrows_generated_range(spark, tmp_path):
    """pushFilters narrows the generator's row range at the source:
    a selective scan generates only matching rows (visible as the
    pushed-filter count in the plan and as correct results), and
    non-pushable predicates still evaluate post-scan."""
    from octopufs_spark.sources import SynthBatchReader, register_synthgen

    # reader-level contract
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan

    r = SynthBatchReader({"total": "1000", "partitions": "4"})
    rest = list(r.pushFilters([
        GreaterThanOrEqual(("id",), 100),
        LessThan(("id",), 200),
        EqualTo(("device",), 3),  # not the generator key: stays with Spark
    ]))
    assert [type(f).__name__ for f in rest] == ["EqualTo"]
    parts = r.partitions()
    assert parts[0].start == 100 and parts[-1].end == 200
    assert sum(p.end - p.start for p in parts) == 100

    # end-to-end: values identical to the unfiltered scan + filter
    register_synthgen(spark)
    df = (
        spark.read.format("synthgen")
        .option("total", 10_000)
        .option("partitions", 8)
        .load()
    )
    got = df.where((F.col("id") >= 9_990) & (F.col("id") < 9_995)).orderBy("id")
    rows = got.collect()
    assert [r.id for r in rows] == list(range(9_990, 9_995))
    assert all(r.device == r.id % 50 for r in rows)
    # empty intersection degrades to zero rows, not an error
    assert df.where((F.col("id") > 10) & (F.col("id") < 5)).count() == 0


def test_synthgen_pushdown_in_and_isnotnull(spark):
    """IN narrows the generated span but stays with Spark for exact
    re-evaluation (partial pushdown); IS NOT NULL on the never-null
    generator key is consumed outright. End-to-end results exact."""
    from pyspark.sql.datasource import In, IsNotNull

    from octopufs_spark.sources import SynthBatchReader, register_synthgen

    r = SynthBatchReader({"total": "1000", "partitions": "4"})
    rest = list(r.pushFilters([In(("id",), (700, 750, 720)), IsNotNull(("id",))]))
    assert [type(f).__name__ for f in rest] == ["In"]
    parts = r.partitions()
    assert parts[0].start == 700 and parts[-1].end == 751

    register_synthgen(spark)
    df = spark.read.format("synthgen").option("total", 10_000).load()
    got = df.where(F.col("id").isin(42, 9_999, 5_000)).orderBy("id")
    assert [x.id for x in got.collect()] == [42, 5_000, 9_999]


def test_manifest_stream_splits_one_commit_across_triggers(spark, tmp_path):
    """A single commit LARGER than maxFilesPerTrigger drains across
    several micro-batches via partial offsets ({version, index} — the
    Delta reservoir model): no 10k-file commit can force one unbounded
    batch, files are emitted exactly once with no overlap, and an old
    index-less checkpoint offset still resumes."""
    from octopufs_spark.manifest import ManifestTable, write_and_commit
    from octopufs_spark.sources import ManifestStreamReader

    table = ManifestTable(str(tmp_path / "mtbl_split"))
    write_and_commit(spark.range(0, 10).coalesce(1), table)  # v1: 1 file
    write_and_commit(  # v2: 7 files — bigger than the budget
        spark.range(100, 170).repartition(7), table, mode="append"
    )
    m2_added = table.read_manifest(2).added
    assert len(m2_added) == 7

    reader = ManifestStreamReader({"path": table.root, "maxFilesPerTrigger": "3"})
    assert reader.initialOffset() == {"version": 0}
    # budget 3: v1 (1 file) + first 2 of v2 -> partial offset into v2
    o1 = reader.latestOffset()
    assert o1 == {"version": 2, "index": 2}
    p1 = [p.rel_file for p in reader.partitions({"version": 0}, o1) if p.rel_file]
    assert p1 == table.read_manifest(1).added + m2_added[:2]
    # next trigger: files 2..5 of v2
    o2 = reader.latestOffset()
    assert o2 == {"version": 2, "index": 5}
    p2 = [p.rel_file for p in reader.partitions(o1, o2) if p.rel_file]
    assert p2 == m2_added[2:5]
    # final trigger: the version completes -> index-less offset
    o3 = reader.latestOffset()
    assert o3 == {"version": 2}
    p3 = [p.rel_file for p in reader.partitions(o2, o3) if p.rel_file]
    assert p3 == m2_added[5:]
    # exactly-once across the splits: disjoint cover of all added files
    assert p1 + p2 + p3 == table.read_manifest(1).added + m2_added
    # caught up: no-op
    assert reader.latestOffset() == {"version": 2}

    # RESTART MID-COMMIT: a fresh reader (new incarnation) resuming from
    # the checkpointed partial offset re-enters v2 at the same index
    r2 = ManifestStreamReader({"path": table.root, "maxFilesPerTrigger": "3"})
    r2.commit(o1)  # what the engine replays from the offset log
    assert r2.latestOffset() == {"version": 2, "index": 5}
    got = [p.rel_file for p in r2.partitions(o1, {"version": 2, "index": 5}) if p.rel_file]
    assert got == m2_added[2:5], "restart re-entered the commit at the wrong index"
    # and an index-less (pre-upgrade) offset means 'version complete'
    r3 = ManifestStreamReader({"path": table.root, "maxFilesPerTrigger": "3"})
    r3.commit({"version": 2})
    assert r3.latestOffset() == {"version": 2}


def test_manifest_writer_two_phase_commit(spark, tmp_path):
    """df.write.format('manifest'): each task stages one parquet file
    and reports it in a commit message; the driver publishes exactly
    the REPORTED files as one manifest version — overwrite, append,
    stats collection, and pruning all work through Spark's native
    write protocol."""
    from pyspark.sql import functions as F

    from octopufs_spark.manifest import ManifestTable
    from octopufs_spark.sources import register_manifest_table_source

    register_manifest_table_source(spark)
    root = str(tmp_path / "wtbl")
    df = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    df.write.format("manifest").mode("overwrite").option("stats", "true").save(root)
    t = ManifestTable(root)
    assert t.latest_version() == 1
    got = t.read(spark)
    assert got.count() == 1000
    assert got.agg(F.sum("v")).collect()[0][0] == sum(2 * i for i in range(1000))
    # stats recorded -> zone-map pruning fires
    keep, skipped = t.prune_plan([("id", ">=", 990)])
    assert skipped >= 1

    spark.range(1000, 1500).withColumn("v", F.col("id") * 2).write.format(
        "manifest"
    ).mode("append").save(root)
    assert t.latest_version() == 2
    assert t.read(spark).count() == 1500
    assert [e["operation"] for e in t.history()] == ["append", "overwrite"]


def test_manifest_writer_failed_job_publishes_nothing(spark, tmp_path):
    """A task failure aborts the whole write: no new manifest version,
    the staged orphans invisible to readers."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import udf

    from octopufs_spark.manifest import ManifestTable
    from octopufs_spark.sources import register_manifest_table_source

    register_manifest_table_source(spark)
    root = str(tmp_path / "wtbl2")
    spark.range(0, 100).withColumn("v", F.col("id")).write.format("manifest").mode(
        "overwrite"
    ).save(root)
    t = ManifestTable(root)

    @udf("long")
    def boom(x):
        if x == 150:
            raise RuntimeError("injected task failure")
        return x

    with pytest.raises(Exception):
        spark.range(100, 200).select(boom("id").alias("id")).withColumn(
            "v", F.col("id")
        ).write.format("manifest").mode("append").save(root)
    assert t.latest_version() == 1
    assert t.read(spark).count() == 100


def test_manifest_writer_empty_frames(spark, tmp_path):
    """Empty append is a version-less no-op; empty overwrite is
    rejected (a manifest snapshot must list files)."""
    from pyspark.sql import functions as F

    from octopufs_spark.manifest import ManifestTable
    from octopufs_spark.sources import register_manifest_table_source

    register_manifest_table_source(spark)
    root = str(tmp_path / "wtbl3")
    spark.range(0, 10).withColumn("v", F.col("id")).write.format("manifest").mode(
        "overwrite"
    ).save(root)
    t = ManifestTable(root)
    spark.range(0, 0).withColumn("v", F.col("id")).write.format("manifest").mode(
        "append"
    ).save(root)
    assert t.latest_version() == 1  # no new version
    with pytest.raises(Exception):
        spark.range(0, 0).withColumn("v", F.col("id")).write.format("manifest").mode(
            "overwrite"
        ).save(root)
    assert t.read(spark).count() == 10


def test_manifest_writer_append_refused_on_hidden_layout(spark, tmp_path):
    """format("manifest") stages plain files, so an append onto a
    hidden-layout table must be refused, naming the layout, with
    nothing published: one committed plain file makes every read fail
    to resolve the hidden column."""
    from pyspark.sql import functions as F

    from octopufs_spark.manifest import ManifestTable, write_and_commit
    from octopufs_spark.sources import register_manifest_table_source

    register_manifest_table_source(spark)
    t = ManifestTable(str(tmp_path / "hidden"))
    write_and_commit(
        spark.range(0, 40).select("id", F.col("id").cast("bigint").alias("k")),
        t,
        hidden_partition={"kb": ("bucket", "k", 4)},
    )
    v = t.latest_version()
    with pytest.raises(Exception, match="hidden-partition layout"):
        spark.range(40, 50).select("id", F.col("id").cast("bigint").alias("k")).write.format(
            "manifest"
        ).mode("append").save(t.root)
    assert t.latest_version() == v
    assert t.read(spark).count() == 40
