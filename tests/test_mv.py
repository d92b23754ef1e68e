"""Incremental materialized views over manifest tables: algebraic
partial-aggregate merge per appended commit, full-recompute fallback
on row-changing commits, CAS-guarded concurrent refresh."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from octopufs_spark.manifest import (
    ConcurrentModificationError,
    ManifestTable,
    compact_and_commit,
    write_and_commit,
)
from octopufs_spark.mv import MaterializedView


@pytest.fixture()
def src(tmp_path):
    return ManifestTable(str(tmp_path / "src"))


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        "id", (F.col("id") % 3).alias("g"), (F.col("id") * 2).alias("v")
    )


AGGS = {
    "n": ("count", "*"),
    "total": ("sum", "v"),
    "lo": ("min", "v"),
    "hi": ("max", "v"),
    "mean": ("avg", "v"),
}


def _mv(src, tmp_path):
    return MaterializedView(src, str(tmp_path / "view"), ["g"], AGGS)


def _expect(df):
    return {
        tuple(r)
        for r in df.groupBy("g")
        .agg(
            F.count("*").alias("n"),
            F.sum("v").alias("total"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.avg("v").alias("mean"),
        )
        .collect()
    }


def _got(mv, spark):
    return {tuple(r) for r in mv.read(spark).collect()}


def test_full_then_incremental_matches_recompute(spark, src, tmp_path):
    write_and_commit(_df(spark, 0, 100), src)
    mv = _mv(src, tmp_path)
    mv.refresh(spark)
    assert mv.view.read_manifest().meta["mv"]["mode"] == "full"
    write_and_commit(_df(spark, 100, 150), src, mode="append")
    write_and_commit(_df(spark, 150, 160), src, mode="append")
    mv.refresh(spark)
    assert mv.view.read_manifest().meta["mv"]["mode"] == "incremental"
    assert _got(mv, spark) == _expect(_df(spark, 0, 160))
    # current view: refresh is a no-op
    assert mv.refresh(spark) is None


def test_incremental_reads_only_added_files(spark, src, tmp_path):
    """The whole point at 100 TB: a refresh after an append must scan
    the APPENDED files, not the table."""
    write_and_commit(_df(spark, 0, 1000), src)
    mv = _mv(src, tmp_path)
    mv.refresh(spark)
    write_and_commit(_df(spark, 1000, 1010), src, mode="append")
    seen: list[list[str]] = []
    orig = ManifestTable._scan_files

    def spying(self, spark_, files, **kw):
        seen.append(list(files))
        return orig(self, spark_, files, **kw)

    ManifestTable._scan_files = spying
    try:
        mv.refresh(spark)
    finally:
        ManifestTable._scan_files = orig
    src_scans = [fs for fs in seen if fs and all("view" not in f for f in fs)]
    added = set(src.read_manifest().added)
    assert any(set(fs) == added for fs in src_scans), (
        "incremental refresh scanned more than the appended files"
    )
    assert _got(mv, spark) == _expect(_df(spark, 0, 1010))


def test_mor_delete_folds_but_compaction_forces_full_recompute(spark, src, tmp_path):
    """A pure MOR delete is subtractable (extremum-hit groups rescan,
    still incremental); a COMPACTION rewrite is the row-changing
    commit class that still forces one full recompute, after which
    incremental maintenance resumes."""
    from octopufs_spark.merge import delete_where_mor

    write_and_commit(_df(spark, 0, 100), src)
    mv = _mv(src, tmp_path)
    mv.refresh(spark)
    delete_where_mor(spark, src, spark.range(0, 10), ["id"])
    mv.refresh(spark)
    # a pure MOR delete folds subtractively — it hits the stored group
    # minima, so the extremum-hit groups rescan, still incrementally
    meta = mv.view.read_manifest().meta["mv"]
    assert meta["mode"] == "incremental"
    assert meta["minmax_rescan_groups"] == 3
    assert _got(mv, spark) == _expect(_df(spark, 10, 100))
    # compaction (rewrite) likewise
    write_and_commit(_df(spark, 100, 120), src, mode="append")
    compact_and_commit(spark, src)
    mv.refresh(spark)
    assert mv.view.read_manifest().meta["mv"]["mode"] == "full"
    assert _got(mv, spark) == _expect(_df(spark, 10, 120))
    # and incremental resumes after the fallback
    write_and_commit(_df(spark, 200, 210), src, mode="append")
    mv.refresh(spark)
    assert mv.view.read_manifest().meta["mv"]["mode"] == "incremental"
    assert _got(mv, spark) == _expect(
        _df(spark, 10, 120).unionByName(_df(spark, 200, 210))
    )


def test_mor_delete_keeps_duplicate_keys_once_each(spark, src, tmp_path):
    """``delete_keys`` may repeat a key, and the vector keeps the
    repeats (one job, no dedup shuffle, one file): each matching row,
    duplicated rows included, is still deleted once, the MV delta fold
    subtracts it once, and time travel sees the rows before."""
    from conftest import jobs_of

    from octopufs_spark.merge import delete_where_mor

    rows = _df(spark, 0, 100).unionByName(_df(spark, 0, 20))
    write_and_commit(rows, src)
    mv = _mv(src, tmp_path)
    mv.refresh(spark)
    keys = spark.range(0, 10).union(spark.range(5, 15)).union(spark.range(0, 3))
    v, jobs = jobs_of(spark, lambda: delete_where_mor(spark, src, keys, ["id"]))
    assert len(jobs) == 1
    (dv,) = src.read_manifest(v).meta["delete_vectors"]
    vector = spark.read.parquet(f"{src.root}/{dv['path']}")
    assert vector.count() == 23 and len(vector.inputFiles()) == 1
    left = _df(spark, 15, 100).unionByName(_df(spark, 15, 20))
    assert sorted(r.id for r in src.read(spark).collect()) == sorted(
        r.id for r in left.collect()
    )
    mv.refresh(spark)
    assert mv.view.read_manifest().meta["mv"]["mode"] == "incremental"
    assert _got(mv, spark) == _expect(left)
    assert src.read(spark, version=v - 1).count() == 120


def test_maintenance_noops_advance_pointer_without_scan(spark, src, tmp_path):
    write_and_commit(_df(spark, 0, 50), src)
    mv = _mv(src, tmp_path)
    mv.refresh(spark)
    # metadata-only rename of a column the view does not reference:
    # no visible row change, nothing to rescan
    src.rename_column("id", "event_id")
    v = mv.refresh(spark)
    assert v is not None and mv.view.read_manifest().meta["mv"]["mode"] == "noop"
    assert mv.last_refreshed_source_version() == src.current_version()
    assert _got(mv, spark) == _expect(_df(spark, 0, 50))


def test_staged_and_branch_commits_invisible_to_view(spark, src, tmp_path):
    write_and_commit(_df(spark, 0, 50), src)
    mv = _mv(src, tmp_path)
    mv.refresh(spark)
    write_and_commit(_df(spark, 50, 60), src, mode="append", wap_id="w1")
    src.create_branch("dev")
    write_and_commit(_df(spark, 60, 70), src, mode="append", branch="dev")
    assert mv.refresh(spark) is None  # main did not move
    assert _got(mv, spark) == _expect(_df(spark, 0, 50))
    src.publish_wap(wap_id="w1")
    mv.refresh(spark)
    assert mv.view.read_manifest().meta["mv"]["mode"] == "incremental"
    assert _got(mv, spark) == _expect(_df(spark, 0, 60))


def test_fresh_handle_resumes_from_table_state(spark, src, tmp_path):
    write_and_commit(_df(spark, 0, 50), src)
    _mv(src, tmp_path).refresh(spark)
    write_and_commit(_df(spark, 50, 70), src, mode="append")
    mv2 = _mv(src, tmp_path)
    assert mv2.last_refreshed_source_version() == 1
    mv2.refresh(spark)
    assert mv2.view.read_manifest().meta["mv"]["mode"] == "incremental"
    assert _got(mv2, spark) == _expect(_df(spark, 0, 70))


def test_concurrent_refresh_aborts_loser(spark, src, tmp_path):
    write_and_commit(_df(spark, 0, 50), src)
    mv = _mv(src, tmp_path)
    mv.refresh(spark)
    write_and_commit(_df(spark, 50, 60), src, mode="append")

    orig = type(mv.view)._commit_with_retry
    fired = {"done": False}

    def racing(self, build, operation, meta, *a, **kw):
        if operation == "mv-refresh" and not fired["done"]:
            fired["done"] = True
            _mv(src, tmp_path).refresh(spark)  # racer lands first
        return orig(self, build, operation, meta, *a, **kw)

    type(mv.view)._commit_with_retry = racing
    try:
        with pytest.raises(ConcurrentModificationError, match="refreshed concurrently"):
            mv.refresh(spark)
    finally:
        type(mv.view)._commit_with_retry = orig
    assert fired["done"]
    # the racer's merge covers the delta exactly once
    assert _got(mv, spark) == _expect(_df(spark, 0, 60))


def test_view_root_collision_rejected(spark, src, tmp_path):
    write_and_commit(_df(spark, 0, 10), src)
    not_a_view = ManifestTable(str(tmp_path / "plain"))
    write_and_commit(_df(spark, 0, 10), not_a_view)
    mv = MaterializedView(src, str(tmp_path / "plain"), ["g"], AGGS)
    with pytest.raises(ValueError, match="not a materialized view"):
        mv.refresh(spark)
    with pytest.raises(ValueError, match="unsupported aggregate"):
        MaterializedView(src, str(tmp_path / "x"), ["g"], {"m": ("median", "v")})


def test_filtered_view_incremental(spark, src, tmp_path):
    """A pre-aggregation filter commutes with the partial/merge
    decomposition, so filtered rollups maintain incrementally too."""
    write_and_commit(_df(spark, 0, 100), src)
    mv = MaterializedView(
        src, str(tmp_path / "fview"), ["g"], AGGS, filter="v % 4 = 0"
    )
    mv.refresh(spark)
    write_and_commit(_df(spark, 100, 160), src, mode="append")
    mv.refresh(spark)
    assert mv.view.read_manifest().meta["mv"]["mode"] == "incremental"
    assert _got(mv, spark) == _expect(_df(spark, 0, 160).where("v % 4 = 0"))


def test_incremental_respects_active_delete_vectors(spark, src, tmp_path):
    """Review finding: an append landing while a key-granular delete
    vector is ACTIVE re-inserts keys the snapshot-global vector still
    hides (until a compaction) — the incremental fold must apply the
    head's vectors to the delta scan, or the view counts rows the
    source read hides."""
    from octopufs_spark.merge import delete_where_mor

    write_and_commit(_df(spark, 0, 50), src)
    mv = _mv(src, tmp_path)
    mv.refresh(spark)
    delete_where_mor(spark, src, spark.range(0, 5), ["id"])
    mv.refresh(spark)  # full (the vector commit changed rows)
    # re-insert the deleted keys with the vector still live
    write_and_commit(_df(spark, 0, 5), src, mode="append")
    mv.refresh(spark)
    assert mv.view.read_manifest().meta["mv"]["mode"] == "incremental"
    # the source read hides the re-inserted keys; the view must agree
    assert _got(mv, spark) == _expect(src.read(spark))
    assert _got(mv, spark) == _expect(_df(spark, 5, 50))


def test_branch_fast_forward_folds_incrementally(spark, src, tmp_path):
    """A pure-append fast-forward carries a publish-time added list;
    the view folds it like any append instead of recomputing."""
    write_and_commit(_df(spark, 0, 50), src)
    mv = _mv(src, tmp_path)
    mv.refresh(spark)
    src.create_branch("dev")
    write_and_commit(_df(spark, 50, 70), src, mode="append", branch="dev")
    write_and_commit(_df(spark, 70, 80), src, mode="append", branch="dev")
    src.fast_forward("dev")
    mv.refresh(spark)
    assert mv.view.read_manifest().meta["mv"]["mode"] == "incremental"
    assert _got(mv, spark) == _expect(_df(spark, 0, 80))


def test_view_time_travel(spark, src, tmp_path):
    write_and_commit(_df(spark, 0, 50), src)
    mv = _mv(src, tmp_path)
    mv.refresh(spark)
    write_and_commit(_df(spark, 50, 100), src, mode="append")
    mv.refresh(spark)
    assert {tuple(r) for r in mv.read(spark, version=1).collect()} == _expect(
        _df(spark, 0, 50)
    )
    assert _got(mv, spark) == _expect(_df(spark, 0, 100))


SUB_AGGS = {"n": ("count", "*"), "total": ("sum", "v"), "mean": ("avg", "v")}


def _sub_expect(df):
    return {
        tuple(r)
        for r in df.groupBy("g")
        .agg(F.count("*").alias("n"), F.sum("v").alias("total"), F.avg("v").alias("mean"))
        .collect()
    }


def test_mor_delete_folds_incrementally_for_subtractable_views(spark, src, tmp_path):
    """r7 verdict task #5: a pure MOR-delete commit is algebraically
    subtractable for count/sum/avg — the refresh scans only the rows
    the new vector hides (file-scoped for positional vectors), folds
    their negated partials, and stays mode == "incremental" while
    always matching a full recompute."""
    from octopufs_spark.merge import delete_where_mor, delete_where_mor_positional

    write_and_commit(_df(spark, 0, 100), src)
    mv = MaterializedView(src, str(tmp_path / "view"), ["g"], SUB_AGGS)
    mv.refresh(spark)

    delete_where_mor_positional(spark, src, "id < 10")
    mv.refresh(spark)
    assert mv.view.read_manifest().meta["mv"]["mode"] == "incremental"
    assert {tuple(r) for r in mv.read(spark).collect()} == _sub_expect(_df(spark, 10, 100))

    # equality vector: keys apply snapshot-wide, still folds
    delete_where_mor(spark, src, spark.range(10, 20), ["id"])
    mv.refresh(spark)
    assert mv.view.read_manifest().meta["mv"]["mode"] == "incremental"
    assert {tuple(r) for r in mv.read(spark).collect()} == _sub_expect(_df(spark, 20, 100))

    # append + delete hitting the appended file in ONE refresh window:
    # the positive delta nets those rows via head-vector application,
    # the subtract scan excludes walk-added files — no double count
    write_and_commit(_df(spark, 100, 110), src, mode="append")
    delete_where_mor_positional(spark, src, "id >= 105")
    mv.refresh(spark)
    assert mv.view.read_manifest().meta["mv"]["mode"] == "incremental"
    assert {tuple(r) for r in mv.read(spark).collect()} == _sub_expect(_df(spark, 20, 105))


def test_mor_delete_fold_drops_emptied_groups_and_ignores_rehidden_rows(spark, src, tmp_path):
    """A group whose every row is MOR-deleted leaves the view (the
    __rows liveness counter), and a positional vector naming
    already-hidden rows subtracts nothing (visible-at-parent gate) —
    both exactly what a recompute would produce."""
    from octopufs_spark.merge import delete_where_mor_positional

    write_and_commit(_df(spark, 0, 30), src)
    mv = MaterializedView(src, str(tmp_path / "view"), ["g"], SUB_AGGS)
    mv.refresh(spark)
    delete_where_mor_positional(spark, src, "id % 3 = 2")
    mv.refresh(spark)
    assert mv.view.read_manifest().meta["mv"]["mode"] == "incremental"
    got = {tuple(r) for r in mv.read(spark).collect()}
    assert got == _sub_expect(_df(spark, 0, 30).where("id % 3 != 2"))
    assert all(r[0] != 2 for r in got)  # emptied group absent
    # a second, overlapping positional delete re-names hidden rows
    delete_where_mor_positional(spark, src, "id % 3 = 2 or id < 3")
    mv.refresh(spark)
    assert mv.view.read_manifest().meta["mv"]["mode"] == "incremental"
    assert {tuple(r) for r in mv.read(spark).collect()} == _sub_expect(
        _df(spark, 3, 30).where("id % 3 != 2")
    )


def test_min_max_extremum_delete_rescans_only_hit_groups(spark, src, tmp_path):
    """min/max cannot subtract when the deleted row holds a stored
    extremum — but only the HIT groups need a rescan, not the table:
    deleting every group's maxima now folds incrementally with a
    3-group rescan instead of a full recompute."""
    from octopufs_spark.merge import delete_where_mor_positional

    write_and_commit(_df(spark, 0, 50), src)
    mv = _mv(src, tmp_path)
    mv.refresh(spark)
    delete_where_mor_positional(spark, src, "id >= 40")
    mv.refresh(spark)
    meta = mv.view.read_manifest().meta["mv"]
    assert meta["mode"] == "incremental"
    assert meta["minmax_rescan_groups"] == 3
    assert _got(mv, spark) == _expect(_df(spark, 0, 40))


def test_min_max_rescan_cap_falls_back_to_full_recompute(
    spark, src, tmp_path, monkeypatch
):
    """Above MINMAX_RESCAN_MAX_GROUPS hit groups the per-group filter
    stops being a win — the old one-full-recompute repair remains."""
    from octopufs_spark.merge import delete_where_mor_positional
    from octopufs_spark.mv import MaterializedView as MV

    monkeypatch.setattr(MV, "MINMAX_RESCAN_MAX_GROUPS", 2)
    write_and_commit(_df(spark, 0, 50), src)
    mv = _mv(src, tmp_path)
    mv.refresh(spark)
    delete_where_mor_positional(spark, src, "id >= 40")  # hits 3 groups' maxima
    mv.refresh(spark)
    meta = mv.view.read_manifest().meta["mv"]
    assert meta["mode"] == "full"
    assert "minmax_rescan_groups" not in meta
    assert _got(mv, spark) == _expect(_df(spark, 0, 40))


def test_null_group_key_extremum_delete_is_detected(spark, src, tmp_path):
    """Regression: the extremum-hit check joins deleted extremes to the
    view on the group keys — a plain equi-join drops the NULL-keyed
    group (NULL != NULL), silently keeping its stored min/max after
    the extremum row was deleted. The join is null-safe now and the
    NULL-keyed group rescans like any other."""
    from octopufs_spark.merge import delete_where_mor_positional

    df = spark.range(0, 12).select(
        "id",
        F.when(F.col("id") % 3 != 0, F.col("id") % 3).alias("g"),  # id%3==0 -> NULL g
        (F.col("id") * 2).alias("v"),
    )
    write_and_commit(df, src)
    mv = MaterializedView(src, str(tmp_path / "view"), ["g"], AGGS)
    mv.refresh(spark)
    # id=9 holds the NULL group's maximum v=18 (NULL-group ids: 0,3,6,9)
    delete_where_mor_positional(spark, src, "id = 9")
    mv.refresh(spark)
    meta = mv.view.read_manifest().meta["mv"]
    assert meta["mode"] == "incremental"
    assert meta["minmax_rescan_groups"] == 1
    expect = {
        tuple(r)
        for r in df.where("id != 9")
        .groupBy("g")
        .agg(
            F.count("*").alias("n"),
            F.sum("v").alias("total"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.avg("v").alias("mean"),
        )
        .collect()
    }
    assert _got(mv, spark) == expect


def test_subtracted_sum_goes_null_when_only_nulls_remain(spark, src, tmp_path):
    """sum over a group whose non-null values were all deleted must
    read NULL (what a recompute says), not 0 — the companion non-null
    count recomposes that."""
    from octopufs_spark.merge import delete_where_mor_positional

    df = spark.range(0, 6).select(
        "id",
        (F.col("id") % 2).alias("g"),
        F.when(F.col("id") >= 2, F.col("id") * 2).alias("v"),  # ids 0,1 -> NULL v
    )
    write_and_commit(df, src)
    mv = MaterializedView(src, str(tmp_path / "view"), ["g"], SUB_AGGS)
    mv.refresh(spark)
    delete_where_mor_positional(spark, src, "id >= 2")
    mv.refresh(spark)
    assert mv.view.read_manifest().meta["mv"]["mode"] == "incremental"
    rows = {r.g: (r.n, r.total, r.mean) for r in mv.read(spark).collect()}
    assert rows == {0: (1, None, None), 1: (1, None, None)}


def test_equality_delete_fold_prunes_affected_files(spark, src, tmp_path):
    """An equality vector applies snapshot-wide, but its KEY RANGE
    bounds which parent files it can hit: with zone-map stats on the
    source, the subtract scan drops files whose interval misses every
    deleted key — and the fold still matches a recompute exactly."""
    from octopufs_spark.merge import delete_where_mor

    for lo in (0, 100, 200):
        write_and_commit(
            _df(spark, lo, lo + 100), src, mode="append" if lo else "overwrite", stats=True
        )
    mv = MaterializedView(src, str(tmp_path / "view"), ["g"], SUB_AGGS)
    mv.refresh(spark)
    delete_where_mor(spark, src, spark.range(150, 160), ["id"])
    m = src.read_manifest()
    entry = m.meta["delete_vectors"][-1]
    pm = src.read_manifest(m.parent)
    affected = mv._prune_equality_affected(sorted(pm.files), pm, entry)
    assert affected and set(affected) < set(pm.files)  # strictly pruned
    stats = pm.meta["file_stats"]
    for f in affected:  # every kept file's interval intersects [150, 159]
        assert stats[f]["min"]["id"] <= 159 and stats[f]["max"]["id"] >= 150
    mv.refresh(spark)
    assert mv.view.read_manifest().meta["mv"]["mode"] == "incremental"
    assert {tuple(r) for r in mv.read(spark).collect()} == _sub_expect(
        _df(spark, 0, 300).where("id < 150 or id >= 160")
    )


def test_maintain_stream_refreshes_view(spark, src, tmp_path):
    """maintain_stream: the source's commit stream schedules refreshes
    (foreachBatch = one refresh tick); duplicate/replayed ticks are
    no-ops via the refresh CAS, and the view converges to a recompute
    after appends and MOR deletes land."""
    from octopufs_spark.merge import delete_where_mor_positional

    write_and_commit(_df(spark, 0, 50), src)
    mv = MaterializedView(src, str(tmp_path / "view"), ["g"], SUB_AGGS)
    mv.refresh(spark)
    write_and_commit(_df(spark, 50, 80), src, mode="append")
    delete_where_mor_positional(spark, src, "id < 10")
    write_and_commit(_df(spark, 80, 90), src, mode="append")
    q = mv.maintain_stream(spark, str(tmp_path / "ckpt"), availableNow=True)
    q.awaitTermination(120)
    assert mv.last_refreshed_source_version() == src.current_version()
    assert {tuple(r) for r in mv.read(spark).collect()} == _sub_expect(
        _df(spark, 10, 90)
    )
    # a second catch-up run with the same checkpoint is a clean no-op
    q2 = mv.maintain_stream(spark, str(tmp_path / "ckpt"), availableNow=True)
    q2.awaitTermination(120)
    assert {tuple(r) for r in mv.read(spark).collect()} == _sub_expect(
        _df(spark, 10, 90)
    )


def test_min_max_views_fold_when_extrema_untouched(spark, src, tmp_path):
    """min/max views fold a MOR delete whose rows sit strictly inside
    every group's stored (min, max): removal cannot move either, so
    the fold NULLs the deleted extremes out of the merge with NO
    rescan — and one deleted row tying an extremum rescans exactly
    that one group."""
    from octopufs_spark.merge import delete_where_mor_positional

    write_and_commit(_df(spark, 0, 50), src)
    mv = _mv(src, tmp_path)
    mv.refresh(spark)
    delete_where_mor_positional(spark, src, "id >= 20 and id < 30")
    mv.refresh(spark)
    meta = mv.view.read_manifest().meta["mv"]
    assert meta["mode"] == "incremental"
    assert "minmax_rescan_groups" not in meta  # strictly-inside: no rescan
    assert _got(mv, spark) == _expect(
        _df(spark, 0, 50).where("id < 20 or id >= 30")
    )
    # now hit a stored maximum: id 49 holds group g=1's maximum only
    delete_where_mor_positional(spark, src, "id = 49")
    mv.refresh(spark)
    meta = mv.view.read_manifest().meta["mv"]
    assert meta["mode"] == "incremental"
    assert meta["minmax_rescan_groups"] == 1
    assert _got(mv, spark) == _expect(
        _df(spark, 0, 50).where("(id < 20 or id >= 30) and id != 49")
    )


def test_pre_phys2_sum_views_stay_readable_and_migrate(spark, src, tmp_path):
    """Views committed before the __rows/companion-count layout store a
    bare __sum_<name>: read() must keep working on them (and on time
    travel into old versions), and the next refresh migrates via one
    full recompute."""
    write_and_commit(_df(spark, 0, 10), src)
    view_root = str(tmp_path / "view")
    vt = ManifestTable(view_root)
    old = spark.createDataFrame([(0, 10.0), (1, 20.0)], "g int, __sum_total double")
    staged = "mv-oldlayout"
    old.write.parquet(f"{vt.root}/{staged}")
    vt._commit_with_retry(
        lambda p: sorted(vt._data_files_under(staged)),
        "mv-refresh",
        {
            "mv": {
                "source": src.root,
                "source_version": src.current_version(),
                "group_by": ["g"],
                "aggs": {"total": ["sum", "v"]},
                "mode": "full",
            }
        },
    )
    mv = MaterializedView(src, view_root, ["g"], {"total": ("sum", "v")})
    assert {(r.g, r.total) for r in mv.read(spark).collect()} == {(0, 10.0), (1, 20.0)}
    # next refresh migrates (phys marker absent -> one full recompute)
    write_and_commit(_df(spark, 10, 20), src, mode="append")
    mv.refresh(spark)
    assert mv.view.read_manifest().meta["mv"]["mode"] == "full"
    assert {tuple(r) for r in mv.read(spark).collect()} == {
        tuple(r)
        for r in _df(spark, 0, 20).groupBy("g").agg(F.sum("v").alias("total")).collect()
    }


def test_foreign_file_swapping_delete_mor_recomputes(spark, src, tmp_path):
    """A commit SPELLED delete_mor that also swaps a data file (same
    count — a foreign writer) must not fold: set equality, not length,
    gates the subtract path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    write_and_commit(_df(spark, 0, 40).repartition(2), src)
    mv = MaterializedView(src, str(tmp_path / "view"), ["g"], SUB_AGGS)
    mv.refresh(spark)
    m = src.read_manifest()
    # craft: drop one file, add another, register a vector — op says
    # delete_mor, content says swap
    import os

    os.makedirs(f"{src.root_path}/data-foreign", exist_ok=True)
    pq.write_table(
        pa.table({"id": [999], "g": [0], "v": [1998]}),
        f"{src.root_path}/data-foreign/part-0.parquet",
    )
    os.makedirs(f"{src.root_path}/_dv", exist_ok=True)
    pq.write_table(pa.table({"id": [0]}), f"{src.root_path}/_dv/dv-foreign.parquet")

    def build(parent):
        return sorted(parent.files[1:] + ["data-foreign/part-0.parquet"])

    src._commit_with_retry(
        build,
        "delete_mor",
        {"delete_vectors": [{"path": "_dv/dv-foreign.parquet", "keys": ["id"]}]},
    )
    mv.refresh(spark)
    assert mv.view.read_manifest().meta["mv"]["mode"] == "full"
    # and the view equals a recompute of the live snapshot
    assert {tuple(r) for r in mv.read(spark).collect()} == _sub_expect(
        src.read(spark)
    )
