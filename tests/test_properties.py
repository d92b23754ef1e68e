"""Property-based tests (hypothesis) — the reference's unseeded random
testing (reference: src/test/scala/TestUtils.scala:88-120) upgraded to
generated, shrinkable cases."""

from __future__ import annotations

import pytest

import shutil
import tempfile
from pathlib import Path

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from octopufs_spark import acl
from octopufs_spark.compact import figure_out_number_of_partitions
from octopufs_spark.fs.core import to_nice_size_string
from octopufs_spark.fs.delta import get_delta, synchronize

UNITS = ("B", "KB", "MB", "GB", "TB")


@given(st.integers(min_value=0, max_value=1 << 50))
def test_nice_size_string_bounds(n):
    s = to_nice_size_string(float(n))
    value, unit = s.split(" ")
    assert unit in UNITS
    assert unit == "TB" or float(value) < 1024.0


@given(
    st.sampled_from(acl.SCOPES),
    st.text(alphabet="rwx-", min_size=3, max_size=3),
    st.sampled_from([acl.ACCESS, acl.DEFAULT]),
)
def test_fs_permission_as_access(scope, perm, level):
    p = acl.FsPermission(scope, perm, level, "g")
    a = p.as_access()
    assert a.level == acl.ACCESS
    assert (a.scope, a.permission, a.grantee) == (p.scope, p.permission, p.grantee)


# relative paths like "a/b.txt" with sizes
_tree_strategy = st.dictionaries(
    st.lists(st.sampled_from("abcd"), min_size=1, max_size=3).map(
        lambda parts: "/".join(parts) + ".bin"
    ),
    st.integers(min_value=1, max_value=512),
    min_size=0,
    max_size=8,
)


def _build(root: Path, tree: dict[str, int]) -> None:
    for rel, size in tree.items():
        p = root / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(b"x" * size)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(src_tree=_tree_strategy, trg_tree=_tree_strategy)
@pytest.mark.slow  # >15 s; excluded from the default driver-window run
def test_synchronize_reaches_fixpoint(spark, src_tree, trg_tree):
    """For ANY pair of trees: after synchronize, delta is empty both ways."""
    base = Path(tempfile.mkdtemp(prefix="prop_sync_"))
    try:
        src, trg = base / "src", base / "trg"
        src.mkdir()
        trg.mkdir()
        _build(src, src_tree)
        _build(trg, trg_tree)
        synchronize(spark, str(src), str(trg))
        missing, extra = get_delta(spark, str(src), str(trg))
        assert missing == [] and extra == []
    finally:
        shutil.rmtree(base, ignore_errors=True)


@given(
    sizes=st.lists(st.integers(min_value=1, max_value=200 * 1024 * 1024), min_size=1, max_size=12),
    target_mb=st.integers(min_value=1, max_value=512),
)
@settings(max_examples=20, deadline=None)
def test_compaction_partition_count_properties(tmp_path_factory, sizes, target_mb):
    """Reference heuristic (Coalesce.scala:19-31): fewer than 2 files
    never compacts; otherwise compaction triggers iff the upper-median
    file is below target, and the count is then ≥1. Files in nested
    subfolders are invisible (only immediate files count)."""
    root = Path(tempfile.mkdtemp(prefix="prop_compact_"))
    try:
        for i, n in enumerate(sizes):
            # sparse files are instant to create and listing sees the size
            with open(root / f"f{i}.bin", "wb") as f:
                f.seek(n - 1)
                f.write(b"\0")
        # A nested subfolder file must not change the decision.
        (root / "nested").mkdir()
        with open(root / "nested" / "extra.bin", "wb") as f:
            f.seek(1024 * 1024 - 1)
            f.write(b"\0")
        n_parts = figure_out_number_of_partitions(str(root), target_mb)
        upper_median = sorted(sizes)[len(sizes) // 2]
        if len(sizes) < 2 or upper_median >= target_mb * 1024 * 1024:
            assert n_parts == -1
        else:
            assert n_parts >= 1
    finally:
        shutil.rmtree(root, ignore_errors=True)


_kv_strategy = st.dictionaries(
    st.integers(min_value=0, max_value=30),
    st.integers(min_value=-100, max_value=100),
    min_size=0,
    max_size=12,
)


@settings(deadline=None, max_examples=15, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(target_kv=_kv_strategy, source_kv=_kv_strategy, delete_keys=st.sets(st.integers(0, 30), max_size=6))
@pytest.mark.slow  # >50 s; excluded from the default driver-window run
def test_merge_upsert_properties(spark, target_kv, source_kv, delete_keys):
    """MERGE algebra: result = (target − source keys − delete keys) ⊎
    source; applying the same source twice equals once (idempotent);
    every key appears at most once when inputs are keyed."""
    from octopufs_spark.merge import merge_upsert

    def df_of(kv):
        rows = [(k, v) for k, v in kv.items()]
        return spark.createDataFrame(rows or [(None, None)], "k int, v int").where(
            "k IS NOT NULL"
        )

    target, source = df_of(target_kv), df_of(source_kv)
    deletes = df_of({k: 0 for k in delete_keys})
    got = {
        r.k: r.v
        for r in merge_upsert(target, source, ["k"], deletes=deletes).collect()
    }
    want = {k: v for k, v in target_kv.items() if k not in source_kv and k not in delete_keys}
    want.update(source_kv)
    assert got == want
    # idempotence: re-merging the same source changes nothing
    once = merge_upsert(target, source, ["k"])
    twice = merge_upsert(once, source, ["k"])
    assert {(r.k, r.v) for r in twice.collect()} == {(r.k, r.v) for r in once.collect()}


@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=10),
    seed=st.integers(min_value=0, max_value=1 << 30),
    data=st.data(),
)
@settings(max_examples=40, deadline=None)
def test_png_roundtrip_property(w, h, seed, data):
    """encode_png -> decode_png is the identity on pixels for any
    dimensions and any supported per-row filter choice."""
    import random as _random

    from octopufs_spark.llm.multimodal import decode_png, encode_png

    rng = _random.Random(seed)
    rows = [bytes(rng.randrange(256) for _ in range(w * 3)) for _ in range(h)]
    filters = data.draw(st.lists(st.integers(0, 2), min_size=h, max_size=h))
    dw, dh, ch, px = decode_png(encode_png(w, h, rows, filters))
    assert (dw, dh, ch) == (w, h, 3)
    assert px == b"".join(rows)


@given(
    w=st.integers(min_value=1, max_value=10),
    h=st.integers(min_value=1, max_value=8),
    dw=st.integers(min_value=1, max_value=12),
    dh=st.integers(min_value=1, max_value=12),
    seed=st.integers(min_value=0, max_value=1 << 30),
)
@settings(max_examples=40, deadline=None)
def test_resize_png_property(w, h, dw, dh, seed):
    """resize_png implements exact nearest-neighbor floor sampling for
    ANY source/destination shape: dst pixel (x, y) == src pixel
    (x*w//dw, y*h//dh). Resizing to the same shape is the identity."""
    import random as _random

    from octopufs_spark.llm.multimodal import decode_png, encode_png, resize_png

    rng = _random.Random(seed)
    rows = [bytes(rng.randrange(256) for _ in range(w * 3)) for _ in range(h)]
    png = encode_png(w, h, rows)
    src = b"".join(rows)

    rw, rh, ch, px = decode_png(resize_png(png, dw, dh))
    assert (rw, rh, ch) == (dw, dh, 3)
    for y in range(dh):
        sy = y * h // dh
        for x in range(dw):
            sx = x * w // dw
            assert (
                px[(y * dw + x) * 3 : (y * dw + x) * 3 + 3]
                == src[(sy * w + sx) * 3 : (sy * w + sx) * 3 + 3]
            )

    same = decode_png(resize_png(png, w, h))[3]
    assert same == src


@given(
    count=st.integers(min_value=0, max_value=10**14),
    threshold=st.floats(min_value=0.2, max_value=0.9),
)
@settings(deadline=None)  # first example pays the module import
def test_adaptive_minhash_params_properties(count, threshold):
    """The corpus-count banding ladder: recall at the threshold stays
    ≥ 0.95 at every step, r is monotone in count (never shrinking the
    suppression exponent as the corpus grows), num_perm = b·r exactly,
    and the map is deterministic."""
    from octopufs_spark.llm.dedup import adaptive_minhash_params

    num_perm, b, r = adaptive_minhash_params(count, threshold=threshold)
    assert num_perm == b * r and b >= 2 and 2 <= r <= 6
    assert 1 - (1 - threshold**r) ** b >= 0.95
    bigger = adaptive_minhash_params(count * 100 + 1, threshold=threshold)
    assert bigger[2] >= r
    assert adaptive_minhash_params(count, threshold=threshold) == (num_perm, b, r)


@given(count=st.integers(min_value=0, max_value=10**14))
@settings(deadline=None)
def test_adaptive_n_planes_density_bound(count):
    """Plane count tracks the corpus so expected bucket occupancy is
    bounded: below the cap, count / 2^planes ≤ target; planes never
    leave [floor, cap]; monotone in count."""
    from octopufs_spark.llm.similarity import adaptive_n_planes

    planes = adaptive_n_planes(count, target_bucket=32, floor=8, cap=24)
    assert 8 <= planes <= 24
    if planes < 24:
        assert count <= 32 * (1 << planes)
    if planes > 8:
        # one fewer plane would overflow the target density — the
        # ladder takes the SMALLEST sufficient plane count
        assert count > 32 * (1 << (planes - 1))
    assert adaptive_n_planes(count * 2 + 1) >= adaptive_n_planes(count)


@given(
    j=st.integers(min_value=0, max_value=31),
    dim=st.integers(min_value=1, max_value=128),
)
@settings(deadline=None)
def test_deterministic_planes_pure_and_bounded(j, dim):
    """Plane coefficients are a pure function of (row, col) — the
    property both engines rely on to inline identical literals — and
    stay inside the quantization range."""
    from octopufs_spark.llm.similarity import deterministic_planes

    a = deterministic_planes(j + 1, dim)
    b = deterministic_planes(j + 1, dim)
    assert a == b
    assert all(-1000 <= c <= 1000 for row in a for c in row)
    # prefix stability: plane i of a larger matrix equals plane i alone
    assert deterministic_planes(j + 2, dim)[: j + 1] == a


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["=", "<", "<=", ">", ">="]),
            st.integers(min_value=-50, max_value=1100),
        ),
        max_size=6,
    ),
    st.integers(min_value=1, max_value=8),
)
@settings(max_examples=200, deadline=None)
def test_synthgen_pushdown_interval_equivalence(preds, nparts):
    """The reader's pushed-down [lo, hi) must select EXACTLY the ids a
    row-by-row evaluation of the conjunction selects — never a
    superset (rows Spark would have to re-filter are fine to generate,
    but the reader claims full pushdown by consuming the filter) and
    never a subset (lost rows are a correctness bug)."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        LessThan,
        LessThanOrEqual,
    )

    from octopufs_spark.sources import SynthBatchReader

    total = 1000
    cls = {
        "=": EqualTo,
        "<": LessThan,
        "<=": LessThanOrEqual,
        ">": GreaterThan,
        ">=": GreaterThanOrEqual,
    }
    ops = {
        "=": lambda i, v: i == v,
        "<": lambda i, v: i < v,
        "<=": lambda i, v: i <= v,
        ">": lambda i, v: i > v,
        ">=": lambda i, v: i >= v,
    }
    r = SynthBatchReader({"total": str(total), "partitions": str(nparts)})
    rest = list(r.pushFilters([cls[op](("id",), v) for op, v in preds]))
    assert rest == []  # every interval predicate on id is consumed
    generated = set()
    for p in r.partitions():
        generated |= set(range(p.start, p.end))
    expected = {
        i for i in range(total) if all(ops[op](i, v) for op, v in preds)
    }
    assert generated == expected


@st.composite
def _evolution_log(draw):
    """A VALID schema-evolution event log over a small column universe:
    renames target fresh never-retired names, drops retire live names —
    exactly the states rename_column/drop_column can produce."""
    live = {"a", "b", "c"}
    retired: set[str] = set()
    fresh = iter(f"n{i}" for i in range(40))
    events = []
    for _ in range(draw(st.integers(min_value=0, max_value=8))):
        kind = draw(st.sampled_from(["rename", "drop"]))
        if not live:
            break
        src = draw(st.sampled_from(sorted(live)))
        if kind == "rename":
            new = next(fresh)
            events.append(["rename", src, new])
            live.remove(src)
            retired.add(src)
            live.add(new)
        else:
            events.append(["drop", src])
            live.remove(src)
            retired.add(src)
    return events, sorted(live)


@given(_evolution_log())
@settings(max_examples=200)
def test_evolution_name_algebra_roundtrip(log_live):
    """For any valid event log: (a) replaying the log on the ORIGINAL
    column names yields exactly the live logical names plus drop
    sentinels; (b) every live logical name's alias chain leads back,
    via replay, to that same name — i.e. _alias_chain (used by
    pruning) and _evolve_names (used by reads and delete vectors) are
    inverses over every intermediate spelling a file could carry."""
    from octopufs_spark.manifest_log import _DROPPED_PREFIX, _alias_chain, _evolve_names

    events, live = log_live
    evolved = _evolve_names(["a", "b", "c"], events)
    finals = [n for n in evolved if not n.startswith(_DROPPED_PREFIX)]
    assert sorted(finals) == live
    dropped = [n for n in evolved if n.startswith(_DROPPED_PREFIX)]
    assert len(set(evolved)) == 3  # bijective: no two columns collide
    assert len(dropped) == 3 - len(live)
    for col in live:
        chain = _alias_chain(col, events)
        assert chain[0] == col
        for i, alias in enumerate(chain):
            # a file written when the column was spelled `alias` replays
            # to the current logical name: suffix of the log from any
            # point must map alias -> col (replay is order-insensitive
            # here because retired names are never reused)
            assert _evolve_names([alias], events)[0] == col, (alias, events)
        # chain entries are unique (no cycles)
        assert len(set(chain)) == len(chain)
