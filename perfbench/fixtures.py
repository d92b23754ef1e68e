"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its seed: the same seed gives
byte-identical files. Nothing reads the repository's own test data, so
the benchmark runs from a bare checkout.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.45, 0.15, 0.12, 0.13]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()

_EPOCH = dt.datetime(1970, 1, 1)


def _days(y: int, m: int, d: int) -> int:
    return (dt.datetime(y, m, d) - _EPOCH).days


def _ts_ms(rng, lo_day: int, hi_day: int, n: int) -> pa.Array:
    days = rng.integers(lo_day, hi_day + 1, n).astype(np.int64)
    return pa.array(days * 86_400_000, pa.timestamp("ms"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def lineitem_batch(rng, n: int, key_lo: int, n_parts: int, n_supp: int) -> pa.Table:
    """``n`` lineitem rows whose (l_orderkey, l_linenumber) keys are
    unique: order keys run from ``key_lo`` with up to 7 lines each."""
    lines = rng.integers(1, 8, n // 2 + 8)
    okeys = np.repeat(np.arange(key_lo, key_lo + len(lines)), lines)[:n]
    lnums = np.concatenate([np.arange(1, k + 1) for k in lines])[:n].astype(np.int32)
    return pa.table(
        {
            "l_orderkey": pa.array(okeys, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(lnums, pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _ts_ms(rng, _days(1995, 1, 2), _days(2001, 11, 4), n),
        }
    )


def write_tpch(out_dir: str, seed: int, sf: float) -> None:
    """TPC-H-shaped star schema plus the ``events``, ``documents`` and
    ``embeddings`` tables, one ``<name>.parquet`` file each, with the
    same column names and types as the registry queries expect."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = max(150, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(200, int(200_000 * sf)), max(1500, int(1_500_000 * sf))
    n_line, n_evt = max(6000, int(6_000_000 * sf)), max(1000, int(1_000_000 * sf))
    ids = lambda n: pa.array(np.arange(n), pa.int64())  # noqa: E731
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": ids(n_cust),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": ids(n_supp),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": ids(n_part),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": ids(n_ord),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _ts_ms(rng, _days(1995, 1, 1), _days(2001, 8, 1), n_ord),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": lineitem_batch(rng, n_line, 0, n_part, n_supp).set_column(
            0, "l_orderkey", pa.array(rng.integers(0, n_ord, n_line), pa.int64())
        ),
        "events": pa.table(
            {
                "event_id": ids(n_evt),
                "ts": pa.array(
                    np.sort(rng.integers(0, 30 * 86_400 * 10**9, n_evt))
                    + (_days(2024, 1, 1) * 86_400 * 10**9),
                    pa.timestamp("ns"),
                ),
                "user_id": pa.array(rng.integers(0, max(15, n_evt // 66), n_evt), pa.int64()),
                "event_type": _pick(rng, EVENT_TYPES, n_evt),
                "value": _money(rng, 0.01, 490.0, n_evt),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
            }
        ),
        "documents": _documents(rng, 500),
        "embeddings": pa.table(
            {
                "vec_id": ids(500),
                "embedding": pa.array(
                    list(rng.normal(0.0, 0.1, (500, 64)).astype(np.float32)),
                    pa.list_(pa.float32()),
                ),
                "label": pa.array(rng.integers(0, 10, 500), pa.int32()),
            }
        ),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> pa.Table:
    texts = [
        " ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)])
        for k in rng.integers(10, 100, n)
    ]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": [f"src{s}" for s in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


# ---------- partitioned file trees (small_files / large_files) ----------

TREE_SCHEMA = pa.schema([("id", pa.int64()), ("payload", pa.binary())])


def tree_file(rng, payload_bytes: int) -> pa.Table:
    """One data file's rows: a few rows of incompressible payload, so
    the parquet file is about ``payload_bytes`` long."""
    rows = max(1, min(64, payload_bytes // 512))
    each = max(1, payload_bytes // rows)
    blob = rng.bytes(each * rows)
    return pa.table(
        {
            "id": pa.array(rng.integers(0, 2**40, rows), pa.int64()),
            "payload": pa.array([blob[i * each : (i + 1) * each] for i in range(rows)], pa.binary()),
        },
        schema=TREE_SCHEMA,
    )


def write_tree_file(path: str, rng, payload_bytes: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tree_file(rng, payload_bytes), path, compression="none")


def write_partitioned_tree(
    root: str, rng, partitions: int, files_per_partition: int, sizes: tuple[int, int]
) -> None:
    """Hive-style ``root/p=NN/part-NNNNN.parquet`` tree; file payloads
    are drawn uniformly from ``sizes`` (bytes)."""
    for p in range(partitions):
        for f in range(files_per_partition):
            write_tree_file(
                f"{root}/p={p:02d}/part-{f:05d}.parquet", rng, int(rng.integers(*sizes))
            )
