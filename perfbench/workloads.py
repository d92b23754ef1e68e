"""The benchmark's workloads: closed loops of public library calls.

One client (this process) calls the library one call after another.
Each workload has ``setup`` (build the seeded inputs under a scratch
root), ``warmup`` (untimed cycles whose checks still count), ``cycle``
(time only the library calls and check their outputs between calls,
outside the timed steps) and ``report`` (workload-specific figures).
"""

from __future__ import annotations

import os
import sys
import time
import zlib
from collections import defaultdict
from statistics import median

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from octopufs_spark import acl, catalog, compact, manifest, merge, promotor
from octopufs_spark.fs import delta, distributed, local
from octopufs_spark.fs.model import Paths
from perfbench import fixtures
from perfbench.trace import tree_bytes, tree_cpu_s


def uri(path: str) -> str:
    return "file://" + path


class Cycle:
    """Timings, work counts and check outcomes of one cycle."""

    def __init__(self):
        self.s = 0.0  # timed seconds: library calls only
        self.ops = 0
        self.bytes = 0
        self.files = 0
        self.commits = 0
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.cpu: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0

    def run(self, name: str, fn, *args, **kwargs):
        """Time one library call: wall and CPU seconds of the process
        tree. A call that raises ends the run, which counts it as
        attempted and failed."""
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        result = fn(*args, **kwargs)
        dt = time.perf_counter() - t0
        self.cpu[name].append(tree_cpu_s() - c0)
        self.attempted += 1
        self.s += dt
        self.ops += 1
        self.lat[name].append(dt)
        return result

    def absorb(self, other: "Cycle") -> None:
        """Add ``other``'s calls, work and checks to this cycle."""
        for f in ("s", "ops", "bytes", "files", "commits", "attempted", "failed"):
            setattr(self, f, getattr(self, f) + getattr(other, f))
        for mine, theirs in ((self.lat, other.lat), (self.cpu, other.cpu)):
            for op, ts in theirs.items():
                mine[op].extend(ts)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr, flush=True)


def cycle_estimate(cycles: list[Cycle], field: str = "lat") -> float:
    """The median cycle, estimated op by op: each op's median latency
    (``field="cpu"``: CPU seconds) times its calls per cycle, summed.
    Steadier than the median of a few whole cycles, since every op
    contributes all of its samples."""
    lat: dict[str, list[float]] = defaultdict(list)
    for c in cycles:
        for op, ts in getattr(c, field).items():
            lat[op].extend(ts)
    return sum(median(ts) * len(ts) / len(cycles) for ts in lat.values())


# ---------------- small_files / large_files ----------------


def digest(root: str) -> dict[str, tuple[int, int]]:
    """{relative path: (size, crc32)} of the data files under ``root``
    (Spark's hidden ``.crc`` / ``_SUCCESS`` side files excluded)."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if name.startswith((".", "_")):
                continue
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = (os.path.getsize(path), zlib.crc32(f.read()))
    return out


def parquet_rows(root: str) -> int:
    return sum(
        pq.read_metadata(os.path.join(root, rel)).num_rows for rel in digest(root)
    )


class StorageCycle:
    """The promotion cycle over a Hive-style partitioned staging table:
    partition promotion, backup copy, churn + sync, ACL apply + sync,
    compaction of the backup, partition move, restore."""

    def __init__(self, partitions, files_per_partition, sizes, churn, subset, compact_mb):
        self.partitions = partitions
        self.files_per_partition = files_per_partition
        self.sizes = sizes
        self.churn = churn
        self.subset = [f"p={p:02d}" for p in subset]
        self.compact_mb = compact_mb

    def setup(self, ctx, root: str) -> None:
        self.ctx = ctx
        self.staging, self.target, self.backup = (f"{root}/{d}" for d in ("staging", "target", "backup"))
        fixtures.write_partitioned_tree(
            self.staging,
            np.random.default_rng(ctx.seed),
            self.partitions,
            self.files_per_partition,
            self.sizes,
        )
        os.makedirs(self.target)
        for table, loc in (("stg", self.staging), ("tgt", self.target)):
            ctx.spark.sql(f"DROP TABLE IF EXISTS {table}")
            ctx.spark.sql(
                f"CREATE TABLE {table} (id BIGINT, payload BINARY, p STRING) "
                f"USING parquet PARTITIONED BY (p) LOCATION '{uri(loc)}'"
            )
            catalog.refresh_metadata(ctx.spark, table)
        self.store, self.plain_store = ctx.acl_store(uri(root))

    def warmup(self) -> list[Cycle]:
        # pays Python-worker start, JIT and page-cache writeback of the
        # fresh tree before the first timed copy
        return [self.cycle(0)]

    def _churn(self, i: int) -> int:
        """Seeded churn of staging: delete ``churn`` files, add as many
        in the same partitions (the tree keeps its shape) and rewrite
        ``churn`` more. A rewrite always changes the file's size,
        because ``fs.delta`` diffs trees by (path, size). Returns the
        bytes sync must copy."""
        rng = np.random.default_rng([self.ctx.seed, i])
        files = sorted(digest(self.staging))
        picked = [files[k] for k in rng.choice(len(files), 2 * self.churn, replace=False)]
        copied = 0
        for n, (gone, rewritten) in enumerate(zip(picked[: self.churn], picked[self.churn :])):
            os.remove(f"{self.staging}/{gone}")
            new = f"{self.staging}/{gone.split('/')[0]}/part-c{i:05d}-{n}.parquet"
            fixtures.write_tree_file(new, rng, int(rng.integers(*self.sizes)))
            old = f"{self.staging}/{rewritten}"
            old_size = os.path.getsize(old)
            while os.path.getsize(old) == old_size:
                fixtures.write_tree_file(old, rng, int(rng.integers(*self.sizes)))
            copied += os.path.getsize(old) + os.path.getsize(new)
        return copied

    def cycle(self, i: int) -> Cycle:
        ctx, c = self.ctx, Cycle()
        spark, slots = ctx.spark, ctx.slots
        stg, bak = uri(self.staging), uri(self.backup)
        before = digest(self.staging)
        sub_files = [rel for rel in before if rel.split("/")[0] in self.subset]

        c.run("promotor.copy_overwrite_partitions", promotor.copy_overwrite_partitions,
              spark, "stg", "tgt", self.subset, slots)  # fmt: skip
        c.check(digest(self.target) == {r: before[r] for r in sub_files}, "promoted partitions")

        c.run("fs.distributed.copy_folder", distributed.copy_folder, spark, stg, bak, slots)
        c.check(digest(self.backup) == before, "backup copy is byte-identical")

        synced = self._churn(i)
        c.run("fs.delta.synchronize", delta.synchronize, spark, stg, bak, slots)
        after = digest(self.staging)
        c.check(digest(self.backup) == after, "synced backup is byte-identical")
        if i == 0:  # two Spark jobs: once per run, in warm-up
            with ctx.tracer.paused():
                missing, extra = delta.get_delta(spark, stg, bak)
            c.check(not missing and not extra, "get_delta is empty after synchronize")

        perm = acl.FsPermission("user", "rwx" if i % 2 else "r-x", acl.ACCESS, "grp-bench")
        c.run("acl.modify_folder_acl", acl.modify_folder_acl, self.store, stg, perm)
        c.run("acl.synchronize_acls", acl.synchronize_acls, self.store, bak, stg)
        c.check(self._acls_ok(perm), "backup ACLs follow the staging layout")

        rows_before = parquet_rows(self.backup)
        rewritten = c.run("compact.do_it_all", compact.do_it_all, spark, [bak], self.compact_mb)
        compacted = tree_bytes(self.backup) if rewritten else 0
        c.check(rewritten == self.expected_rewrites(), f"compaction rewrote {rewritten} folders")
        c.check(parquet_rows(self.backup) == rows_before, "compaction kept every row")

        c.run("promotor.move_table_partitions", promotor.move_table_partitions,
              spark, "stg", "tgt", self.subset)  # fmt: skip
        moved = {r: after[r] for r in after if r.split("/")[0] in self.subset}
        c.check(digest(self.target) == moved, "moved partitions landed in the target")
        c.run("fs.local.move_paths", local.move_paths,
              [Paths(uri(f"{self.target}/{p}"), uri(f"{self.staging}/{p}")) for p in self.subset])  # fmt: skip
        c.run("fs.local.delete_paths", local.delete_paths, [bak])
        c.check(digest(self.staging) == after and not os.path.exists(self.backup), "start state restored")

        n_moved = len(moved)
        c.files = len(sub_files) + len(before) + 3 * self.churn + (len(after) if rewritten else 0) + 2 * n_moved
        c.bytes = (
            sum(before[r][0] for r in sub_files) + sum(v[0] for v in before.values()) + synced + compacted
        )
        return c

    def expected_rewrites(self) -> int:
        return self.partitions if self.sizes[1] < self.compact_mb * 2**20 else 0

    def _acls_ok(self, perm) -> bool:
        access = perm.as_access()
        default = acl.FsPermission(perm.scope, perm.permission, acl.DEFAULT, perm.grantee)
        for dirpath, dirs, files in os.walk(self.backup):
            if set(self.plain_store.get_acl(dirpath)) != {access, default}:
                return False
            for name in files:
                if self.plain_store.get_acl(os.path.join(dirpath, name)) != [access]:
                    return False
        return True

    def report(self, cycles: list[Cycle]) -> dict:
        return {"files_per_s": median([c.files / c.s for c in cycles])}


# ---------------- lakehouse ----------------


class Lakehouse:
    """A manifest table fed from seeded lineitem batches, kept at a
    fixed window of ``WINDOW`` live batches. One cycle is two rounds
    of append, pruned read + aggregate and upsert MERGE, then a
    merge-on-read delete of the batches that left the window, a
    compaction and a vacuum: every cycle does the same work on a table
    of the same shape, however many cycles a run gets through."""

    ROUNDS = 2
    WINDOW = 6
    BATCH = 4000
    MERGED = 400  # rows of the previous batch updated per round
    KEYS = ["l_orderkey", "l_linenumber"]

    def setup(self, ctx, root: str) -> None:
        self.ctx = ctx
        self.root = f"{root}/lineitem_mt"
        self.table = manifest.ManifestTable(uri(self.root))
        self.batches: list = []  # live (pyarrow batch, quantities), oldest first
        self.seen: set[str] = set()
        self.batch_no = 0
        first = pa.concat_tables([self._next_batch() for _ in range(self.WINDOW)])
        manifest.write_and_commit(ctx.spark.createDataFrame(first), self.table, mode="overwrite", stats=True)

    def warmup(self) -> list[Cycle]:
        return [self.cycle(0)]

    def _next_batch(self):
        k = self.batch_no
        self.batch_no += 1
        rng = np.random.default_rng([self.ctx.seed, k])
        t = fixtures.lineitem_batch(rng, self.BATCH, k * self.BATCH, 20_000, 1_000)
        self.batches.append([t, t["l_quantity"].to_numpy().copy()])
        return t

    def _new_bytes(self) -> int:
        """Bytes of files that appeared under the table root since the
        last call."""
        now = {}
        for dirpath, _dirs, files in os.walk(self.root):
            for name in files:
                path = os.path.join(dirpath, name)
                now[path] = os.path.getsize(path)
        new = sum(size for path, size in now.items() if path not in self.seen)
        self.seen = set(now)
        return new

    def _expected(self, lo=None, hi=None) -> tuple[int, float]:
        rows, qty = 0, 0.0
        for t, q in self.batches:
            if lo is None:
                rows, qty = rows + len(q), qty + float(q.sum())
                continue
            keys = t["l_orderkey"].to_numpy()
            m = (keys >= lo) & (keys < hi)
            rows += int(m.sum())
            qty += float(q[m].sum())
        return rows, qty

    def cycle(self, i: int) -> Cycle:
        c = Cycle()
        self._new_bytes()
        for r in range(self.ROUNDS):
            self._round(c, r)
        spark, tr = self.ctx.spark, self.ctx.tracer
        gone = pa.concat_tables([t.select(self.KEYS) for t, _ in self.batches[: self.ROUNDS]])
        c.run("delete_where_mor", merge.delete_where_mor, spark, self.table,
              spark.createDataFrame(gone), self.KEYS)  # fmt: skip
        del self.batches[: self.ROUNDS]
        c.run("compact", manifest.compact_and_commit, spark, self.table, 1 << 20)
        c.run("vacuum", self.table.vacuum, keep_versions=1, retention_seconds=0.0)
        c.commits += 2
        c.bytes = self._new_bytes()
        tr.count("manifest.bytes_written", c.bytes)
        self._check_totals(c)
        return c

    def _check_totals(self, c: Cycle) -> None:
        with self.ctx.tracer.paused():
            total = self.table.read(self.ctx.spark).selectExpr(
                "count(*) AS n", "sum(l_quantity) AS q").first()  # fmt: skip
        c.check((total.n, total.q) == self._expected(), f"table totals {tuple(total)} vs {self._expected()}")

    def _round(self, c: Cycle, r: int) -> None:
        spark, tr = self.ctx.spark, self.ctx.tracer
        t = self._next_batch()
        df = spark.createDataFrame(t)
        c.run("append", manifest.write_and_commit, df, self.table, mode="append", stats=True)
        c.commits += 1

        prev, prev_q = self.batches[-2]
        lo = int(prev["l_orderkey"][0].as_py())
        hi = int(prev["l_orderkey"][-1].as_py()) + 1

        def pruned_read():
            d = self.table.read_pruned(spark, [("l_orderkey", ">=", lo), ("l_orderkey", "<", hi)])
            d = d.where(f"l_orderkey >= {lo} AND l_orderkey < {hi}")
            row = tr.call("manifest.read.exec", d.selectExpr(
                "count(*) AS n", "sum(l_quantity) AS q").collect)[0]  # fmt: skip
            return row.n, row.q or 0.0

        got = c.run("read", pruned_read)
        c.check(got == self._expected(lo, hi), f"pruned read {got} vs {self._expected(lo, hi)}")

        upd = prev.slice(0, self.MERGED)
        upd = upd.set_column(4, "l_quantity", pa.array(upd["l_quantity"].to_numpy() + 1.0 + r))
        src = spark.createDataFrame(upd)
        c.run("merge", merge.merge_upsert_manifest, spark, self.table, src, self.KEYS)
        c.commits += 1
        prev_q[: self.MERGED] = upd["l_quantity"].to_numpy()
        tr.count("merge.changed_rows", self.MERGED)

    def report(self, cycles: list[Cycle]) -> dict:
        head = self.table.read_manifest()
        live = sum(os.path.getsize(f"{self.root}/{f}") for f in head.files)
        return {
            "commits_per_s": sum(c.commits for c in cycles) / sum(c.s for c in cycles),
            "space_amp": tree_bytes(self.root) / live,
            "snapshot_files": len(head.files),
        }


# ---------------- query_mix ----------------

RELATIONAL = ["q_scan_parquet", "q_agg_sum_group", "q_join_multi", "q_tpch_q1"]
LLM = ["q_ext_dedup_exact", "q_ext_quality", "q_ext_pii_scrub"]
QUERY_SF = 0.01


class QueryMix:
    """Warm passes over a fixed list of registry queries into the
    ``noop`` sink; results are checked once per set-up against DuckDB."""

    def setup(self, ctx, root: str) -> None:
        import duckdb

        from octopufs_spark import queries  # noqa: F401  (registers the queries)
        from octopufs_spark.registry import REGISTRY
        from tools.verify_local import normalize

        self.ctx = ctx
        self.data = f"{root}/sf{QUERY_SF}"
        fixtures.write_tpch(self.data, ctx.seed, QUERY_SF)
        self.queries = {q: REGISTRY[q].fn for q in RELATIONAL + LLM}
        self.expected = {}
        with ctx.untimed(), duckdb.connect() as con:
            for name in ("region", "nation", "customer", "supplier", "part", "orders",
                         "lineitem", "events", "documents", "embeddings"):  # fmt: skip
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{self.data}/{name}.parquet')")
            for q in self.queries:
                res = con.sql(REGISTRY[q].oracle)
                self.expected[q] = normalize([tuple(r) for r in res.fetchall()], res.columns)
        self.normalize = normalize

    def warmup(self) -> list[Cycle]:
        """Every query runs once, collected, and its rows are compared
        with the DuckDB oracle's. The ``noop`` passes that follow reuse
        the generated code of these plans."""
        ctx, c = self.ctx, Cycle()
        for q, fn in self.queries.items():
            df = ctx.tracer.call(span_name(q), fn, ctx.spark, self.data)
            rows = ctx.tracer.call(span_name(q) + ".exec", df.collect)
            with ctx.untimed():
                got = self.normalize([tuple(r) for r in rows], df.columns)
                c.check(got == self.expected[q], f"{q} matches its DuckDB oracle")
        return [c]

    def cycle(self, i: int) -> Cycle:
        ctx, c = self.ctx, Cycle()
        mark = ctx.stats.mark()
        for q, fn in self.queries.items():
            c.run(q, self._execute, q, fn)
        c.ops = len(self.queries)
        c.bytes = ctx.stats.since(mark)["input_bytes"]
        return c

    def _execute(self, q, fn):
        tr = self.ctx.tracer
        df = tr.call(span_name(q), fn, self.ctx.spark, self.data)
        tr.call(span_name(q) + ".exec", df.write.format("noop").mode("overwrite").save)

    def report(self, cycles: list[Cycle]) -> dict:
        return {"queries_per_min": 60.0 * len(self.queries) / cycle_estimate(cycles)}


def span_name(query: str) -> str:
    return ("llm." if query in LLM else "queries.") + query


class Sequence:
    """Several workloads run as one: each cycle is one cycle of every
    part, in order, over the same Spark session."""

    def __init__(self, *parts):
        self.parts = parts
        self.part_cycles: list[list[Cycle]] = [[] for _ in parts]

    def setup(self, ctx, root: str) -> None:
        for n, part in enumerate(self.parts):
            part.setup(ctx, f"{root}/{n}")

    def warmup(self) -> list[Cycle]:
        return [c for part in self.parts for c in part.warmup()]

    def cycle(self, i: int) -> Cycle:
        c = Cycle()
        for part, done in zip(self.parts, self.part_cycles):
            done.append(part.cycle(i))
            c.absorb(done[-1])
        return c

    def report(self, cycles: list[Cycle]) -> dict:
        out = {}
        for part, done in zip(self.parts, self.part_cycles):
            out.update(part.report(done[-len(cycles) :]))
        return out


WORKLOADS = {
    "small_files": lambda: StorageCycle(4, 20, (2048, 6144), 4, (1,), 8),
    "large_files": lambda: StorageCycle(4, 2, (12 << 20, 20 << 20), 1, (1,), 8),
    "lakehouse": Lakehouse,
    "query_mix": QueryMix,
    "lakehouse_query": lambda: Sequence(Lakehouse(), QueryMix()),
}
