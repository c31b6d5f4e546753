"""``lakehouse_dml``: writes beside reads on the Delta and Iceberg faces.

Set-up writes a Delta table and an Iceberg table of ``(k, v)`` rows in
8 files each and registers both in a catalog.  One cycle runs, on each
format in turn: append one file, update a key range (``v += 1``), delete
a key range, ``merge_upsert`` a batch that half overlaps live keys, a
snapshot read (``count``, ``sum(k)``, ``sum(v)``), a CDC read of the
cycle's commits, a registry ``sync``, and compaction (Delta also writes
a checkpoint; Iceberg also runs ``remove_dangling_deletes``).  Update
runs before merge because ``IcebergTable.update_rows`` refuses while
equality-delete files are live; the cycle's compaction clears them.

Both formats receive the same seeded op sequence, so one in-memory model
gives the expected snapshot count and sums and each cycle's CDC row
count.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import du

FILES = 8

_SCHEMA = json.dumps({
    "type": "struct",
    "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}},
        {"name": "v", "type": "long", "nullable": True, "metadata": {}},
    ],
})


class Model:
    """Live rows by key: ``v[k]`` where ``alive[k]``."""

    def __init__(self, n: int):
        self.v = np.arange(n, dtype=np.int64) * 10
        self.alive = np.ones(n, dtype=bool)

    @property
    def next_key(self) -> int:
        return len(self.v)

    def grow(self, hi: int) -> None:
        if hi > len(self.v):
            extra = hi - len(self.v)
            self.v = np.concatenate([self.v, np.zeros(extra, np.int64)])
            self.alive = np.concatenate([self.alive, np.zeros(extra, bool)])

    def append(self, lo: int, hi: int) -> int:
        self.grow(hi)
        self.v[lo:hi] = np.arange(lo, hi, dtype=np.int64) * 10
        self.alive[lo:hi] = True
        return hi - lo

    def update(self, lo: int, hi: int) -> int:
        live = self.alive[lo:hi]
        self.v[lo:hi][live] += 1
        return int(live.sum())

    def delete(self, lo: int, hi: int) -> int:
        n = int(self.alive[lo:hi].sum())
        self.alive[lo:hi] = False
        return n

    def merge(self, lo: int, hi: int) -> tuple[int, int]:
        self.grow(hi)
        matched = int(self.alive[lo:hi].sum())
        self.v[lo:hi] = np.arange(lo, hi, dtype=np.int64) + 7
        self.alive[lo:hi] = True
        return matched, hi - lo

    def snapshot(self) -> tuple[int, int, int]:
        keys = np.flatnonzero(self.alive)
        return len(keys), int(keys.sum()), int(self.v[self.alive].sum())


def _kv_file(path: str, lo: int, hi: int) -> None:
    k = np.arange(lo, hi, dtype=np.int64)
    pq.write_table(pa.table({"k": k, "v": k * 10}), path)


class _Delta:
    fmt = "delta"
    layer = "delta_log"

    def __init__(self, table_dir: str):
        from hadoop_sync_spark.delta_log import DeltaLog

        self.dir = table_dir
        self.log = DeltaLog(table_dir)

    def create(self, bounds) -> None:
        acts = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "perfbench", "schemaString": _SCHEMA,
                          "format": {"provider": "parquet", "options": {}},
                          "partitionColumns": [],
                          # the change feed the CDC stream source reads
                          "configuration": {
                              "delta.enableChangeDataFeed": "true"}}},
        ]
        for i, (lo, hi) in enumerate(bounds):
            rel = f"base-{i}.parquet"
            _kv_file(os.path.join(self.dir, rel), lo, hi)
            acts.append(self.log.add_action_for(rel))
        self.log.commit(0, acts)

    def position(self):
        return self.log.latest_version()

    def append(self, rel: str, rows: int, now_ms: int) -> None:
        self.log.commit(self.log.latest_version() + 1,
                        [self.log.add_action_for(rel)])

    def update(self, spark, lo, hi, now_ms) -> int:
        from pyspark.sql import functions as F

        return self.log.update_where(spark, {"k": (lo, hi - 1)},
                                     {"v": F.col("v") + 1},
                                     now_ms=now_ms)["rows_updated"]

    def delete(self, spark, lo, hi, now_ms) -> int:
        return self.log.delete_where(spark, {"k": (lo, hi - 1)},
                                     now_ms=now_ms)["rows_deleted"]

    def merge(self, spark, src, now_ms) -> None:
        self.log.merge_upsert(spark, src, "k", now_ms=now_ms)

    def read(self, spark):
        return self.log.read(spark)

    def changes(self, spark, start):
        return self.log.read_changes(spark, start + 1)

    def compact(self, spark, now_ms, tracer) -> None:
        with tracer.span("delta_log.compact"):
            self.log.compact(spark)
        with tracer.span("delta_log.checkpoint"):
            self.log.write_checkpoint()

    def cdc_reader(self, start):
        from hadoop_sync_spark.cdc_source import DeltaCDCStreamSource

        return DeltaCDCStreamSource(
            {"path": self.dir, "startingVersion": str(start + 1)}
        ).streamReader(None)

    def metadata_dir(self) -> str:
        return os.path.join(self.dir, "_delta_log")

    def fresh_walk(self) -> list:
        from hadoop_sync_spark.delta_log import DeltaLog

        return DeltaLog(self.dir).snapshot().files


class _Iceberg:
    fmt = "iceberg"
    layer = "iceberg_meta"

    def __init__(self, table_dir: str):
        self.dir = table_dir

    def create(self, bounds) -> None:
        from hadoop_sync_spark.iceberg_meta import DataFile, IcebergTable

        os.makedirs(os.path.join(self.dir, "data"))
        self.t = IcebergTable.create(
            self.dir, [("k", "bigint"), ("v", "bigint")], now_ms=1)
        files = []
        for i, (lo, hi) in enumerate(bounds):
            rel = f"data/base-{i}.parquet"
            _kv_file(os.path.join(self.dir, rel), lo, hi)
            size = os.path.getsize(os.path.join(self.dir, rel))
            files.append(DataFile(rel, {}, hi - lo, size))
        self.t.append(files, now_ms=2)

    def position(self):
        return self.t.snapshot()["snapshot-id"]

    def append(self, rel: str, rows: int, now_ms: int) -> None:
        from hadoop_sync_spark.iceberg_meta import DataFile

        self.t.append([DataFile(rel, {}, rows,
                                os.path.getsize(os.path.join(self.dir, rel)))],
                      now_ms=now_ms)

    def update(self, spark, lo, hi, now_ms) -> int:
        from pyspark.sql import functions as F

        return self.t.update_rows(spark, {"k": (lo, hi - 1)},
                                  {"v": F.col("v") + 1}, now_ms=now_ms)

    def delete(self, spark, lo, hi, now_ms) -> int:
        return self.t.delete_rows(spark, {"k": (lo, hi - 1)}, now_ms=now_ms)

    def merge(self, spark, src, now_ms) -> None:
        self.t.merge_upsert(spark, src, "k", now_ms=now_ms)

    def read(self, spark):
        return self.t.read(spark)

    def changes(self, spark, start):
        return self.t.changelog_scan(spark, start)

    def compact(self, spark, now_ms, tracer) -> None:
        with tracer.span("iceberg_meta.compact"):
            self.t.compact(spark, now_ms=now_ms)
        with tracer.span("iceberg_meta.remove_dangling"):
            self.t.remove_dangling_deletes(now_ms=now_ms + 1)

    def cdc_reader(self, start):
        from hadoop_sync_spark.cdc_source import IcebergIncrementalStreamSource

        seq = self.t.snapshot(snapshot_id=start)["sequence-number"] + 1
        return IcebergIncrementalStreamSource(
            {"path": self.dir, "mode": "changelog",
             "startingSequence": str(seq)}
        ).streamReader(None)

    def metadata_dir(self) -> str:
        return os.path.join(self.dir, "metadata")

    def fresh_walk(self) -> list:
        from hadoop_sync_spark.iceberg_meta import IcebergTable

        return [f.path for f in IcebergTable(self.dir).files()]


class LakehouseDML:
    name = "lakehouse_dml"
    #: seconds per cycle on a 4-core box: ``--seconds 6`` is one cycle
    cycle_s = 11.5

    def __init__(self, ctx):
        self.ctx = ctx
        #: table size and per-cycle batch sizes scale with ``--sf``: at
        #: sf0.1, 60k-row tables and a 2k-row append.  Most of a face's
        #: time is its Spark jobs' fixed cost: 600k-row tables made a
        #: cycle take 34 s instead of 11.5 s
        self.rows = max(8_000, int(600_000 * ctx.sf))
        self.append_rows = max(100, self.rows // 30)
        self.update_rows = max(50, self.rows // 60)
        self.delete_rows = max(50, self.rows // 120)
        self.merge_rows = max(100, self.rows // 60)
        self.now_ms = 10

    def setup(self) -> None:
        from hadoop_sync_spark.registry import Registry

        ctx = self.ctx
        self.model = Model(self.rows)
        edges = np.linspace(0, self.rows, FILES + 1).astype(int)
        bounds = list(zip(edges[:-1], edges[1:]))
        self.formats = []
        for cls in (_Delta, _Iceberg):
            d = os.path.join(ctx.scratch, cls.fmt)
            os.makedirs(d)
            f = cls(d)
            f.create(bounds)
            self.formats.append(f)
        self.reg = Registry(ctx.spark, os.path.join(ctx.scratch, "catalog"))
        self.reg.register_delta("delta", self.formats[0].dir)
        self.reg.register_iceberg("iceberg", self.formats[1].dir)
        for f in self.formats:
            res = self.reg.sync(f.fmt)
            ctx.check(None, res.added == FILES, f"{f.fmt}: initial sync")

    def warm_up(self) -> None:
        """A snapshot read of each format: the session's first Spark jobs
        pay for most of its JIT and code generation (the first face of a
        cold cycle took 8.8 s instead of 1.9 s).  A whole cycle would
        take as long as the timed one; the other faces' first calls
        stay in it."""
        from pyspark.sql import functions as F

        for f in self.formats:
            f.read(self.ctx.spark).agg(
                F.count("*"), F.sum("k"), F.sum("v")).collect()

    def _tick(self) -> int:
        self.now_ms += 10
        return self.now_ms

    def cycle(self) -> None:
        ctx, rng, m = self.ctx, self.ctx.rng, self.model
        spark = ctx.spark
        base = m.next_key
        a_lo, a_hi = base, base + self.append_rows
        # disjoint update and delete ranges anywhere in the key space
        U, D = self.update_rows, self.delete_rows
        x, y = sorted(int(i) for i in rng.integers(0, a_hi - U - D, 2))
        if rng.integers(0, 2):
            u_lo, d_lo = x, y + U
        else:
            d_lo, u_lo = x, y + D
        g_lo = a_hi - self.merge_rows // 2
        g_hi = g_lo + self.merge_rows

        exp_changes = m.append(a_lo, a_hi)
        n_upd = m.update(u_lo, u_lo + U)
        n_del = m.delete(d_lo, d_lo + D)
        matched, n_src = m.merge(g_lo, g_hi)
        expected = m.snapshot()
        # both formats report an update as a delete + insert per row and
        # a merge as its matched deletes + every source row inserted
        exp_changes += 2 * n_upd + n_del + matched + n_src

        for f in self.formats:
            self._cycle_format(f, spark, (a_lo, a_hi), (u_lo, n_upd),
                               (d_lo, n_del), (g_lo, g_hi), expected,
                               exp_changes)
        if ctx.timed and "space_amp" not in ctx.extra:
            with ctx.aside():
                ctx.extra["space_amp"] = self._space_amp()

    def _cycle_format(self, f, spark, app, upd, dele, mrg, expected,
                      exp_changes) -> None:
        from pyspark.sql import functions as F

        ctx, tr, L = self.ctx, self.ctx.tracer, f.layer
        U, D = self.update_rows, self.delete_rows
        traced = ctx.tracing and ctx.timed
        if traced:
            with ctx.aside(), tr.span(f"{L}.walk", probe=True):
                f.fresh_walk()
            meta0 = du(f.metadata_dir())
        start = f.position()
        rel = ("data/" if f.fmt == "iceberg" else "") + f"app-{app[0]}.parquet"
        _kv_file(os.path.join(f.dir, rel), *app)

        faces = (
            ("append", lambda: f.append(rel, app[1] - app[0], self._tick()),
             app[1] - app[0]),
            ("update", lambda: f.update(spark, upd[0], upd[0] + U,
                                        self._tick()), upd[1]),
            ("delete", lambda: f.delete(spark, dele[0], dele[0] + D,
                                        self._tick()), dele[1]),
            ("merge", lambda: f.merge(
                spark,
                spark.range(*mrg).select(F.col("id").alias("k"),
                                         (F.col("id") + 7).alias("v")),
                self._tick()), mrg[1] - mrg[0]),
        )
        for kind, call, changed in faces:
            if traced:
                with ctx.aside():
                    before = set(f.fresh_walk())
            with ctx.op(kind, fmt=f.fmt) as rec:
                with tr.span(f"{L}.{kind}"):
                    got = call()
            if kind in ("update", "delete"):
                ctx.check(rec, got == changed,
                          f"{f.fmt} {kind}: {got} rows != model {changed}")
            if traced:
                with ctx.aside():
                    after = set(f.fresh_walk())
                    rec["span"]["files_added"] = len(after - before)
                    rec["span"]["files_removed"] = len(before - after)
                    rec["span"]["rows_changed"] = changed
            ctx.finish_op(rec)

        with ctx.op("snapshot_read", fmt=f.fmt) as rec:
            with tr.span(f"{L}.read"):
                row = f.read(spark).agg(
                    F.count("*"), F.sum("k"), F.sum("v")).collect()[0]
        ctx.check(rec, tuple(int(x or 0) for x in row) == expected,
                  f"{f.fmt} snapshot {tuple(row)} != model {expected}")
        ctx.finish_op(rec)

        with ctx.op("cdc_read", fmt=f.fmt) as rec:
            with tr.span(f"{L}.changes"):
                n = f.changes(spark, start).count()
        ctx.check(rec, n == exp_changes,
                  f"{f.fmt} CDC rows {n} != model {exp_changes}")
        ctx.finish_op(rec)
        if traced:
            with ctx.aside(), tr.span("cdc_source.plan", probe=True) as sp:
                reader = f.cdc_reader(start)
                parts = reader.partitions(reader.initialOffset(),
                                          reader.latestOffset())
            sp["partitions"] = len(parts)

        with ctx.op("sync", fmt=f.fmt) as rec:
            res = self.reg.sync(f.fmt)
        ctx.check(rec, not res.noop, f"{f.fmt} sync published nothing")
        ctx.finish_op(rec)

        with ctx.op("compact", fmt=f.fmt) as rec:
            f.compact(spark, self._tick(), tr)
            self._tick()
        ctx.finish_op(rec)
        if traced:
            rec["span"]["metadata_bytes"] = du(f.metadata_dir()) - meta0

    def _space_amp(self) -> float:
        on_disk = du(os.path.join(self.ctx.scratch, "catalog"))
        live = 0
        for f in self.formats:
            on_disk += du(f.dir)
            live += sum(os.path.getsize(p if os.path.isabs(p)
                                        else os.path.join(f.dir, p))
                        for p in f.fresh_walk())
        return on_disk / live
