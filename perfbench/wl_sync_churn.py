"""``sync_churn``: the reference's own job — incremental diff-sync with
min/max stats, and the pruned read the stats pay for.

Set-up range-partitions lineitem on ``l_shipdate`` into a pool of small
files, lands a seeded subset in the table directory, registers it and
syncs with stats.  One cycle deletes 4 synced files, lands 8 pool files
(as new copies), then runs three ops: ``sync(fetch_min_max=True)``, an
immediate re-sync that must be a no-op, and ``read_pruned`` over a
seeded 3-month range + ``count()``.

Checks: the catalog's shard set equals the live listing after each sync,
the re-sync returns ``noop=True``, and each pruned count equals a DuckDB
count over the live files.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
from harness import du

TABLE = "lineitem"
POOL_FILES = 480
LIVE_FILES = 400
LAND, LEAVE = 8, 4
DATA_SEED = 42
#: l_shipdate spans 1995-01-02 .. 2001-11-04
_FIRST_MONTH = np.datetime64("1995-01", "M")
_MONTHS = 80


class SyncChurn:
    name = "sync_churn"
    #: seconds per cycle on a 4-core box: ``--seconds 6`` is 9 cycles
    cycle_s = 0.7

    def __init__(self, ctx):
        self.ctx = ctx
        self.pool = os.path.join(ctx.scratch, "pool")
        self.table_dir = os.path.join(ctx.scratch, "table")
        self.meta = os.path.join(ctx.scratch, "catalog")
        self.live: list[str] = []
        self.landed = 0

    def setup(self) -> None:
        from hadoop_sync_spark.registry import Registry

        ctx = self.ctx
        gen = os.path.join(ctx.scratch, "gen")
        datagen.generate(gen, ctx.sf, DATA_SEED)
        li = pq.read_table(os.path.join(gen, "lineitem.parquet"))
        li = li.take(pc.sort_indices(li, [("l_shipdate", "ascending")]))
        shutil.rmtree(gen)
        os.makedirs(self.pool)
        os.makedirs(self.table_dir)
        bounds = np.linspace(0, li.num_rows, POOL_FILES + 1).astype(int)
        self.pool_files = []
        for i in range(POOL_FILES):
            p = os.path.join(self.pool, f"slice-{i:04d}.parquet")
            pq.write_table(li.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
            self.pool_files.append(p)
        for i in ctx.rng.choice(POOL_FILES, LIVE_FILES, replace=False):
            self._land(int(i))
        self.reg = Registry(ctx.spark, self.meta)
        self.reg.register(TABLE, self.table_dir, partition_column="l_shipdate")
        res = self.reg.sync(TABLE, fetch_min_max=True)
        ctx.check(None, res.added == LIVE_FILES and self._catalog_matches(),
                  "initial sync: catalog != live listing")
        self.duck = duckdb.connect()

    def warm_up(self) -> None:
        """Three cycles: op times still fell over the first cycles after
        one."""
        for _ in range(3):
            self.cycle()

    def _land(self, pool_index: int) -> None:
        dst = os.path.join(self.table_dir, f"part-{self.landed:06d}.parquet")
        shutil.copyfile(self.pool_files[pool_index], dst)
        self.live.append(dst)
        self.landed += 1

    def _catalog_matches(self) -> bool:
        return {s["path"] for s in self.reg.shards(TABLE)} == set(self.live)

    def _duck_count(self, lo: str, hi: str) -> int:
        files = ", ".join(f"'{p}'" for p in self.live)
        return self.duck.sql(
            f"SELECT count(*) FROM read_parquet([{files}]) "
            f"WHERE l_shipdate >= TIMESTAMP '{lo}' "
            f"AND l_shipdate < TIMESTAMP '{hi}'"
        ).fetchone()[0]

    def cycle(self) -> None:
        from pyspark.sql import functions as F

        ctx, tr, reg = self.ctx, self.ctx.tracer, self.reg
        rng = ctx.rng
        # files leave from the synced set, then new ones land
        for i in sorted(rng.choice(len(self.live), LEAVE, replace=False),
                        reverse=True):
            os.remove(self.live.pop(int(i)))
        for i in rng.choice(POOL_FILES, LAND, replace=False):
            self._land(int(i))
        start = _FIRST_MONTH + int(rng.integers(0, _MONTHS - 3))
        lo = f"{start.astype('datetime64[D]')} 00:00:00"
        hi = f"{(start + 3).astype('datetime64[D]')} 00:00:00"

        if ctx.tracing and ctx.timed:
            self._probe_diff()
        with ctx.op("sync") as rec:
            res = reg.sync(TABLE, fetch_min_max=True)
        with ctx.aside():
            ctx.check(rec, res.added == LAND and res.removed == LEAVE
                      and self._catalog_matches(),
                      f"sync v{res.version}: catalog != live listing")
            if ctx.tracing and ctx.timed:
                rec["span"]["publish_bytes"] = du(
                    reg._version_dir(res.version))
                rec["span"]["catalog_shards"] = len(reg.shards(TABLE))
        ctx.finish_op(rec)

        with ctx.op("noop_sync") as rec:
            res = reg.sync(TABLE, fetch_min_max=True)
        ctx.check(rec, res.noop, "re-sync was not a no-op")
        ctx.finish_op(rec)

        if ctx.tracing and ctx.timed:
            self._probe_prune(lo, hi)
        pred = (
            (F.col("l_shipdate") >= F.lit(lo).cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit(hi).cast("timestamp_ntz"))
        )
        with ctx.op("pruned_read") as rec:
            with tr.span("registry.read"):
                df = reg.read_pruned(TABLE, lo, hi)
            n = df.filter(pred).count()
        with ctx.aside():
            ctx.check(rec, n == self._duck_count(lo, hi),
                      f"pruned count over [{lo}, {hi}) != DuckDB count")
        ctx.finish_op(rec)

        if ctx.timed and "space_amp" not in ctx.extra:
            with ctx.aside():
                live_bytes = sum(os.path.getsize(p) for p in self.live)
                ctx.extra["space_amp"] = (
                    du(self.table_dir) + du(self.meta)) / live_bytes

    def _probe_diff(self) -> None:
        """Trace-only: the diff the next sync will apply, as its own call."""
        tr = self.ctx.tracer
        with self.ctx.aside(), tr.span("registry.diff", probe=True) as sp:
            d = self.reg.diff(TABLE)
        sp["files_listed"] = len(d.new_files) + len(d.unchanged)
        sp["files_new"] = len(d.new_files)
        sp["files_removed"] = len(d.old_files)

    def _probe_prune(self, lo: str, hi: str) -> None:
        """Trace-only: shard pruning as its own call."""
        tr = self.ctx.tracer
        with self.ctx.aside(), tr.span("registry.prune", probe=True) as sp:
            kept = self.reg.prune_files(TABLE, lo, hi)
        sp["files_kept"] = len(kept)
        sp["files_total"] = len(self.live)
