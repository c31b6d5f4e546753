"""``analytics``: passes over the query bench's 17 headline queries.

One cycle is one pass in seed-shuffled order; one op is ``fn()`` +
``collect()`` of one query.  Set-up generates the tables, computes each
query's DuckDB oracle result, and warms up with one pass over tables a
hundredth the size.  Every timed result must match its oracle under the
parity suite's rules: the same column set, and the same canonical rows
in any order.

Traced runs split each query into layers: ``queries.build`` (``fn()``,
including eager jobs it launches), then the two halves of ``collect()``:
``spark.execute`` (optimize, plan, execute) and ``spark.convert`` (rows
to Python).  Outside the op's timing they read the Catalyst phase times
of the collected plan, and the span's job times from Spark's status
store (``tracing.Tracer.attach_spark_counters``).
"""

from __future__ import annotations

import os

import duckdb

import datagen

#: the query bench's headline set (``bench.py`` HEADLINE), fixed here so
#: the workload does not change if that list does
HEADLINE = (
    "q01_pricing_summary",
    "q03_top_unshipped_orders",
    "q05_order_count_distribution",
    "q08_late_shipments",
    "q09_distinct_counts",
    "q12_top_orders_per_customer",
    "q21_regional_revenue",
    "q40_tumbling_window",
    "q42_session_windows",
    "q51_fingerprint_groups",
    "q57_bpe_pretokens",
    "q60_exact_dedup",
    "q63_minhash_lsh_pairs",
    "q70_cosine_topk",
    "q73_stratified_sample",
    "q75_gap_fill_locf",
    "q84_disjunctive_join_revenue",
)

#: the tables are the same for every seed; the seed orders the queries
DATA_SEED = 42
PHASES = ("analysis", "optimization", "planning")


def canon(columns, rows) -> list[str]:
    """Order-insensitive canonical rows: columns sorted by name, cells
    through the parity suite's ``canon_cell``."""
    from tests.conftest import canon_cell

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(
        "|".join(canon_cell(r[i]) for i in order) for r in rows
    )


class Analytics:
    name = "analytics"
    #: seconds per pass on a 4-core box: ``--seconds 6`` is one pass
    cycle_s = 13.0

    def __init__(self, ctx):
        self.ctx = ctx
        self.data = os.path.join(ctx.scratch, "tables")
        self.small = os.path.join(ctx.scratch, "small")
        #: per query: the oracle's column names and canonical rows
        self.expected: dict[str, tuple[list[str], list[str]]] = {}

    def setup(self) -> None:
        from hadoop_sync_spark.io import TABLES, table_path
        from hadoop_sync_spark.queries import load_all

        datagen.generate(self.data, self.ctx.sf, DATA_SEED)
        datagen.generate(self.small, self.ctx.sf / 100, DATA_SEED)
        self.queries = load_all()
        con = duckdb.connect()
        for t in TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{table_path(self.data, t)}')"
            )
        for name in HEADLINE:
            rel = con.sql(self.queries[name].oracle)
            self.expected[name] = (sorted(rel.columns),
                                   canon(rel.columns, rel.fetchall()))
        con.close()

    def warm_up(self) -> None:
        """One pass over tables a hundredth the size: the first run of
        each query pays for JIT, code generation and Python worker start
        whatever the data size, and a pass over the full tables would
        double the set-up."""
        for name in HEADLINE:
            self.queries[name].fn(self.ctx.spark, self.small).collect()

    def cycle(self) -> None:
        ctx, tr = self.ctx, self.ctx.tracer
        for name in ctx.rng.permutation(HEADLINE):
            fn = self.queries[name].fn
            with ctx.op("query", query=name) as rec:
                with tr.span("queries.build"):
                    df = fn(ctx.spark, self.data)
                rows = collect(df, tr)
            with ctx.aside():
                columns, oracle = self.expected[name]
                ctx.check(rec, sorted(df.columns) == columns
                          and canon(df.columns, rows) == oracle,
                          f"{name}: result != DuckDB oracle")
                if ctx.tracing and ctx.timed:
                    self._probe(rec, df, rows)
            ctx.finish_op(rec)

    def _probe(self, rec, df, rows) -> None:
        """Trace-only: the Catalyst phase times of the collected plan."""
        spans = {s["name"]: s for s in self.ctx.tracer.op_spans(rec["id"])}
        phases = df._jdf.queryExecution().tracker().phases()
        for p in PHASES:
            opt = phases.get(p)
            spans["spark.execute"][f"{p}_ms"] = (
                opt.get().durationMs() if opt.isDefined() else 0
            )
        spans["spark.convert"]["result_rows"] = len(rows)


def collect(df, tracer):
    """``df.collect()`` as PySpark classic runs it, in its two halves:
    ``collectToPython`` optimizes, plans and executes the query and
    gathers the result rows in the JVM; reading the socket pickles them
    there and builds the Python rows."""
    from pyspark.serializers import BatchedSerializer, CPickleSerializer
    from pyspark.sql.classic.dataframe import _load_from_socket

    with tracer.span("spark.execute"):
        sock_info = df._jdf.collectToPython()
    with tracer.span("spark.convert"):
        return list(_load_from_socket(
            sock_info, BatchedSerializer(CPickleSerializer())))
