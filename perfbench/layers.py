"""Per-layer metrics of a traced run, computed from its spans.

A traced run prints every metric in :data:`UNITS` (BENCHMARK.json
``per_layer``).  Times are seconds per call (mean), counts are per call
or per op (mean) unless the name says otherwise.  A layer the workload
does not touch reads 0: that is the prediction for it on that workload,
not a gap.
"""

from __future__ import annotations

from harness import mean, p50
from tracing import SPARK_COUNTERS, spark_total, subtree

FACES = {
    "delta_log": ("append", "update", "delete", "merge", "read", "changes",
                  "compact", "checkpoint"),
    "iceberg_meta": ("append", "update", "delete", "merge", "read",
                     "changes", "compact", "remove_dangling"),
}
DML_FACES = ("update", "delete", "merge")

UNITS: dict[str, str] = {
    "session.start_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "spark.analysis_ms": "ms",
    "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms",
    "spark.exec_s": "s",
    "spark.collect_s": "s",
    "spark.result_rows": "count",
    **{f"spark.{c}": ("B" if c.endswith("bytes") else "count")
       for c in SPARK_COUNTERS},
    "registry.diff_s": "s",
    "registry.files_listed": "count",
    "registry.files_new": "count",
    "registry.files_removed": "count",
    "registry.noop_s": "s",
    "registry.apply_s": "s",
    "registry.stats_jobs": "count",
    "registry.publish_bytes": "B",
    "registry.catalog_shards": "count",
    "registry.prune_s": "s",
    "registry.files_kept": "count",
    "registry.prune_keep_ratio": "ratio",
    "registry.read_s": "s",
    "delta_log.replay_s": "s",
    "iceberg_meta.walk_s": "s",
    **{f"{layer}.{face}_{suffix}": ("s" if suffix == "s" else "count")
       for layer, faces in FACES.items() for face in faces
       for suffix in ("s", "jobs")},
    "delta_log.commit_bytes": "B",
    "iceberg_meta.metadata_bytes": "B",
    **{f"{layer}.{m}": ("ratio" if m.startswith("rows") else "count")
       for layer in FACES
       for m in ("files_added", "files_removed",
                 "rows_read_per_row_changed")},
    "cdc_source.plan_s": "s",
    "cdc_source.partitions": "count",
    "proc.driver_rss_mb": "MB",
    "proc.jvm_rss_mb": "MB",
    "trace.op_p50_s": "s",
    "trace.unaccounted_p50": "ratio",
    "trace.unaccounted_max": "ratio",
}


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def per_layer(spans, ops, session_start_s, drv_mb, jvm_mb) -> dict:
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        if s["timed"]:
            by_name.setdefault(s["name"], []).append(s)

    def named(name):
        return by_name.get(name, [])

    def mean_dur(name):
        return mean(_dur(s) for s in named(name))

    def mean_attr(name, key):
        return mean(s[key] for s in named(name) if key in s)

    def mean_jobs(name):
        return mean(spark_total(subtree(spans, s), "jobs")
                    for s in named(name))

    op_spans = [o["span"] for o in ops]
    out = {"session.start_s": session_start_s}

    # query layer and Spark: analytics ops
    out["queries.build_s"] = mean_dur("queries.build")
    out["queries.build_jobs"] = mean_jobs("queries.build")
    for p in ("analysis", "optimization", "planning"):
        out[f"spark.{p}_ms"] = mean_attr("spark.execute", f"{p}_ms")
    queries = [_query_parts(spans, o) for o in ops if o["kind"] == "query"]
    out["spark.exec_s"] = mean(q["exec"] for q in queries)
    out["spark.collect_s"] = mean_dur("spark.convert")
    out["spark.result_rows"] = mean_attr("spark.convert", "result_rows")
    # Spark counters per op, over the op's own spans (not trace probes)
    for c in SPARK_COUNTERS:
        out[f"spark.{c}"] = mean(
            spark_total(subtree(spans, s), c) for s in op_spans)

    # registry
    out["registry.diff_s"] = mean_dur("registry.diff")
    for k in ("files_listed", "files_new", "files_removed"):
        out[f"registry.{k}"] = mean_attr("registry.diff", k)
    out["registry.noop_s"] = mean_dur("noop_sync")
    out["registry.apply_s"] = (
        mean_dur("sync") - out["registry.diff_s"]
        if named("registry.diff") else 0.0)
    out["registry.stats_jobs"] = (
        mean_jobs("sync") if named("registry.diff") else 0.0)
    out["registry.publish_bytes"] = mean_attr("sync", "publish_bytes")
    out["registry.catalog_shards"] = mean_attr("sync", "catalog_shards")
    out["registry.prune_s"] = mean_dur("registry.prune")
    out["registry.files_kept"] = mean_attr("registry.prune", "files_kept")
    out["registry.prune_keep_ratio"] = mean(
        s["files_kept"] / s["files_total"] for s in named("registry.prune"))
    out["registry.read_s"] = mean_dur("registry.read")

    # open formats
    out["delta_log.replay_s"] = mean_dur("delta_log.walk")
    out["iceberg_meta.walk_s"] = mean_dur("iceberg_meta.walk")
    for layer, faces in FACES.items():
        for face in faces:
            out[f"{layer}.{face}_s"] = mean_dur(f"{layer}.{face}")
            out[f"{layer}.{face}_jobs"] = mean_jobs(f"{layer}.{face}")
        fmt = "delta" if layer == "delta_log" else "iceberg"
        fmt_ops = [s for s in op_spans if s.get("fmt") == fmt]
        cycles = max(1, sum(1 for s in fmt_ops if s["name"] == "compact"))
        for k in ("files_added", "files_removed"):
            out[f"{layer}.{k}"] = sum(s.get(k, 0) for s in fmt_ops) / cycles
        dml = [s for s in fmt_ops if s["name"] in DML_FACES]
        changed = sum(s.get("rows_changed", 0) for s in dml)
        read = sum(spark_total(subtree(spans, s), "input_records")
                   for s in dml)
        out[f"{layer}.rows_read_per_row_changed"] = (
            read / changed if changed else 0.0)
    out["delta_log.commit_bytes"] = mean(
        s["metadata_bytes"] for s in op_spans
        if s.get("fmt") == "delta" and "metadata_bytes" in s)
    out["iceberg_meta.metadata_bytes"] = mean(
        s["metadata_bytes"] for s in op_spans
        if s.get("fmt") == "iceberg" and "metadata_bytes" in s)
    out["cdc_source.plan_s"] = mean_dur("cdc_source.plan")
    out["cdc_source.partitions"] = mean_attr("cdc_source.plan", "partitions")

    out["proc.driver_rss_mb"] = drv_mb
    out["proc.jvm_rss_mb"] = jvm_mb
    out["trace.op_p50_s"] = p50([o["dt"] for o in ops])
    unaccounted = [1.0 - q["accounted"] / q["wall"] for q in queries]
    out["trace.unaccounted_p50"] = p50(unaccounted)
    out["trace.unaccounted_max"] = max(map(abs, unaccounted), default=0.0)
    missing = UNITS.keys() - out.keys()
    assert not missing, missing
    return out


def _query_parts(spans, op) -> dict:
    """One analytics query's layers, each measured on its own: the build
    (``fn()``, analysis included) by the benchmark's clock, the Catalyst
    optimization and planning phases by Spark's query tracker, the
    execution as the wall time covered by the query's jobs by Spark's
    status store, and the conversion of the rows to Python by the
    benchmark's clock.  What they leave of the op's wall is driver time
    none of them sees (scheduling, re-planning between adaptive stages)."""
    parts = {s["name"]: s for s in spans if s["op"] == op["id"]}
    execute = parts["spark.execute"]
    phases = sum(execute.get(f"{p}_ms", 0)
                 for p in ("optimization", "planning")) / 1000.0
    exec_s = execute["job_s"]
    accounted = (_dur(parts["queries.build"]) + phases + exec_s
                 + _dur(parts["spark.convert"]))
    return {"exec": exec_s, "accounted": accounted, "wall": op["dt"]}
