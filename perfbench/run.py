#!/usr/bin/env python3
"""Benchmark entry point: one process, one client, closed loop, on
``local[N]`` with N = the CPUs this process may use.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10

Workloads: ``analytics``, ``sync_churn``, ``lakehouse_dml`` (see
perfbench/README.md).  Set-up (session start, seeded input generation,
warm-up) runs first; then a fixed number of whole cycles of the workload:
``--seconds`` over the workload's nominal cycle length on a 4-core box,
so a faster build does the same work in less time, not more work.  The last line on stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics (from spans around the
benchmark's calls into each layer) with ``--trace 1``.  The line before
it is the full report: environment, load average, every workload metric
and any check that failed.  Reports and span files go to ``.perfbench/``
under the checkout; scratch data goes to a directory there that is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("analytics", "sync_churn", "lakehouse_dml")

#: end-to-end metrics printed with --trace 0 (BENCHMARK.json): the ones
#: every workload has.  Per-kind medians, space_amp and fail_ratio go
#: into the report line.
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "mem_mb": "MB",
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1,
                    help="input scale (lineitem = 6M x sf rows)")
    ap.add_argument("--cycles", type=int, default=0,
                    help="run this many cycles instead (self-test)")
    return ap.parse_args(argv)


def _prepare_environment(scratch: str) -> None:
    """Everything the session and its Python workers inherit: the
    checkout on PYTHONPATH (workers import the engine for UDFs), core
    count, and temp/local dirs inside the scratch dir."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included: temp files in the
    # scratch dir and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    import tempfile

    tempfile.tempdir = tmp


def _start_session(scratch: str):
    from hadoop_sync_spark.compat.protobuf_shim import ensure_protobuf
    from hadoop_sync_spark.session import get_spark

    ensure_protobuf()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            # a fixed-size heap: with a growable one, peak RSS followed GC
            # timing (a third apart between runs of the same code)
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.driver.extraJavaOptions":
                "-Xms2g -Dlog4j2.level=error",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop the context, then the JVM the gateway launched, and wait."""
    from py4j.protocol import Py4JError

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Py4JError:  # the gateway is already gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _workload(name: str, ctx):
    if name == "analytics":
        from wl_analytics import Analytics
        return Analytics(ctx)
    if name == "sync_churn":
        from wl_sync_churn import SyncChurn
        return SyncChurn(ctx)
    from wl_lakehouse import LakehouseDML
    return LakehouseDML(ctx)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hadoop_sync_spark",
                                       "__init__.py")):
        print(f"perfbench: no hadoop_sync_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    # a terminated run still removes its scratch dir and stops its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out_dir = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(out_dir, f"run-{os.getpid()}")
    os.makedirs(scratch)
    try:
        return _run(args, out_dir, scratch)
    finally:
        import harness

        harness.stop_children()
        shutil.rmtree(scratch, ignore_errors=True)


def _run(args, out_dir: str, scratch: str) -> int:
    import numpy as np

    import harness
    import layers
    from tracing import Tracer

    _prepare_environment(scratch)
    env = harness.environment(ROOT)
    load_before = harness.loadavg()
    steal_before = harness.steal_s()
    t0 = time.perf_counter()
    spark = _start_session(scratch)
    session_start_s = time.perf_counter() - t0
    tracer = Tracer(spark, enabled=bool(args.trace))
    ctx = harness.Context(spark, tracer, os.path.join(scratch, "data"),
                          np.random.default_rng(args.seed), args.sf)
    os.makedirs(ctx.scratch)
    wl = _workload(args.workload, ctx)
    error = None
    try:
        wl.setup()
        wl.warm_up()  # JIT, code generation, caches: untimed
        ctx.timed = True
        setup_s = harness.seconds_since_process_start()
        cycles = args.cycles or max(1, round(args.seconds / wl.cycle_s))
        start = time.perf_counter()
        cycle_s = []
        for _ in range(cycles):
            t_cycle = time.perf_counter()
            wl.cycle()
            cycle_s.append(time.perf_counter() - t_cycle)
        timed_s = time.perf_counter() - start
        live_mb = harness.live_heap_mb(spark)
    except Exception:  # noqa: BLE001 - report the failure, then exit
        error = traceback.format_exc()
        print(error, file=sys.stderr)
    finally:
        drv_mb, jvm_mb = harness.rss_peaks_mb()
        _stop_session(spark)
    load_after = harness.loadavg()
    steal = harness.steal_s() - steal_before

    ops = ctx.ops
    failed = sum(1 for o in ops if not o["ok"]) + ctx.setup_failed
    attempted = len(ops) + ctx.setup_checks
    if error is not None:
        attempted += 1
        failed += 1
    report = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "sf": args.sf,
        "env": env, "load_before": load_before, "load_after": load_after,
        "steal_s": steal,
        "failures": ctx.failures[:20], "error": error,
    }
    if error is None:
        durations = [o["dt"] for o in ops]
        tail, pct = harness.tail(durations)
        e2e = {
            "setup_s": setup_s,
            "ops_per_s": len(ops) / max(timed_s - ctx.aside_s, 1e-9),
            "op_p50_s": harness.p50(durations),
            "op_tail_s": tail,
            "mem_mb": drv_mb + live_mb,
        }
        report.update(
            cycles=cycles, cycle_s=cycle_s, ops=len(ops), op_tail_pct=pct,
            timed_s=timed_s, aside_s=ctx.aside_s,
            fail_ratio=failed / attempted,
            session_start_s=session_start_s, jvm_live_heap_mb=live_mb,
            peak_rss_mb=drv_mb + jvm_mb, **e2e,
        )
        for kind in {o["kind"] for o in ops}:  # sync_p50_s, merge_p50_s, ...
            report[f"{kind}_p50_s"] = harness.p50(
                [o["dt"] for o in ops if o["kind"] == kind])
        report.update(ctx.extra)
        if args.trace:
            per_layer = layers.per_layer(
                tracer.spans, ops, session_start_s, drv_mb, jvm_mb)
            report["per_layer"] = per_layer
            metrics = {k: {"value": per_layer[k], "unit": layers.UNITS[k]}
                       for k in layers.UNITS}
        else:
            metrics = {k: {"value": e2e[k], "unit": u}
                       for k, u in END_TO_END.items()}

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"ops-{tag}.jsonl"), "w") as fh:
        for o in ops:  # one record per timed op
            rec = {k: v for k, v in o.items() if k != "span"}
            fh.write(json.dumps(rec, sort_keys=True, default=str) + "\n")
    with open(os.path.join(out_dir, f"report-{tag}.json"), "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True, default=str)
    if args.trace:
        tracer.dump(os.path.join(out_dir, f"spans-{tag}.jsonl"))
    print(json.dumps(report, sort_keys=True, default=str))
    if error is not None:
        return 1
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
