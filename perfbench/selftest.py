#!/usr/bin/env python3
"""Self-test of the benchmark: tiny runs (``--sf 0.001``, one cycle) of
every workload.

For each workload it checks that

1. an untraced run prints every end-to-end metric with its unit and
   passes all its correctness checks;
2. a traced run prints every per-layer metric with its unit, and a run
   whose expected value was deliberately made wrong counts the failure
   (``correct`` false, ``failed`` > 0), so the checks cannot pass
   vacuously.  Both happen in one run: the traced run is the one given
   a wrong expected value.

    python3 perfbench/selftest.py [workload ...]

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: per workload: a patch, applied in the benchmark process before it
#: runs, that makes one expected value wrong
WRONG_EXPECTED = {
    "analytics": (
        "import wl_analytics as m\n"
        "orig = m.Analytics.setup\n"
        "def setup(self):\n"
        "    orig(self)\n"
        "    columns, rows = self.expected[m.HEADLINE[0]]\n"
        "    self.expected[m.HEADLINE[0]] = (columns, rows[1:])\n"
        "m.Analytics.setup = setup\n"
    ),
    "sync_churn": (
        "import wl_sync_churn as m\n"
        "orig = m.SyncChurn._duck_count\n"
        "m.SyncChurn._duck_count = (\n"
        "    lambda self, lo, hi: orig(self, lo, hi) + 1)\n"
    ),
    "lakehouse_dml": (
        "import wl_lakehouse as m\n"
        "orig = m.Model.snapshot\n"
        "def snapshot(self):\n"
        "    n, k, v = orig(self)\n"
        "    return n + 1, k, v\n"
        "m.Model.snapshot = snapshot\n"
    ),
}


def _run(workload: str, trace: int, patch: str = "") -> dict:
    code = (
        f"import sys\nsys.path[:0] = [{HERE!r}]\n{patch}"
        "import run\n"
        f"sys.exit(run.main(['--workload', {workload!r}, '--seed', '7', "
        f"'--seconds', '1', '--trace', '{trace}', '--sf', '0.001', "
        "'--cycles', '1']))\n"
    )
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise AssertionError(
            f"{workload} trace={trace}: exit {p.returncode}\n"
            f"{p.stderr[-3000:]}")
    return json.loads(lines[-1])


def _check_metrics(result: dict, expected: dict, what: str) -> None:
    got = result["metrics"]
    missing = sorted(expected.keys() - got.keys())
    extra = sorted(got.keys() - expected.keys())
    assert not missing and not extra, (
        f"{what}: missing {missing}, extra {extra}")
    for name, unit in expected.items():
        m = got[name]
        assert m["unit"] == unit, f"{what}: {name} unit {m['unit']} != {unit}"
        assert isinstance(m["value"], (int, float)), f"{what}: {name} value"


def selftest(workload: str) -> None:
    sys.path[:0] = [ROOT, HERE]
    import layers
    import run

    clean = _run(workload, 0)
    _check_metrics(clean, run.END_TO_END, f"{workload} trace=0")
    assert clean["correct"] and clean["failed"] == 0, (
        f"{workload}: checks failed on a clean run: {clean}")
    assert clean["attempted"] >= 1
    for name in run.END_TO_END:
        assert clean["metrics"][name]["value"] > 0, f"{workload}: {name} is 0"

    wrong = _run(workload, 1, WRONG_EXPECTED[workload])
    _check_metrics(wrong, layers.UNITS,
                   f"{workload} trace=1")
    assert not wrong["correct"] and wrong["failed"] > 0, (
        f"{workload}: a wrong expected value was not counted: {wrong}")
    print(f"{workload}: ok (clean {clean['attempted']} attempted, "
          f"wrong-expected run failed {wrong['failed']}/{wrong['attempted']})",
          flush=True)


def check_benchmark_json() -> None:
    """BENCHMARK.json lists exactly the metrics the runs print."""
    sys.path[:0] = [ROOT, HERE]
    import layers
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == list(layers.UNITS)
    for m in spec["per_layer"]:
        assert m["unit"] == layers.UNITS[m["name"]], m
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    print("BENCHMARK.json: ok", flush=True)


def main(argv: list[str]) -> int:
    check_benchmark_json()
    for workload in argv or list(WRONG_EXPECTED):
        selftest(workload)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
