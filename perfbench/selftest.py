"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py

Checks that every metric BENCHMARK.json names is printed, on its own line
and in the result JSON, with its unit, for both workloads with tracing off
and on, and that no time reads exactly 0 (an unmeasured layer); that a
planted wrong expected count is reported as a failed operation; and that a
directory holding only BENCHMARK.json and the benchmark (no package to
measure) exits non-zero without a result.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import common

TINY = ["--n-traces", "1000", "--seconds", "1"]


def bench_run(cwd: str, *args: str) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=300,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def check_metrics(lines: list[str], want: list[dict]) -> dict:
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert {m["name"] for m in want} == set(res["metrics"]), sorted(res["metrics"])
    for m in want:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m, got)
        assert math.isfinite(got["value"]), (m, got)
        assert any(
            line.split()[:1] == [m["name"]] and line.split()[-1] == m["unit"]
            for line in lines[:-1]
        ), f"no printed line for {m['name']}"
    return res


def main() -> int:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for wl in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, lines = bench_run(common.ROOT, "--workload", wl["name"], "--seed", "3",
                                  "--trace", str(trace), *TINY)
            assert rc == 0, (wl["name"], trace, rc)
            res = check_metrics(lines, spec[key])
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            unmeasured = [k for k, m in res["metrics"].items()
                          if m["unit"] in ("s", "ms") and m["value"] == 0]
            assert not unmeasured, f"times never measured: {unmeasured}"
            print(f"ok: {wl['name']} --trace {trace}: {len(spec[key])} metrics")

    rc, lines = bench_run(common.ROOT, "--workload", "rule_update", "--seed", "3",
                          "--trace", "0", "--plant-wrong-count", *TINY)
    res = json.loads(lines[-1])
    assert rc == 0 and not res["correct"] and res["failed"] == res["attempted"] >= 1, res
    print(f"ok: planted wrong count -> {res['failed']}/{res['attempted']} failed")

    bare = os.path.join(common.WORK_ROOT, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(common.BENCH_DIR, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".cache", ".work", "__pycache__"))
        shutil.copy(os.path.join(common.ROOT, "BENCHMARK.json"), bare)
        rc, lines = bench_run(bare, "--workload", "uniform", "--seed", "3",
                              "--trace", "0", *TINY)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert rc != 0 and not any(line.startswith("{") for line in lines), (rc, lines)
    print(f"ok: without the package the benchmark exits {rc} and prints no result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
