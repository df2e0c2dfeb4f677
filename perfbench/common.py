"""Shared set-up for the benchmark processes: process environment, Spark
session, sampler configs, seeded datasets and the resident-memory sampler.

``prepare_env`` must run before the first Spark session starts, because the
JVM and its Python workers inherit the environment it sets.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(BENCH_DIR, ".cache")
WORK_ROOT = os.path.join(BENCH_DIR, ".work")
# Generated datasets kept between runs; older ones are evicted first.
CACHE_KEEP = 12
# Spark driver heap (SPARK_DRIVER_MEMORY). The package default of 16g exceeds the
# RAM of small machines; 2g holds these inputs with room for the workers.
DRIVER_MEMORY = "2g"
# JVM temporary files inside the work dir, and no hsperfdata files outside it.
JVM_OPTS = "-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"

# The flagship operating point (the same as the frozen harness's entry
# config): error 0.8, latency > 4 s at 1.0, more than 100 spans.
ENTRY_CFG = {"error_rate": 0.8, "latency_ms": 4000, "latency_rate": 1.0,
             "max_spans": 100}
# rule_update sweeps these distinct configs through the silver table.
SWEEP_CFGS = [
    ENTRY_CFG,
    {"error_rate": 0.5, "latency_ms": 3000, "latency_rate": 1.0, "max_spans": 100},
    {"error_rate": 0.3, "latency_ms": 8000, "latency_rate": 0.5, "max_spans": 4},
    {"error_rate": 1.0, "latency_ms": 6000, "latency_rate": 0.7, "max_spans": 100},
]


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Make Python workers import the package from this checkout, keep every
    temporary file under ``work`` and size the Spark driver heap."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVM that spark-submit runs to build the Spark driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = JVM_OPTS.format(work=work)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY


def start_session(work: str, cores: int, ui: bool = False):
    from otel_tail_sampler_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": JVM_OPTS.format(work=work),
            "spark.ui.enabled": "true" if ui else "false",
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def sampler_config(cfg: dict):
    from otel_tail_sampler_spark.operators.policies import (
        CardinalityPolicy,
        ErrorPolicy,
        LatencyPolicy,
        SamplerConfig,
    )

    return SamplerConfig(
        error=ErrorPolicy(sample_rate=cfg["error_rate"]),
        latency=LatencyPolicy(threshold_ms=cfg["latency_ms"],
                              sample_rate=cfg["latency_rate"]),
        cardinality=CardinalityPolicy(max_span_count=cfg["max_spans"]),
        rate_limit_per_key=None,
    )


def dataset(spec) -> tuple[dict, str]:
    """Generate (or reuse) the dataset of ``spec``; returns its paths and
    its directory, which also holds the oracle's cached expected counts."""
    from otel_tail_sampler_spark.sources.generator import generate_dataset

    os.makedirs(CACHE_DIR, exist_ok=True)
    d = os.path.join(CACHE_DIR, spec.tag())
    old = sorted(
        (os.path.join(CACHE_DIR, x) for x in os.listdir(CACHE_DIR)),
        key=os.path.getmtime,
    )
    for stale in [x for x in old if x != d][: max(0, len(old) - CACHE_KEEP)]:
        shutil.rmtree(stale, ignore_errors=True)
    paths = generate_dataset(spec, d)
    os.utime(d)
    return paths, d


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path) for f in fs
    )


class RssSampler:
    """Peak summed resident memory of this process's descendants (the
    Spark driver JVM and its Python workers), read from /proc while active."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_kb = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _descendants(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [os.getpid()]
        while todo:
            for c in children.get(todo.pop(), []):
                out.append(c)
                todo.append(c)
        return out

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.wait(0.2):
                total = sum(self._rss_kb(p) for p in self._descendants())
                self.peak_kb = max(self.peak_kb, total)
                time.sleep(self.period_s)

    def active(self, on: bool) -> None:
        (self._on.set if on else self._on.clear)()

    def close(self) -> None:
        self._stop.set()
        self._on.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
