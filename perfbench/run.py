"""Closed-loop benchmark of the bounded tail-sampling job.

    python3 perfbench/run.py --workload {uniform,rule_update} --seed N \
        --seconds S --trace {0,1}

One process, one client: each operation starts when the previous one has
finished, on ``local[<cpus>]``. Inputs come from
``generate_dataset(GenSpec(..., seed=N))``; the job only sees the generated
tables. Every operation is checked against the DuckDB oracle in
``oracle.py``; an operation that raises or mismatches counts as failed.

Workloads (why each was chosen is recorded in BENCHMARK.json):

* ``uniform``: ``plans.pipeline.run_and_write`` over 300k spans (60k
  traces of 5 spans) with the flagship config. Parse and route touch every
  row; the assembly exchange is small and even.
* ``rule_update``: the silver table of the same input is materialized
  during set-up; one operation sweeps four policy configs through
  ``plans.silver.redecide_from_silver`` and collects the decision counts.
  No parse, no route, no exchange.

Set-up starts the session (which launches the JVM), materializes silver
(``rule_update``) and runs the workload's checked warm-up operations;
``setup_s`` is its time, without the oracle checks. The timed window then
runs operations until ``--seconds`` of operation time and at least
``MIN_OPS`` operations have passed; ``spans_per_s`` is the input spans of one
operation over the median operation time.

``--trace 1`` runs the same set-up and window with the local UI on, then
``layers.py`` times each layer (see METRICS.md) and the per-layer metrics
are printed instead. The last stdout line is the result JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import common
import oracle

MIN_OPS = 2
# No timed operation starts after this much process time, so a slow host
# cannot push a run past its 180 s limit.
DEADLINE_S = 90.0
# Default input size: 60k traces x 5 spans = 300k spans in 8 files.
N_TRACES = 60_000


def planted(want: dict) -> dict:
    """A copy of ``want`` with one trace count off by one."""
    decisions = dict(want["decisions"])
    key = sorted(decisions)[0]
    decisions[key] += 1
    return {**want, "decisions": decisions}


class Uniform:
    name = "uniform"
    # set-up operations: the first compiles the job's code; after the second
    # the operation time is within a few percent of its settled value
    warmups = 2

    def __init__(self, paths: dict, data_dir: str, work: str, plant: bool):
        self.paths, self.work = paths, work
        self.cfg = common.sampler_config(common.ENTRY_CFG)
        self.want = oracle.expected_counts(paths["oracle"], common.ENTRY_CFG, data_dir)
        if plant:
            self.want = planted(self.want)
        self.spans = self.want["spans"]
        self._n = 0

    def prepare(self, spark) -> None:
        pass

    def run(self, spark):
        from otel_tail_sampler_spark.plans.pipeline import run_and_write

        self._n += 1
        out = self.out_dir()
        run_and_write(spark, self.paths["tokenized"], out, self.cfg)
        return out

    def out_dir(self) -> str:
        return os.path.join(self.work, f"out_{self._n}")

    def check(self, out) -> list[str]:
        return oracle.check_run_output(out, self.paths["tokenized"], self.want)

    def cleanup(self, spark, out) -> None:
        shutil.rmtree(self.out_dir(), ignore_errors=True)
        spark.catalog.clearCache()


class RuleUpdate:
    name = "rule_update"
    # a sweep is four short queries; their planning is still speeding up
    # after the third sweep, but more set-up does not fit the time budget
    warmups = 3
    table = "bench_silver"

    def __init__(self, paths: dict, data_dir: str, work: str, plant: bool):
        self.paths, self.work = paths, work
        self.cfgs = common.SWEEP_CFGS
        self.wants = [
            oracle.expected_counts(paths["oracle"], c, data_dir) for c in self.cfgs
        ]
        if plant:
            self.wants[0] = planted(self.wants[0])
        self.spans = self.wants[0]["spans"] * len(self.cfgs)
        self._n = 0
        self.silver_path = None
        self.materialize_s = 0.0

    def prepare(self, spark) -> None:
        from otel_tail_sampler_spark.plans.silver import materialize_parsed

        if self.silver_path:
            shutil.rmtree(self.silver_path, ignore_errors=True)
        self._n += 1
        self.silver_path = os.path.join(self.work, f"silver_{self._n}")
        t0 = time.perf_counter()
        materialize_parsed(
            spark, self.paths["tokenized"], self.table,
            buckets=common.cpus(), path=self.silver_path,
        )
        self.materialize_s = time.perf_counter() - t0

    def run(self, spark):
        from pyspark.sql import functions as F

        from otel_tail_sampler_spark.plans.silver import redecide_from_silver

        return [
            redecide_from_silver(spark, self.table, common.sampler_config(c))
            .groupBy("decision_policy", "decision")
            .agg(F.count(F.lit(1)))
            .collect()
            for c in self.cfgs
        ]

    def check(self, results) -> list[str]:
        errs = []
        for cfg, want, rows in zip(self.cfgs, self.wants, results):
            got = oracle.decision_key_counts(rows)
            if got != want["decisions"]:
                errs.append(f"{cfg}: decision counts {got} != {want['decisions']}")
        return errs

    def cleanup(self, spark, out) -> None:
        spark.catalog.clearCache()


WORKLOADS = {w.name: w for w in (Uniform, RuleUpdate)}


class Bench:
    """One benchmark process: its session, counters and timings."""

    def __init__(self, wl, work: str, cores: int):
        self.wl, self.work, self.cores = wl, work, cores
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.start_s = self.warmup_s = 0.0
        self.op_s: list[float] = []
        self.last_end = 0.0  # epoch seconds when the last operation returned
        self.rss = common.RssSampler()

    def start(self, ui: bool = False) -> None:
        t0 = time.perf_counter()
        self.spark = common.start_session(self.work, self.cores, ui=ui)
        self.start_s = time.perf_counter() - t0

    def checked(self, op) -> bool:
        """Count one operation; ``op`` returns its oracle mismatches."""
        self.attempted += 1
        try:
            errs = op()
        except Exception:  # one failed operation must not end the run
            traceback.print_exc()
            errs = ["raised"]
        if errs:
            self.failed += 1
            print(f"operation {self.attempted} failed: {errs}", file=sys.stderr)
        return not errs

    def attempt(self, timed: bool = False, inspect=None) -> float | None:
        """Run, time, check and clean up one workload operation; ``inspect``
        sees a correct output before clean-up. Returns the operation time,
        or None when it raised or mismatched the oracle."""
        out = dt = None

        def op() -> list[str]:
            nonlocal out, dt
            self.rss.active(timed)
            try:
                t0 = time.perf_counter()
                out = self.wl.run(self.spark)
                dt = time.perf_counter() - t0
                self.last_end = time.time()
            finally:
                self.rss.active(False)
            errs = self.wl.check(out)
            if inspect is not None and not errs:
                inspect(out)
            return errs

        try:
            ok = self.checked(op)
        finally:
            self.wl.cleanup(self.spark, out)
        return dt if ok else None

    def setup(self, ui: bool) -> None:
        self.start(ui)
        t0 = time.perf_counter()
        self.wl.prepare(self.spark)
        self.warmup_s = time.perf_counter() - t0
        for _ in range(self.wl.warmups):
            self.warmup_s += self.attempt() or 0.0

    def timed_window(self, seconds: float, t_proc: float) -> None:
        busy, n = 0.0, 0
        while (n < MIN_OPS or busy < seconds) and time.time() - t_proc < DEADLINE_S:
            t0 = time.perf_counter()
            dt = self.attempt(timed=True)
            n += 1
            if dt is None:  # a failed operation still uses up the window
                busy += time.perf_counter() - t0
            else:
                self.op_s.append(dt)
                busy += dt

    def end_to_end(self) -> dict:
        return {
            "spans_per_s": {
                "value": self.wl.spans / statistics.median(self.op_s)
                if self.op_s else 0.0,
                "unit": "spans/s",
            },
            "setup_s": {"value": self.start_s + self.warmup_s, "unit": "s"},
        }

    def stop(self) -> None:
        self.rss.close()
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:  # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    t_proc = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--n-traces", type=int, default=N_TRACES,
                    help="input size; smaller only for the self-test")
    ap.add_argument("--plant-wrong-count", action="store_true",
                    help="expect one trace count off by one (self-test)")
    args = ap.parse_args(argv)

    work = os.path.join(common.WORK_ROOT, str(os.getpid()))
    common.prepare_env(work)
    sys.path.insert(0, common.ROOT)
    bench = None
    try:
        from otel_tail_sampler_spark.sources.generator import GenSpec

        paths, data_dir = common.dataset(GenSpec(n_traces=args.n_traces, seed=args.seed))
        wl = WORKLOADS[args.workload](paths, data_dir, work, args.plant_wrong_count)
        bench = Bench(wl, work, common.cpus())
        bench.setup(ui=bool(args.trace))
        bench.timed_window(args.seconds, t_proc)
        if args.trace:
            import layers

            metrics = layers.per_layer(bench, paths, args.seed, t_proc)
        else:
            metrics = bench.end_to_end()
    finally:
        if bench is not None:
            bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    failed_frac = bench.failed / max(1, bench.attempted)
    print(f"session start {bench.start_s:.2f} s, warm-up {bench.warmup_s:.2f} s,"
          f" timed operations {' '.join(f'{t:.2f}' for t in bench.op_s)} s,"
          f" process {time.time() - t_proc:.1f} s")
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(f"failed_frac {failed_frac:.6g} fraction ({bench.failed}/{bench.attempted})")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
