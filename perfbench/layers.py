"""The traced run: per-layer metrics of one workload, timed from outside.

The session of a traced run has the local UI on from its start. After the
set-up and the timed window (which give ``trace.overhead_frac`` its
baseline), each layer is forced by a ``noop`` write of a cumulative prefix
of public calls under its own job group, once untimed (its first run
compiles and warms its code) and once timed. A layer's self time is the
difference between consecutive prefixes, so the self times add up to the
traced operation. The stage counters come from the UI's REST API, the
streaming counters from the query's ``recentProgress``, and the 1-core time
from one pass of ``uniform`` in a separate ``local[1]`` JVM
(``python3 layers.py --local1``).
METRICS.md says which end-to-end metric each layer metric should move.

Layers the workload does not run itself are measured on a 500-trace input
of the same seed, so that every traced run reports every layer: on
``uniform`` the silver and streaming layers, on ``rule_update`` the
pipeline and routing layers of ``run_and_write``. ``rule_update`` makes no
local[1] pass; its ``pipeline.scaling_eff_1to4`` reads 0.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import urllib.request
from datetime import datetime, timezone

import common
import oracle

PER_LAYER = [
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("session.peak_rss_mb", "MB"),
    ("pipeline.scan_s", "s"),
    ("pipeline.scan_passes", "ratio"),
    ("pipeline.spark_jobs", "count"),
    ("pipeline.side_jobs_s", "s"),
    ("pipeline.scaling_eff_1to4", "ratio"),
    ("parser.parse_s", "s"),
    ("parser.rows_out", "count"),
    ("parser.malformed_rows", "count"),
    ("assembly.assemble_s", "s"),
    ("assembly.traces_out", "count"),
    ("assembly.shuffle_bytes", "B"),
    ("assembly.spill_bytes", "B"),
    ("assembly.task_skew", "ratio"),
    ("policies.decide_s", "s"),
    ("policies.keep_frac", "fraction"),
    ("routing.route_s", "s"),
    ("routing.broadcast_rows", "count"),
    ("routing.write_s", "s"),
    ("routing.output_bytes", "B"),
    ("routing.rows_keep", "count"),
    ("routing.rows_drop", "count"),
    ("routing.rows_overflow", "count"),
    ("routing.rows_malformed", "count"),
    ("silver.materialize_s", "s"),
    ("silver.redecide_s", "s"),
    ("silver.exchanges", "count"),
    ("stream_job.batches", "count"),
    ("stream_job.data_batch_ms", "ms"),
    ("stream_job.empty_batch_ms", "ms"),
    ("stream_job.state_update_ms", "ms"),
    ("stream_job.state_removal_ms", "ms"),
    ("stream_job.state_commit_ms", "ms"),
    ("stream_job.state_rows", "count"),
    ("stream_job.state_bytes", "B"),
    ("trace.overhead_frac", "fraction"),
]
# Each prefix keeps only the columns the flagship's next layer reads, so
# Catalyst prunes it as it prunes run_pipeline: forcing every column would
# also decode the service and operation names, which the slim decision plan
# never does.
PARSE_OUT = ["trace_k1", "trace_k2", "status_code", "duration_ms"]
ASSEMBLY_OUT = ["trace_k1", "trace_k2", "trace_id", "has_error",
                "max_duration_ms", "span_count"]
DECIDE_OUT = ["trace_k1", "trace_k2", "trace_id", "decision", "decision_policy"]
# run_streaming_pipeline defaults the probe relies on for its oracle
STREAM_GAP_S, STREAM_DELAY_S = 30, 10
# The local[1] pass is skipped when it could not end this long after the
# process started (a run must end within 180 s).
LOCAL1_END_S = 170
# Input of the layers a workload does not run itself, and of the local[1]
# pass's warm-up operation.
SMALL_TRACES = 500


class Rest:
    """Job and stage counters from the local UI's REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        )

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def jobs(self, group: str) -> list[dict]:
        """The group's jobs once the listener has recorded all of them as
        finished (the UI store trails the action by a few events)."""
        last = None
        deadline = time.time() + 15
        while time.time() < deadline:
            jobs = [j for j in self.get("/jobs") if j.get("jobGroup") == group]
            done = jobs and all(j["status"] != "RUNNING" for j in jobs)
            if done and last == len(jobs):
                return jobs
            last = len(jobs) if done else None
            time.sleep(0.2)
        raise RuntimeError(f"jobs of {group!r} did not finish in the UI store")

    def stages(self, jobs: list[dict]) -> list[dict]:
        ids = {s for j in jobs for s in j["stageIds"]}
        return [
            s for s in self.get("/stages")
            if s["stageId"] in ids and s["status"] == "COMPLETE"
        ]

    def scanned_rows(self, jobs: list[dict]) -> int:
        """Rows the parquet scans of the jobs' SQL executions produced."""
        ids = {j["jobId"] for j in jobs}
        rows = 0
        for ex in self.get("/sql?details=true&planDescription=false&length=10000"):
            if not ids & set(ex.get("successJobIds", [])):
                continue
            for node in ex["nodes"]:
                if node["nodeName"].startswith("Scan parquet"):
                    rows += sum(
                        int(mt["value"].replace(",", "")) for mt in node["metrics"]
                        if mt["name"] == "number of output rows"
                    )
        return rows

    def task_skew(self, stage: dict) -> float:
        """max / median task run time of one stage."""
        q = self.get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}"
            "/taskSummary?quantiles=0.5,1.0"
        )["executorRunTime"]
        return q[1] / max(q[0], 1.0)


def _epoch(ui_time: str) -> float:
    return datetime.strptime(ui_time, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=timezone.utc).timestamp()


def _noop(spark, group: str, df) -> float:
    """Force ``df`` under job group ``group``; returns the wall time."""
    spark.sparkContext.setJobGroup(group, group)
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _observed(df, name: str, **aggs):
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *[c.alias(k) for k, c in aggs.items()]), obs


def _parse_prefixes(spark, tok: str, tag: str) -> tuple[dict, dict]:
    """Times of the scan and parse prefixes of the tokenized input, and the
    parsed frame with its row counts. ``tag`` prefixes the job groups."""
    from pyspark.sql import functions as F

    from otel_tail_sampler_spark.operators.parser import parse_spans_jvm
    from otel_tail_sampler_spark.plans.pipeline import read_tokenized

    tokens = read_tokenized(spark, tok).select("tokens")  # the parse side's scan
    t = {"scan": _noop(spark, tag + "scan", tokens)}
    parsed = parse_spans_jvm(tokens, keep_tokens=False)
    df, obs = _observed(
        parsed, "parse",
        ok=F.sum(F.col("parse_ok").cast("long")),
        bad=F.sum((~F.col("parse_ok")).cast("long")),
    )
    t["parse"] = _noop(spark, tag + "parse", df.filter("parse_ok").select(PARSE_OUT))
    return t, {"parsed": parsed, "parse": obs}


def _parse_metrics(t: dict, obs: dict, m: dict) -> None:
    m["pipeline.scan_s"] = t["scan"]
    m["parser.parse_s"] = t["parse"] - t["scan"]
    m["parser.rows_out"] = obs["parse"].get["ok"] or 0
    m["parser.malformed_rows"] = obs["parse"].get["bad"] or 0


def _decide_prefixes(spark, traces, decided, t: dict, obs: dict, tag: str) -> None:
    """Time the assemble and decide prefixes, counting traces and keeps."""
    from pyspark.sql import functions as F

    traces, obs["traces"] = _observed(
        traces.select(ASSEMBLY_OUT), "traces", n=F.count(F.lit(1)))
    decided, obs["decided"] = _observed(
        decided.select(DECIDE_OUT), "decided", n=F.count(F.lit(1)),
        keep=F.sum((F.col("decision") == "keep").cast("long")),
    )
    t["assemble"] = _noop(spark, tag + "assemble", traces)
    t["decide"] = _noop(spark, tag + "decide", decided)


def _decide_metrics(t: dict, obs: dict, m: dict, after: float) -> None:
    m["assembly.assemble_s"] = t["assemble"] - after
    m["assembly.traces_out"] = obs["traces"].get["n"]
    m["policies.decide_s"] = t["decide"] - t["assemble"]
    m["policies.keep_frac"] = obs["decided"].get["keep"] / max(1, obs["decided"].get["n"])


def _assembly_counters(rest: Rest, m: dict, group: str, final_stage) -> None:
    stages = rest.stages(rest.jobs(group))
    m["assembly.shuffle_bytes"] = sum(s["shuffleWriteBytes"] for s in stages)
    m["assembly.spill_bytes"] = sum(
        s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
    )
    final = final_stage(stages)
    m["assembly.task_skew"] = rest.task_skew(final) if final else 1.0


def _uniform_prefixes(spark, tok: str, cfg, tag: str) -> tuple[dict, dict]:
    from otel_tail_sampler_spark.operators.assembly import assemble_traces
    from otel_tail_sampler_spark.operators.policies import decide
    from otel_tail_sampler_spark.plans.pipeline import run_pipeline

    t, obs = _parse_prefixes(spark, tok, tag)
    traces = assemble_traces(obs["parsed"].filter("parse_ok"))
    _decide_prefixes(spark, traces, decide(traces, cfg), t, obs, tag)
    t["route"] = _noop(spark, tag + "route", run_pipeline(spark, tok, cfg).routed)
    spark.catalog.clearCache()
    return t, obs


def _uniform(bench, paths: dict, m: dict, rest: Rest, tag: str = "") -> float:
    """Layers of ``run_and_write``; ``tag`` prefixes the job groups."""
    spark, wl, tok = bench.spark, bench.wl, paths["tokenized"]
    _uniform_prefixes(spark, tok, wl.cfg, tag + "warm-")
    t, obs = _uniform_prefixes(spark, tok, wl.cfg, tag)
    seen = {}

    def inspect(out: str) -> None:
        seen["output_bytes"] = common.tree_bytes(os.path.join(out, "routed"))
        seen["sinks"], seen["broadcast"] = oracle.output_counts(out)

    spark.sparkContext.setJobGroup(tag + "op", tag + "op")
    t["op"] = bench.attempt(inspect=inspect)
    _parse_metrics(t, obs, m)
    _decide_metrics(t, obs, m, t["parse"])
    _assembly_counters(rest, m, tag + "assemble", lambda ss: max(
        (s for s in ss if s["shuffleReadBytes"] > 0), key=lambda s: s["stageId"],
        default=None))
    m["routing.route_s"] = t["route"] - t["decide"]
    if t["op"] is None:
        return 0.0

    jobs = rest.jobs(tag + "op")
    stages = rest.stages(jobs)
    by_id = {s["stageId"]: s for s in stages}
    write_job = max(jobs, key=lambda j: sum(
        by_id[s]["outputBytes"] for s in j["stageIds"] if s in by_id))
    side_s = bench.last_end - _epoch(write_job["completionTime"])
    m["pipeline.scan_passes"] = rest.scanned_rows(jobs) / max(1, m["parser.rows_out"])
    m["pipeline.spark_jobs"] = len(jobs)
    m["pipeline.side_jobs_s"] = side_s
    m["routing.write_s"] = t["op"] - t["route"] - side_s
    m["routing.broadcast_rows"] = seen["broadcast"]
    m["routing.output_bytes"] = seen["output_bytes"]
    for sink in ("keep", "drop", "overflow", "malformed"):
        m[f"routing.rows_{sink}"] = seen["sinks"].get(sink, 0)
    return t["op"]


def _rule_update(bench, paths: dict, m: dict, rest: Rest) -> float:
    from otel_tail_sampler_spark.plans.silver import (
        assemble_from_silver,
        redecide_from_silver,
    )

    spark, wl = bench.spark, bench.wl
    _parse_prefixes(spark, paths["tokenized"], "warm-")
    t, obs = _parse_prefixes(spark, paths["tokenized"], "")
    _parse_metrics(t, obs, m)
    spark.sparkContext.setJobGroup("materialize", "materialize")
    wl.prepare(spark)
    m["silver.materialize_s"] = wl.materialize_s
    redecided = redecide_from_silver(
        spark, wl.table, common.sampler_config(common.ENTRY_CFG))
    m["silver.exchanges"] = _exchanges(redecided)
    for tag in ("warm-", ""):
        t, obs = {}, {}
        _decide_prefixes(spark, assemble_from_silver(spark, wl.table), redecided,
                         t, obs, tag)
    _decide_metrics(t, obs, m, 0.0)
    _assembly_counters(rest, m, "assemble", lambda ss: max(
        ss, key=lambda s: (s["numTasks"], s["stageId"]), default=None))
    spark.sparkContext.setJobGroup("op", "op")
    t_op = bench.attempt()
    if t_op:
        m["silver.redecide_s"] = t_op / len(wl.cfgs)
    return t_op or 0.0


def _exchanges(df) -> int:
    """Exchange nodes in the physical plan of ``df``."""
    return df._jdf.queryExecution().executedPlan().toString().count("Exchange")


def _with_workload(bench, wl, fn):
    """Run ``fn()`` with ``wl`` as the bench's workload."""
    saved, bench.wl = bench.wl, wl
    try:
        return fn()
    finally:
        bench.wl = saved


def _silver_layer(bench, paths: dict, data_dir: str, m: dict) -> None:
    """The silver layer on ``paths``: materialize, then one checked sweep."""
    import run

    from otel_tail_sampler_spark.plans.silver import redecide_from_silver

    wl = run.RuleUpdate(paths, data_dir, bench.work, False)

    def sweep():
        wl.prepare(bench.spark)
        return bench.attempt()

    t_op = _with_workload(bench, wl, sweep)
    m["silver.materialize_s"] = wl.materialize_s
    m["silver.redecide_s"] = (t_op or 0.0) / len(wl.cfgs)
    m["silver.exchanges"] = _exchanges(redecide_from_silver(
        bench.spark, wl.table, common.sampler_config(common.ENTRY_CFG)))


def _pipeline_layers(bench, paths: dict, data_dir: str, m: dict, rest: Rest) -> None:
    """The pipeline and routing layers of ``run_and_write`` on ``paths``,
    after one untimed operation that compiles its code in this JVM."""
    import run

    wl = run.Uniform(paths, data_dir, bench.work, False)
    got = dict.fromkeys(m, 0.0)

    def layers() -> None:
        bench.attempt()
        _uniform(bench, paths, got, rest, "small-")

    _with_workload(bench, wl, layers)
    for k, v in got.items():
        if k.startswith(("pipeline.", "routing.")) and k not in (
                "pipeline.scan_s", "pipeline.scaling_eff_1to4"):
            m[k] = v


def _stream_probe(bench, paths: dict, m: dict) -> None:
    """One bounded ``run_streaming_pipeline(strategy="state")`` pass over
    the workload input, checked against the oracle."""
    from otel_tail_sampler_spark.streaming.stream_job import run_streaming_pipeline

    out = os.path.join(bench.work, "stream")
    progress = []
    cfg = common.sampler_config(common.ENTRY_CFG)

    def op() -> list[str]:
        q = run_streaming_pipeline(
            bench.spark, paths["tokenized"], out, cfg,
            gap_seconds=STREAM_GAP_S, watermark_delay=f"{STREAM_DELAY_S} seconds",
            strategy="state", max_files_per_trigger=8,
        )
        progress.extend(q.recentProgress)
        return oracle.check_stream_output(
            os.path.join(out, "decided"), paths["oracle"], common.ENTRY_CFG,
            STREAM_GAP_S, STREAM_DELAY_S,
        )

    ok = bench.checked(op)
    shutil.rmtree(out, ignore_errors=True)
    if not ok:
        return
    data = [p for p in progress if p["numInputRows"] > 0]
    ops = [o for p in progress for o in p["stateOperators"]]
    m["stream_job.batches"] = len(progress)
    m["stream_job.data_batch_ms"] = sum(p["batchDuration"] for p in data)
    m["stream_job.empty_batch_ms"] = sum(
        p["batchDuration"] for p in progress if p["numInputRows"] == 0)
    m["stream_job.state_update_ms"] = sum(o["allUpdatesTimeMs"] for o in ops)
    m["stream_job.state_removal_ms"] = sum(o["allRemovalsTimeMs"] for o in ops)
    m["stream_job.state_commit_ms"] = sum(o["commitTimeMs"] for o in ops)
    m["stream_job.state_rows"] = max((o["numRowsTotal"] for o in ops), default=0)
    m["stream_job.state_bytes"] = max((o["memoryUsedBytes"] for o in ops), default=0)


def _local1(bench, data_dir: str, small_dir: str, timeout: float) -> float | None:
    """Seconds of one ``uniform`` operation on ``local[1]`` in its own JVM,
    after a warm-up operation on the small input; None when that pass failed
    or ran out of time."""
    cmd = [sys.executable, os.path.abspath(__file__), "--local1",
           "--data-dir", data_dir, "--small-dir", small_dir,
           "--work", os.path.join(bench.work, "local1")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print("local[1] pass timed out", file=sys.stderr)
        return None
    res = json.loads(stdout.strip().splitlines()[-1])
    bench.attempted += res["attempted"]
    bench.failed += res["failed"]
    return res["op_s"]


def per_layer(bench, paths: dict, seed: int, t_proc: float) -> dict:
    """Every per-layer metric of the workload; the session already runs with
    the UI on and has been through the set-up and the timed window."""
    from otel_tail_sampler_spark.sources.generator import GenSpec

    m = {name: 0.0 for name, _ in PER_LAYER}
    m["session.start_s"] = bench.start_s
    m["session.warmup_s"] = bench.warmup_s
    m["session.peak_rss_mb"] = bench.rss.peak_mb
    untraced = statistics.median(bench.op_s) if bench.op_s else 0.0
    rest = Rest(bench.spark)
    small, small_dir = common.dataset(GenSpec(n_traces=SMALL_TRACES, seed=seed))
    if bench.wl.name == "uniform":
        traced = _uniform(bench, paths, m, rest)
        _silver_layer(bench, small, small_dir, m)
        _stream_probe(bench, small, m)
    else:
        traced = _rule_update(bench, paths, m, rest)
        _stream_probe(bench, paths, m)
        _pipeline_layers(bench, small, small_dir, m, rest)
    if untraced and traced:
        m["trace.overhead_frac"] = traced / untraced - 1
    timeout = t_proc + LOCAL1_END_S - time.time()
    if bench.wl.name == "uniform" and untraced and timeout > 0:
        bench.spark.stop()  # leave the cores to the local[1] JVM
        t1 = _local1(bench, os.path.dirname(paths["oracle"]), small_dir, timeout)
        if t1:
            m["pipeline.scaling_eff_1to4"] = t1 / (bench.cores * untraced)
    return {name: {"value": float(m[name]), "unit": unit} for name, unit in PER_LAYER}


def _local1_main(argv) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--local1", action="store_true")
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--small-dir", required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args(argv)
    import run

    common.prepare_env(args.work)
    sys.path.insert(0, common.ROOT)
    wls = [
        run.Uniform({"tokenized": os.path.join(d, "tokenized"),
                     "oracle": os.path.join(d, "spans_oracle.parquet")},
                    d, args.work, False)
        for d in (args.small_dir, args.data_dir)
    ]
    bench = run.Bench(wls[0], args.work, 1)
    try:
        bench.start()
        bench.attempt()
        bench.wl = wls[1]
        op_s = bench.attempt()
    finally:
        bench.stop()
    print(json.dumps({"op_s": op_s, "attempted": bench.attempted,
                      "failed": bench.failed}))
    return 0


if __name__ == "__main__":
    sys.exit(_local1_main(sys.argv[1:]))
