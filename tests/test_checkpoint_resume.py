"""The resumable run is the flagship DAG plus a bucket commit: same sinks as
run_and_write, bucket numbers compatible with existing checkpoints, and a
loud failure on a resume with another bucket count."""

import os

import pytest
from pyspark.sql import functions as F

from otel_tail_sampler_spark.operators.policies import (
    CardinalityPolicy,
    ErrorPolicy,
    LatencyPolicy,
    SamplerConfig,
)
from otel_tail_sampler_spark.plans.checkpoint import read_manifest, run_resumable

CFG = SamplerConfig(
    error=ErrorPolicy(sample_rate=0.8),
    latency=LatencyPolicy(threshold_ms=4000, sample_rate=1.0),
    cardinality=CardinalityPolicy(max_span_count=100),
)


def _explain(df):
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _tree(root):
    """{relative file path: size} of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def test_bucket_assignment_unchanged(spark, small_dataset, tmp_path):
    """Every committed row, malformed rows included, lands in the bucket the
    original formula gives: xxhash64 over the Arrow parser's gated int64
    keys, falling back to doc_id where the row does not parse. A changed
    value would make a resume of an existing checkpoint duplicate or lose
    rows."""
    from tests.test_parser import write_mixed_tokenized

    from otel_tail_sampler_spark.operators.parser import parse_spans

    n_buckets = 8
    mixed = str(tmp_path / "mixed.parquet")
    bad_ids, _ = write_mixed_tokenized(mixed)
    src = str(tmp_path / "input")
    spark.read.parquet(small_dataset["tokenized"]).unionByName(
        spark.read.parquet(mixed).filter(F.col("doc_id").isin(bad_ids))
    ).write.parquet(src)

    out = str(tmp_path / "out")
    run_resumable(spark, src, out, CFG, n_buckets=n_buckets)
    got = spark.read.parquet(f"{out}/routed").select("doc_id", "bucket")

    want = parse_spans(spark.read.parquet(src)).select(
        "doc_id",
        F.pmod(
            F.xxhash64(
                F.coalesce(F.col("trace_k1").cast("string"), F.col("doc_id")),
                F.coalesce(F.col("trace_k2").cast("string"), F.lit("")),
            ),
            F.lit(n_buckets),
        )
        .cast("int")
        .alias("want"),
    )
    both = got.join(want, "doc_id", "full_outer")
    n = spark.read.parquet(src).count()
    assert both.count() == n
    assert both.filter("bucket IS DISTINCT FROM want").count() == 0
    assert got.filter(F.col("doc_id").isin(bad_ids)).count() == len(bad_ids)


def test_resume_with_other_bucket_count_raises(spark, small_dataset, tmp_path):
    """A checkpoint written with 8 buckets resumed with 16 would re-process
    buckets 8-15, whose traces were already committed under 0-7. It must
    raise, naming both counts, before writing anything."""
    out = str(tmp_path / "out")
    run_resumable(spark, small_dataset["tokenized"], out, CFG, n_buckets=8)
    before = _tree(out)

    with pytest.raises(ValueError, match=r"n_buckets=8.*n_buckets=16"):
        run_resumable(spark, small_dataset["tokenized"], out, CFG, n_buckets=16)
    assert _tree(out) == before
    assert read_manifest(spark, f"{out}/_checkpoint") == set(range(8))


def test_resumable_matches_run_and_write(spark, small_dataset, tmp_path, monkeypatch):
    """run_resumable writes what run_and_write writes (plus the bucket
    column), through the same pure-JVM plan."""
    import otel_tail_sampler_spark.plans.checkpoint as C
    from otel_tail_sampler_spark.plans.pipeline import run_and_write

    runs, real = [], C.run_pipeline

    def spy(*args, **kw):
        runs.append(real(*args, **kw))
        return runs[-1]

    monkeypatch.setattr(C, "run_pipeline", spy)

    res_out, flat_out = str(tmp_path / "resumable"), str(tmp_path / "flat")
    run_resumable(spark, small_dataset["tokenized"], res_out, CFG, n_buckets=4)
    run_and_write(spark, small_dataset["tokenized"], flat_out, CFG)

    a = spark.read.parquet(f"{res_out}/routed")
    b = spark.read.parquet(f"{flat_out}/routed")
    assert set(a.columns) == set(b.columns) | {"bucket"}

    def sink_counts(df):
        return {r["decision"]: r["count"] for r in df.groupBy("decision").count().collect()}

    assert sink_counts(a) == sink_counts(b)
    assert sink_counts(a)["keep"] > 0

    def keep(df):
        return df.filter(F.col("decision") == "keep").select("doc_id", "tokens")

    assert keep(a).exceptAll(keep(b)).count() == 0
    assert keep(b).exceptAll(keep(a)).count() == 0

    (res,) = runs
    plan = _explain(res.routed)
    for node in ("MapInArrow", "MapInPandas", "EvalPython"):
        assert node not in plan, node
