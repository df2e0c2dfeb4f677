"""Parser correctness: Spark-parsed spans must equal the field-level oracle.

The oracle parquet is written straight from generated fields (generator.py),
so this exercises the full token encode -> decode roundtrip for both
decoders: ``parse_spans_jvm`` (the production decode of every pipeline) and
``parse_spans`` (the Arrow-vectorized kernel kept as the reference).
Mirrors the reference decoder tests (/root/reference/src/decoder.rs:212-227)
plus full-field equality, which the reference never asserts.
"""

import pandas as pd
import pytest

from otel_tail_sampler_spark.operators.parser import parse_spans, parse_spans_jvm

PARSERS = {"parse_spans": parse_spans, "parse_spans_jvm": parse_spans_jvm}

# structurally invalid token arrays: too short, empty, service length out
# of bounds, negative operation length
MALFORMED_TOKENS = [[1, 2, 3], [], [0] * 14 + [99, 65], [0] * 14 + [1, 65, -5, 66]]


def write_mixed_tokenized(path: str) -> tuple[list[str], pd.DataFrame]:
    """8 valid spans (doc ids d0-d7) followed by the MALFORMED_TOKENS rows
    (d8-d11) as one tokenized parquet file; returns the malformed doc ids
    and the field oracle of the valid rows (indexed by doc_id)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from otel_tail_sampler_spark.sources.generator import (
        GenSpec,
        build_token_arrays,
        fields_to_oracle_table,
        generate_fields,
    )

    f = generate_fields(GenSpec(n_traces=4, spans_per_trace=2, seed=3))
    good = build_token_arrays(f)
    bad = pa.array(MALFORMED_TOKENS, pa.list_(pa.int32()))
    tokens = pa.concat_arrays([good.cast(pa.list_(pa.int32())), bad])
    n = len(tokens)
    tbl = pa.table(
        {
            "doc_id": pa.array([f"d{i}" for i in range(n)]),
            "tokens": tokens,
            "n_tok": pa.array([len(tokens[i]) for i in range(n)], pa.int32()),
            "source": pa.array(["s"] * n),
        }
    )
    pq.write_table(tbl, path)
    good_ids = np.array([f"d{i}" for i in range(len(good))])
    oracle = fields_to_oracle_table(f, good_ids, np.array(["s"] * len(good)))
    return [f"d{i}" for i in range(len(good), n)], oracle.to_pandas().set_index("doc_id")


@pytest.fixture(scope="module")
def parsed_and_oracle(spark, small_dataset):
    """Each decoder's output (by name) next to the oracle, all by doc_id."""
    df = spark.read.parquet(small_dataset["tokenized"])
    parsed = {
        name: fn(df, keep_tokens=False)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
        for name, fn in PARSERS.items()
    }
    oracle = (
        pd.read_parquet(small_dataset["oracle"])
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    return parsed, oracle


FIELDS = [
    "trace_id",
    "span_id",
    "parent_span_id",
    "timestamp_ms",
    "duration_ms",
    "status_code",
    "span_kind",
    "service_name",
    "operation_name",
]


def test_row_count(parsed_and_oracle):
    parsed, oracle = parsed_and_oracle
    for name, df in parsed.items():
        assert len(df) == len(oracle) > 0, name
        assert df["parse_ok"].all(), name
        assert (df["doc_id"] == oracle["doc_id"]).all(), name


@pytest.mark.parametrize("field", FIELDS)
def test_field_equality(parsed_and_oracle, field):
    parsed, oracle = parsed_and_oracle
    o = oracle[field]
    for name, df in parsed.items():
        p = df[field]
        if field == "parent_span_id":
            assert (p.isna() == o.isna()).all(), name
            mask = ~o.isna()
            assert (p[mask] == o[mask]).all(), name
        else:
            assert (p == o).all(), f"{name} {field}: first diff at\n{df[p != o].head(3)}"


def test_roots_are_null_parent(parsed_and_oracle):
    parsed, _ = parsed_and_oracle
    for name, df in parsed.items():
        roots = df[df["parent_span_id"].isna()]
        assert roots["trace_id"].nunique() == df["trace_id"].nunique(), name


def test_n_tok_matches_token_length(spark, small_dataset):
    from pyspark.sql import functions as F

    df = spark.read.parquet(small_dataset["tokenized"])
    assert df.filter(F.size("tokens") != F.col("n_tok")).count() == 0


def test_hex_ids_shape(parsed_and_oracle):
    parsed, _ = parsed_and_oracle
    for name, df in parsed.items():
        assert df["trace_id"].str.fullmatch(r"[0-9A-F]{32}").all(), name
        assert df["span_id"].str.fullmatch(r"[0-9A-F]{16}").all(), name


def test_malformed_rows_quarantined(spark, tmp_path):
    """Truncated/garbage token arrays must not abort the job (parse_ok=false,
    routed to the malformed sink) while valid rows still parse."""
    from otel_tail_sampler_spark.plans.pipeline import run_pipeline

    path = str(tmp_path / "mixed.parquet")
    bad_ids, _ = write_mixed_tokenized(path)

    res = run_pipeline(spark, path)
    routed = res.routed.toPandas()
    assert len(routed) == 12
    mal = routed[routed["decision"] == "malformed"]
    assert set(mal["doc_id"]) == set(bad_ids) == {"d8", "d9", "d10", "d11"}
    assert (routed[routed["decision"] != "malformed"]["parse_ok"]).all()
    # malformed rows keep their original tokens for replay
    assert sorted(len(t) for t in mal["tokens"]) == [0, 3, 16, 18]


@pytest.mark.parametrize("parser", sorted(PARSERS))
def test_parser_quarantines_malformed_rows(spark, tmp_path, parser):
    """Each decoder flags exactly the malformed rows, nulls every decoded
    field of them, and decodes the valid rows next to them exactly."""
    from otel_tail_sampler_spark.operators.parser import SPAN_FIELDS

    path = str(tmp_path / "mixed.parquet")
    bad_ids, oracle = write_mixed_tokenized(path)
    df = spark.read.parquet(path)
    got = PARSERS[parser](df, keep_tokens=False).toPandas().set_index("doc_id")

    assert len(got) == 12
    assert set(got.index[~got["parse_ok"]]) == set(bad_ids)
    decoded = [n for n, _ in SPAN_FIELDS if n != "parse_ok"]
    assert got.loc[bad_ids, decoded].isna().all().all()
    good = got.loc[oracle.index]
    assert good["parse_ok"].all()
    for field in FIELDS:
        p, o = good[field], oracle[field]
        assert ((p == o) | (p.isna() & o.isna())).all(), field


def test_csv_name_expr_decodes_empty_under_ansi(spark):
    """'' (a zero-length name) decodes to '' instead of raising
    CAST_INVALID_INPUT; a comma inside a name is the code 44."""
    from pyspark.sql import functions as F

    from otel_tail_sampler_spark.operators.parser import csv_name_expr

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    rows = spark.createDataFrame([("",), ("72,105",), ("44",)], "c string").select(
        csv_name_expr(F.col("c")).alias("s")
    )
    assert [r["s"] for r in rows.collect()] == ["", "Hi", ","]


def test_jvm_routing_key_equals_python_parse(spark, small_dataset):
    """with_routing_key (pure JVM) must agree with the Arrow parser on both
    trace_id and parse_ok, including malformed rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from otel_tail_sampler_spark.operators.parser import parse_spans, with_routing_key

    from otel_tail_sampler_spark.operators.parser import hex_from_keys

    df = spark.read.parquet(small_dataset["tokenized"])
    a = with_routing_key(df).select(
        "doc_id",
        F.when(
            F.col("parse_ok"),
            hex_from_keys(F.col("trace_k1"), F.col("trace_k2")),
        ).alias("tid"),
        "parse_ok",
    )
    b = parse_spans(df, False, ["trace_id"]).select(
        "doc_id", F.col("trace_id").alias("t2"), F.col("parse_ok").alias("p2")
    )
    assert (
        a.join(b, "doc_id")
        .filter("tid IS DISTINCT FROM t2 OR parse_ok <> p2")
        .count()
        == 0
    )


def test_jvm_routing_key_malformed(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from otel_tail_sampler_spark.operators.parser import with_routing_key

    bad = pa.array(
        [[1, 2, 3], [], [0] * 14 + [99, 65], [0] * 14 + [1, 65, -5, 66],
         [0] * 14 + [0, 0]],
        pa.list_(pa.int32()),
    )
    tbl = pa.table(
        {"doc_id": [f"d{i}" for i in range(5)], "tokens": bad,
         "n_tok": pa.array([3, 0, 16, 18, 16], pa.int32()),
         "source": ["s"] * 5}
    )
    p = str(tmp_path / "bad2.parquet")
    pq.write_table(tbl, p)
    from otel_tail_sampler_spark.operators.parser import hex_from_keys

    rows = (
        with_routing_key(spark.read.parquet(p))
        .select(
            "doc_id",
            "parse_ok",
            F.when(
                F.col("parse_ok"),
                hex_from_keys(F.col("trace_k1"), F.col("trace_k2")),
            ).alias("trace_id"),
        )
        .collect()
    )
    by = {r["doc_id"]: (r["parse_ok"], r["trace_id"]) for r in rows}
    assert by["d0"][0] is False and by["d0"][1] is None
    assert by["d1"][0] is False
    assert by["d2"][0] is False  # svc_len 99 out of bounds
    assert by["d3"][0] is False  # negative op len
    assert by["d4"] == (True, "00000000000000000000000000000000")
