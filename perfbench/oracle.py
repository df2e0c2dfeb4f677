"""Independent expected values for every benchmark operation.

The oracle reads only the generator's ``spans_oracle.parquet`` (decoded span
fields written straight from the generated arrays, never through the token
encoding) and the pipeline's output files, with DuckDB. It shares no code
with the package under test: trace assembly, the policy predicates, the
policy precedence and the md5 hash-sampling contract are restated here in
SQL.
"""

from __future__ import annotations

import json
import os

import duckdb


def _frac(key: str, seed: str) -> str:
    """md5 hash fraction in [0, 1): first 8 hex digits of md5(key|seed)."""
    return (
        f"(('0x' || substring(md5({key} || '|' || '{seed}'), 1, 8))::BIGINT"
        f" / 4294967296.0)"
    )


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    return con


def _decided_sql(spans: str, cfg: dict) -> str:
    """One row per trace: span count, last span ts and (policy, decision)."""
    return f"""
    WITH t AS (
        SELECT trace_id, count(*) AS n, max(timestamp_ms) AS last_ts,
               bool_or(status_code = 2) AS has_error,
               max(duration_ms) AS max_dur
        FROM read_parquet('{spans}') GROUP BY trace_id),
    p AS (
        SELECT trace_id, n, last_ts,
               has_error AND {_frac('trace_id', 'error_sampling')}
                   < {cfg['error_rate']} AS p_err,
               max_dur > {cfg['latency_ms']}
                   AND {_frac('trace_id', 'latency_sampling')}
                   < {cfg['latency_rate']} AS p_lat,
               n > {cfg['max_spans']} AS p_card
        FROM t)
    SELECT trace_id, n, last_ts,
           CASE WHEN p_err THEN 'error_sampling'
                WHEN p_lat THEN 'latency_sampling'
                WHEN p_card THEN 'cardinality_sampling'
                ELSE 'no_policy_matched' END AS policy,
           CASE WHEN p_err OR p_lat OR p_card THEN 'keep' ELSE 'drop' END
               AS decision
    FROM p"""


def expected_counts(spans: str, cfg: dict, cache_dir: str) -> dict:
    """Per-(policy, decision) trace counts and per-sink span-row counts for
    one config, cached as JSON next to the dataset."""
    key = "_".join(f"{k}{cfg[k]}" for k in sorted(cfg))
    path = os.path.join(cache_dir, f"expected_{key}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    con = _connect()
    try:
        rows = con.execute(
            f"SELECT policy, decision, count(*), sum(n) FROM ({_decided_sql(spans, cfg)})"
            " GROUP BY ALL"
        ).fetchall()
    finally:
        con.close()
    out = {
        "decisions": {f"{p}|{d}": int(c) for p, d, c, _ in rows},
        "sinks": {},
    }
    for _, d, _, n in rows:
        out["sinks"][d] = out["sinks"].get(d, 0) + int(n)
    out["spans"] = sum(out["sinks"].values())
    out["traces"] = sum(out["decisions"].values())
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(out, fh, sort_keys=True)
    os.replace(tmp, path)
    return out


def decision_key_counts(rows) -> dict:
    """(policy, decision, count) rows -> the oracle's ``policy|decision`` map."""
    return {f"{p}|{d}": int(c) for p, d, c in rows if c}


def _sink_rows(con, out_dir: str) -> dict:
    """Rows per sink, counted in the routed files themselves."""
    return dict(con.execute(
        "SELECT decision, count(*) FROM read_parquet("
        f"'{out_dir}/routed/*/*.parquet', hive_partitioning = 1) GROUP BY 1"
    ).fetchall())


def check_run_output(out_dir: str, tokenized: str, want: dict) -> list[str]:
    """Mismatches of one ``run_and_write`` output against the oracle:
    per-(policy, decision) trace counts, per-sink row counts read from the
    routed files themselves, and token-array equality of every kept row
    with its input row (joined on doc_id)."""
    errs = []
    con = _connect()
    try:
        got = decision_key_counts(con.execute(
            "SELECT decision_policy, sink, sum(trace_count) FROM read_parquet("
            f"'{out_dir}/metrics_decisions/*.parquet') GROUP BY ALL"
        ).fetchall())
        if got != want["decisions"]:
            errs.append(f"decision counts {got} != {want['decisions']}")
        sinks = _sink_rows(con, out_dir)
        if sinks != want["sinks"]:
            errs.append(f"sink rows {sinks} != {want['sinks']}")
        n_keep, bad = con.execute(
            "SELECT count(*), count(*) FILTER (WHERE s.doc_id IS NULL"
            " OR r.tokens IS DISTINCT FROM s.tokens)"
            f" FROM read_parquet('{out_dir}/routed/decision=keep/*.parquet') r"
            f" LEFT JOIN read_parquet('{tokenized}/*.parquet') s USING (doc_id)"
        ).fetchone()
        if bad or n_keep != want["sinks"].get("keep", 0):
            errs.append(f"keep sink: {bad} of {n_keep} rows differ from input tokens")
    finally:
        con.close()
    return errs


def check_stream_output(decided_dir: str, spans: str, cfg: dict,
                        gap_s: int, delay_s: int) -> list[str]:
    """Streaming emits exactly the traces the final watermark closed (a
    trace whose close time equals the watermark may go either way), once
    each, with the batch decision."""
    con = _connect()
    try:
        dup, missing, extra, wrong, n = con.execute(f"""
        WITH d AS ({_decided_sql(spans, cfg)}),
        wm AS (SELECT max(last_ts) - {delay_s * 1000} AS w FROM d),
        e AS (SELECT trace_id, decision, count(*) OVER (PARTITION BY trace_id) AS k
              FROM read_parquet('{decided_dir}/*.parquet'))
        SELECT
          (SELECT count(*) FROM e WHERE k > 1),
          (SELECT count(*) FROM d, wm WHERE d.last_ts + {gap_s * 1000} < wm.w
             AND trace_id NOT IN (SELECT trace_id FROM e)),
          (SELECT count(*) FROM e LEFT JOIN d USING (trace_id), wm
             WHERE d.trace_id IS NULL OR d.last_ts + {gap_s * 1000} > wm.w),
          (SELECT count(*) FROM e JOIN d USING (trace_id)
             WHERE e.decision != d.decision),
          (SELECT count(*) FROM e)
        """).fetchone()
    finally:
        con.close()
    errs = []
    if n == 0:
        errs.append("stream emitted no traces")
    if dup or missing or extra or wrong:
        errs.append(
            f"stream: {dup} duplicate, {missing} missing, {extra} unclosed,"
            f" {wrong} wrong-decision rows"
        )
    return errs


def output_counts(out_dir: str) -> tuple[dict, int]:
    """Routed rows per sink, and the decision rows the route join's build
    side carries (every decision but the default drop)."""
    con = _connect()
    try:
        sinks = _sink_rows(con, out_dir)
        (build,) = con.execute(
            "SELECT coalesce(sum(trace_count), 0) FROM read_parquet("
            f"'{out_dir}/metrics_decisions/*.parquet')"
            " WHERE NOT (sink = 'drop' AND decision_policy = 'no_policy_matched')"
        ).fetchone()
    finally:
        con.close()
    return sinks, int(build)
