"""The ``query_suite`` workload: one closed-loop client running warm passes
over the seven headline analytics queries on seeded tables that match
the sf0.1 test tables (perfbench/inputs.py).

Per run: write or reuse the seed's tables (prepare), start the session,
run two untimed warm-up passes (in ``setup_s``), then time passes for
``seconds`` (at least three). Each query's rows are collected, which is what a client does
with a result. After timing, each query's last result is compared once to
its DuckDB oracle (``ANALYTIC_ORACLES``), and every timed execution's row
count to the oracle's.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow.parquet as pq

import harness
import inputs
from bench import BENCH_QUERIES
from harness import Ops, median, timed
from spans import Tracer, fold_event_log, jvm_gc_seconds

QUERIES = tuple(BENCH_QUERIES)  # the headline queries of bench.py
# tables each query reads, for the rows-per-second figure
QUERY_INPUTS = {
    "tpch_q1": ("lineitem",),
    "tpch_q3": ("customer", "orders", "lineitem"),
    "tpch_q5": ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    "events_lww_latest": ("events",),
    "events_hourly": ("events",),
    "docs_exact_dedup": ("documents",),
    "docs_token_stats": ("documents",),
}
WARMUP_PASSES = 2
MIN_PASSES = 3


def _norm(v):
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _canon(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def result_matches(cols, rows, oracle_cols, oracle_rows) -> tuple[bool, str]:
    """Same column set, same row count, same multiset of rows."""
    if sorted(cols) != sorted(oracle_cols):
        return False, f"columns {sorted(cols)} != {sorted(oracle_cols)}"
    if len(rows) != len(oracle_rows):
        return False, f"rows {len(rows)} != oracle {len(oracle_rows)}"
    same = _canon(list(cols), rows) == _canon(list(oracle_cols), oracle_rows)
    return same, "" if same else "values differ"


def oracle_results(table_dir: str) -> dict[str, tuple[list[str], list[tuple]]]:
    import duckdb

    from debezium_connector_spanner_spark.plans.analytics_queries import ANALYTIC_ORACLES

    con = duckdb.connect()
    try:
        for t in inputs.QUERY_TABLE_ROWS:
            path = os.path.join(table_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for q in QUERIES:
            res = con.execute(ANALYTIC_ORACLES[q])
            out[q] = ([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def run(args) -> tuple[Ops, dict, dict]:
    from debezium_connector_spanner_spark.plans.analytics_queries import ANALYTIC_QUERIES

    t_start = time.monotonic()
    tables = inputs.query_tables(harness.WORK, args.seed)
    rows_in = {
        t: pq.ParquetFile(os.path.join(tables, f"{t}.parquet")).metadata.num_rows
        for t in inputs.QUERY_TABLE_ROWS
    }
    rows_per_pass = sum(rows_in[t] for q in QUERIES for t in QUERY_INPUTS[q])
    prepare_s = time.monotonic() - t_start

    ops = Ops()
    log_dir = os.path.join(harness.WORK, "eventlog") if args.trace else None
    if log_dir:
        shutil.rmtree(log_dir, ignore_errors=True)
    rss = harness.RssSampler().start()
    spark, session_s = timed(harness.start_session, event_log_dir=log_dir)
    tracer = Tracer(spark)

    def one_pass() -> tuple[float, dict, dict]:
        lat, last = {}, {}
        t0 = time.monotonic()
        for q in QUERIES:
            with tracer.span(f"plans.{q}"):
                df, dt = timed(ANALYTIC_QUERIES[q], spark, tables)
                rows, dq = timed(df.collect)
            lat[q] = dt + dq
            last[q] = (df.columns, rows)
        return time.monotonic() - t0, lat, last

    try:
        for _ in range(WARMUP_PASSES):
            one_pass()
        setup_s = time.monotonic() - t_start - prepare_s

        passes = []  # (wall, per-query latency, results)
        gc0 = jvm_gc_seconds(spark)
        t0 = time.monotonic()
        tracer.enabled = bool(args.trace)
        while True:
            t_pass = time.monotonic()
            passes.append(one_pass())
            now = time.monotonic()
            if len(passes) >= MIN_PASSES and now - t0 + (now - t_pass) > args.seconds:
                break
        tracer.enabled = False
        gc_s = jvm_gc_seconds(spark) - gc0
    finally:
        harness.stop_session(spark)
    peak_mb = rss.stop()

    # correctness gate, outside timing: every timed execution's row count,
    # and each query's last result in full
    oracle = oracle_results(tables)
    for q in QUERIES:
        want = len(oracle[q][1])
        for p in passes:
            n = len(p[2][q][1])
            ops.record(f"query.{q}", n == want, f"rows {n} != oracle {want}")
        ops.record(f"gate.{q}", *result_matches(*passes[-1][2][q], *oracle[q]))

    detail = {
        "prepare_s": round(prepare_s, 3),
        "session_s": round(session_s, 3),
        "rows_per_pass": rows_per_pass,
        "pass_walls": [round(p[0], 3) for p in passes],
        "warmup": f"{WARMUP_PASSES} untimed passes",
    }
    print(json.dumps({"detail": detail}))
    if not args.trace:
        e2e = {
            "setup_s": setup_s,
            "peak_rss_mb": peak_mb,
            "rows_per_s": median([rows_per_pass / p[0] for p in passes]),
            "query_p50_s": median([v for p in passes for v in p[1].values()]),
        }
        return ops, e2e, {}
    log = fold_event_log(log_dir)
    shuffle = log.metrics(j for j in log.jobs.values() if j.tag.startswith("plans."))[
        "shuffle_write_bytes"
    ]
    layers = {f"plans.{q}_s": median([p[1][q] for p in passes]) for q in QUERIES}
    layers["plans.shuffle_mb_per_pass"] = shuffle / (1024 * 1024) / len(passes)
    layers["session.start_s"] = session_s
    layers["spark.jvm_gc_s"] = gc_s / len(passes)
    layers["trace.overhead_frac"] = tracer.self_s / sum(p[0] for p in passes)
    return ops, {}, layers
