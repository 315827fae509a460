"""The CDC workload ``proto_backfill``: replay a seeded change log in the
proto wire, then read the replayed merge-on-read table.

Per run: generate or reuse the seed's fixture and its proto log (prepare:
neither timed nor in ``setup_s``), start the session (``setup_s``), then
repeat for ``seconds``: wipe the table and checkpoint dirs, replay the log
from the ``CdcReplayEngine(...)`` call until ``run()`` returns, and run the
read set three times, timing the last two. There is no warm-up replay: a backfill runs once in a fresh
process, so JIT compilation and class loading are part of what its user
waits for. The correctness gate runs after timing.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from contextlib import nullcontext

import pandas as pd
import pyarrow.parquet as pq

import harness
import inputs
from harness import Ops, median, timed
from spans import Tracer, fold_event_log, jvm_gc_seconds

WIRE = "proto"
READ_ROUNDS = 2
VALUE_COLS = ["commit", "lang", "content"]


class Replay:
    """One replay of a fixture into fresh table and checkpoint dirs."""

    def __init__(self, spark, fx: str, manifest: dict, run_dir: str):
        self.spark, self.fx, self.manifest = spark, fx, manifest
        self.run_dir = run_dir
        self.expected = pd.read_parquet(os.path.join(fx, "expected_final.parquet"))

    def run(self, ops: Ops, op: str = "replay"):
        """Returns (engine, wall from construction until ``run()`` returns)."""
        from debezium_connector_spanner_spark.sources.event_schema import REPOS_SCHEMA_V1
        from debezium_connector_spanner_spark.streaming.engine import CdcReplayEngine

        shutil.rmtree(self.run_dir, ignore_errors=True)
        start = self.manifest["epoch_micros"]
        base = self.spark.read.parquet(os.path.join(self.fx, "base_repos.parquet"))
        t0 = time.monotonic()
        eng = CdcReplayEngine(
            self.spark,
            self.fx,
            os.path.join(self.run_dir, "table"),
            os.path.join(self.run_dir, "ckpt"),
            start_us=start,
            end_us=start + self.manifest["duration_s"] * 1_000_000,
            n_batches=2,
            initial_schema=REPOS_SCHEMA_V1,
            base_df=base,
            wire_format=WIRE,
        )
        totals = eng.run()
        wall = time.monotonic() - t0
        ops.record(op, totals["events"] == self.manifest["events"], str(totals))
        return eng, wall


# ------------------------------------------------------------- read set
def _state_agg(eng, expected: pd.DataFrame, _i: int):
    from pyspark.sql import functions as F

    got = eng.final_state().agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.length("content")).alias("chars")
    ).collect()[0]
    want = (len(expected), int(expected["content"].str.len().sum()))
    return (got["n"], got["chars"] or 0) == want, f"got {tuple(got)} want {want}"


def _key_lookup(eng, expected: pd.DataFrame, i: int):
    from pyspark.sql import functions as F

    row = expected.iloc[(i * 7919) % len(expected)]
    got = (
        eng.final_state()
        .where((F.col("repo") == row["repo"]) & (F.col("path") == row["path"]))
        .collect()
    )
    ok = len(got) == 1 and all(got[0][c] == row[c] for c in VALUE_COLS)
    return ok, f"key {row['repo']}/{row['path']}"


def _lang_rollup(eng, expected: pd.DataFrame, _i: int):
    got = {r["lang"]: r["count"] for r in eng.final_state().groupBy("lang").count().collect()}
    want = expected["lang"].astype(object).where(expected["lang"].notna(), None)
    want = want.value_counts(dropna=False).to_dict()
    return got == want, f"got {got} want {want}"


READS = (("state_agg", _state_agg), ("key_lookup", _key_lookup), ("lang_rollup", _lang_rollup))


def _read_set(eng, expected, ops: Ops, first: int, tracer: Tracer | None) -> list[float]:
    lat = []
    for k, (name, read) in enumerate(READS):
        t0 = time.monotonic()
        with tracer.span("lake.read") if tracer else nullcontext():
            ok, detail = read(eng, expected, first + k)
        lat.append(time.monotonic() - t0)
        ops.record(f"read.{name}", ok, detail)
    return lat


def read_rounds(eng, expected, ops: Ops, tracer: Tracer | None = None) -> list[float]:
    """One untimed round of the read set, then ``READ_ROUNDS`` timed ones.
    The first execution of each read plan pays its code generation, which
    made the read median swing with JIT timing."""
    _read_set(eng, expected, ops, 0, tracer)
    lat = []
    for _ in range(READ_ROUNDS):
        lat += _read_set(eng, expected, ops, len(READS) + len(lat), tracer)
    return lat


# ------------------------------------------------------------ the gate
def _row_digests(df: pd.DataFrame) -> pd.Series:
    keyed = df.set_index(["repo", "path"]).sort_index()
    return keyed[VALUE_COLS].apply(
        lambda r: hashlib.sha256(
            json.dumps([None if pd.isna(v) else v for v in r]).encode()
        ).hexdigest(),
        axis=1,
    )


def final_state_matches(got: pd.DataFrame, expected: pd.DataFrame) -> tuple[bool, str]:
    """Row count plus a per-row sha256 of each key's value columns."""
    if len(got) != len(expected):
        return False, f"rows {len(got)} != expected {len(expected)}"
    a, b = _row_digests(got), _row_digests(expected)
    if not a.index.equals(b.index):
        return False, "key sets differ"
    bad = int((a != b).sum())
    return bad == 0, f"{bad} rows differ"


# ------------------------------------------------------------- workload
def run(args) -> tuple[Ops, dict, dict]:
    """Returns (ops, end-to-end metrics, per-layer metrics)."""
    from debezium_connector_spanner_spark.fixtures.generator import GeneratorConfig

    t_start = time.monotonic()
    cfg = GeneratorConfig(seed=args.seed, **inputs.BACKFILL_CONFIG)
    fx, manifest = inputs.cdc_fixture(harness.WORK, f"backfill-s{args.seed}", cfg)
    prepare_s = time.monotonic() - t_start

    ops = Ops()
    log_dir = os.path.join(harness.WORK, "eventlog") if args.trace else None
    if log_dir:
        shutil.rmtree(log_dir, ignore_errors=True)
    rss = harness.RssSampler().start()
    spark, session_s = timed(harness.start_session, event_log_dir=log_dir)
    setup_s = time.monotonic() - t_start - prepare_s
    replay = Replay(spark, fx, manifest, os.path.join(harness.WORK, "run"))
    try:
        if args.trace:
            tracer = Tracer(spark)
            layers = _traced(tracer, replay, ops)
        else:
            rates, reads, measured = _measure(replay, ops, args.seconds)
        _gate(replay, ops)
        if args.trace:
            # events/s on 4 threads over events/s on 1, both warm
            spark.stop()  # also closes the event log
            spark = harness.start_session(master="local[1]")
            replay.spark = spark
            _, wall = replay.run(ops, "replay.local1")
            layers["spark.scaling_1to4"] = wall / layers.pop("_warm_wall_s")
    finally:
        harness.stop_session(spark)
    peak_mb = rss.stop()
    detail = {
        "prepare_s": round(prepare_s, 3),
        "session_s": round(session_s, 3),
        "fixture_events": manifest["events"],
        "final_rows": manifest["final_rows"],
        "warmup": "none: the first replay in the process is timed",
        **({} if args.trace else measured),
    }
    print(json.dumps({"detail": detail}))
    if args.trace:
        layers["session.start_s"] = session_s
        log = fold_event_log(log_dir, (os.path.join(fx, "events_proto"),))
        layers.update(_event_log_layers(log, tracer, layers))
        return ops, {}, layers
    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": peak_mb,
        "rows_per_s": median(rates),
        "query_p50_s": median(reads),
    }
    return ops, e2e, {}


def _measure(replay: Replay, ops: Ops, seconds: float):
    """Replay + read sets until the next iteration would overrun ``seconds``."""
    rates, reads, walls = [], [], []
    t0 = time.monotonic()
    while True:
        t_iter = time.monotonic()
        eng, wall = replay.run(ops)
        rates.append(replay.manifest["events"] / wall)
        walls.append([round(wall, 3), [m["wall_s"] for m in eng.metrics()]])
        reads += read_rounds(eng, replay.expected, ops)
        now = time.monotonic()
        if now - t0 + (now - t_iter) > seconds:
            return rates, reads, {"replays": walls, "reads": [round(r, 3) for r in reads]}


def _gate(replay: Replay, ops: Ops) -> None:
    """Compare the last replay's final state, re-opened from its table
    dir, to the generator's expected final state."""
    from debezium_connector_spanner_spark.sources.lake import LakeTable

    table = LakeTable(replay.spark, os.path.join(replay.run_dir, "table"))
    got = table.read().select("repo", "path", *VALUE_COLS).toPandas()
    ok, detail = final_state_matches(got, replay.expected)
    ops.record("gate.final_state", ok, detail)


# ------------------------------------------------------------ traced run
def _traced(tracer: Tracer, replay: Replay, ops: Ops) -> dict:
    """The first replay of the process and its read sets, traced (the same
    work an untraced run times), then one warm untraced replay as the
    4-thread side of the scaling figure."""
    spark = replay.spark
    tracer.install()
    tracer.enabled = True
    try:
        gc0 = jvm_gc_seconds(spark)
        t0 = time.monotonic()
        eng, wall = replay.run(ops)
        layers = _engine_layers(tracer, eng.metrics(), wall)
        layers.update(_snapshot_facts(eng))
        layers["lake.delta_depth_at_read"] = eng.table.delta_depth()
        lat = read_rounds(eng, replay.expected, ops, tracer)
        layers["lake.read_s"] = median(lat)
        layers["spark.jvm_gc_s"] = jvm_gc_seconds(spark) - gc0
        layers["trace.overhead_frac"] = tracer.self_s / (time.monotonic() - t0)
    finally:
        tracer.enabled = False
        tracer.uninstall()
    _, layers["_warm_wall_s"] = replay.run(ops)
    layers["proto_wire.kernel_ev_per_s"] = _kernel_rate(replay)
    return layers


def _snapshot_facts(eng) -> dict:
    table = eng.table
    snap = table.snapshot()
    entries = [e for fs in snap["buckets"].values() for e in fs]
    deltas = sorted({e[0] for e in entries if e[3] == "delta"})
    keys_out = sum(pq.ParquetFile(os.path.join(table.root, p)).metadata.num_rows for p in deltas)
    windows = eng.metrics()
    mods_in = sum(m["mods"] for m in windows)
    snap_path = os.path.join(table.root, "_meta", f"snap-{snap['id']:08d}.json")
    return {
        "merge.mods_in": mods_in,
        "merge.keys_out": keys_out,
        "merge.fold_ratio": keys_out / mods_in if mods_in else 0.0,
        "lake.files_per_window": len(deltas) / max(1, len(windows)),
        "lake.snapshot_kb": os.path.getsize(snap_path) / 1024,
    }


def _engine_layers(tracer: Tracer, windows: list[dict], wall: float) -> dict:
    tm = [m.get("timings", {}) for m in windows]
    walls = [m["wall_s"] for m in windows]

    def tsum(key: str) -> float:
        return sum(t.get(key, 0.0) for t in tm)

    init_s = tracer.total("engine.init")
    settle_s = tracer.total("engine.run") - sum(walls)
    return {
        "engine.init_s": init_s,
        "engine.window_p50_s": median(walls),
        "engine.windows": len(windows),
        "engine.ctrl_s": tsum("ctrl_s"),
        "engine.merge_s": sum(v for t in tm for k, v in t.items() if k.startswith("merge_")),
        "engine.overlap_s": tsum("overlap_s"),
        "engine.driver_s": sum(walls)
        - sum(tsum(k) for k in ("overlap_s", "compact_apply_s", "gc_s", "schema_retry_s")),
        "engine.settle_s": settle_s,
        "engine.schema_retries": windows[-1]["meter"].get("schema_retries_total", 0),
        "engine.schema_retry_s": tsum("schema_retry_s"),
        "merge.merge_into_s": tracer.total("merge.merge_into"),
        "lake.commit_delta_s": tracer.total("lake.commit_delta"),
        "lake.compact_prepare_s": tracer.total("lake.compact_prepare"),
        "lake.compact_apply_s": tracer.total("lake.compact_apply"),
        "lake.expire_s": tracer.total("lake.expire"),
        "lake.rollbacks": len(tracer.named("lake.rollback")),
        # settle is derived from the run() span, so this is the timed wall
        # minus the init and run() spans: it checks the spans, not wall_s
        "trace.unattributed_s": wall - init_s - sum(walls) - settle_s,
    }


def _kernel_rate(replay: Replay) -> float:
    """Isolated decode of the whole proto log, forced through every mod."""
    from pyspark.sql import functions as F

    from debezium_connector_spanner_spark.sources.proto_wire import (
        PROTO_LOG_SCHEMA,
        decode_proto_wire,
    )

    log = replay.spark.read.schema(PROTO_LOG_SCHEMA).parquet(
        os.path.join(replay.fx, "events_proto")
    )
    forced = decode_proto_wire(log).select(F.size("mods").alias("m")).agg(F.sum("m"))
    _, dt = timed(forced.collect)
    return replay.manifest["events"] / dt


def _event_log_layers(log, tracer: Tracer, layers: dict) -> dict:
    """Fold the traced replay's jobs (those submitted inside its
    ``engine.run`` span) into per-window and per-layer figures."""
    (run,) = tracer.named("engine.run")
    windows = max(1, layers["engine.windows"])
    jobs = log.jobs_between(run.t0, run.t1)
    m = log.metrics(jobs)
    nodes = log.node_counts(run.t0, run.t1)
    merge = log.metrics(j for j in jobs if "merge.merge_into" in j.tag)
    commit_jobs_s = sum(j.t1 - j.t0 for j in jobs if j.tag.endswith("lake.commit_delta"))
    mb = 1024 * 1024
    return {
        "engine.jobs_per_window": len(jobs) / windows,
        "engine.log_scans_per_window": nodes.get("log_scans", 0) / windows,
        "engine.log_mb_per_window": nodes.get("log_bytes", 0) / mb / windows,
        "engine.busy_frac": m["run_ms"] / 1000 / (harness.CORES * run.dur_s),
        "proto_wire.python_run_s": m["python_run_ms"] / 1000,
        "proto_wire.python_start_s": m["python_start_ms"] / 1000,
        "proto_wire.to_python_mb": m["to_python_bytes"] / mb,
        "proto_wire.from_python_mb": m["from_python_bytes"] / mb,
        "proto_wire.decodes_per_window": nodes.get("map_in_arrow", 0) / windows,
        "merge.shuffle_write_mb": merge["shuffle_write_bytes"] / mb,
        "merge.spill_mb": merge["spill_bytes"] / mb,
        "lake.commit_driver_s": layers["lake.commit_delta_s"] - commit_jobs_s,
    }
