"""Benchmark harness. Prints ONE COMPACT JSON line (< 2000 chars — the
driver records only the tail of stdout, so the final line must fit
whole or the round's headline is unrecoverable; VERDICT r4 blemish #1):

{"metric": "...", "value": <headline sec>, "unit": "sec",
 "queries": {...per-query sec...}, "sf": ..., ...scalar extras...}

Headline `value`: the sf1 replay wall — one full CDC replay
(decode -> DAG-gated scan -> LWW fold -> bucketed MERGE -> checkpoint)
over the cached 41M-event bench-sf1 fixture with rate-model batch
sizing engaged. Promoted from the sf0.1 replay in round 5 (VERDICT r4
#6): the 41M-event rung is stable under host steal noise, so the
round-over-round signal stops depending on scheduler luck. The sf0.1
replay and the analytics/pipeline query walls stay in `queries` for
continuity; full detail (replay quantiles, rows, dialect ratios) goes
to BENCH_EXTRAS.json next to this file.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     BENCH_PARALLELISM (override master threads, for scaling runs),
     BENCH_SKIP_SF1=1 (skip the sf1 headline; value falls back to the
     sf0.1 query total — used by scaling sweeps that only need sf0.1).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from debezium_connector_spanner_spark.fixtures.generator import (
    EPOCH_MICROS,
    FIXTURE_ROOT,
    GeneratorConfig,
    write_fixture,
)
from debezium_connector_spanner_spark.session import get_spark
from debezium_connector_spanner_spark.sources.event_schema import REPOS_SCHEMA_V1
from debezium_connector_spanner_spark.streaming.engine import CdcReplayEngine

BENCH_QUERIES = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "events_lww_latest",
    "events_hourly",
    "docs_exact_dedup",
    "docs_token_stats",
]


def bench_fixture_config(sf: float) -> GeneratorConfig:
    # sized for throughput measurement: ~4M change events at sf0.1 so the
    # parallel work dominates per-batch fixed overhead (generation is
    # multiprocess + disk-cached; first bench run pays it once)
    scale = max(1, int(sf * 1000))  # 1 / 10 / 100
    return GeneratorConfig(
        n_repos=600 * scale,
        paths_per_repo=8,
        hot_repos=6 * scale,
        events_per_key_mean=8,
        duration_s=3600,
        heartbeats_per_token=16,
    )


def run_cdc_replay(
    spark,
    sf_name: str,
    sf: float,
    n_batches: int = 8,
    max_events_per_batch: int | None = None,
    fixture: str | None = None,
) -> dict:
    # bucket count scales with the session's parallelism (base and
    # compaction writes have n_buckets partitions: 5 waves per core packs
    # the stage tail — 64 buckets on 32 cores is 2 exact waves and
    # stragglers idle half the machine). Like shuffle partitions on a real
    # cluster, sized at table create per deployment.
    n_buckets = max(64, 5 * spark.sparkContext.defaultParallelism)
    import json as _json

    fx_override = fixture or os.environ.get("BENCH_FIXTURE")
    if fx_override:
        fx = fx_override
        with open(os.path.join(fx, "manifest.json")) as f:
            m = _json.load(f)

        class _C:  # duration from the manifest
            duration_s = m["duration_s"]

        cfg = _C()
    else:
        cfg = bench_fixture_config(sf)
        fx = os.path.join(FIXTURE_ROOT, f"bench-{sf_name}")
        m = write_fixture(fx, cfg)  # cached after first generation
    run_root = os.path.join(fx, "bench-run")
    if os.path.exists(run_root):
        shutil.rmtree(run_root)  # throughput runs always start cold
    base = spark.read.parquet(os.path.join(fx, "base_repos.parquet"))
    t0 = time.monotonic()
    eng = CdcReplayEngine(
        spark,
        fx,
        os.path.join(run_root, "table"),
        os.path.join(run_root, "ckpt"),
        start_us=EPOCH_MICROS,
        end_us=EPOCH_MICROS + cfg.duration_s * 1_000_000,
        n_batches=n_batches,
        initial_schema=REPOS_SCHEMA_V1,
        base_df=base,
        n_buckets=n_buckets,
        max_events_per_batch=max_events_per_batch,
    )
    totals = eng.run()
    wall = time.monotonic() - t0
    final_rows = eng.final_state().count()
    return {
        "wall_s": round(wall, 3),
        "events": totals["events"],
        "events_per_sec": round(totals["events"] / wall, 1),
        "final_rows": final_rows,
        "fixture_events": m["events"],
        "batches": totals["batches"],
        "quantiles": eng.metrics_summary(),
    }


def run_dialect_compare(spark) -> dict:
    """Wire-dialect decode cost: the same mid-size replay (~410k events)
    under struct (JVM columnar), proto (Arrow-batched Python varint
    kernel) and pg_json (JVM variant_get) — reported as absolute walls +
    ratios over struct. The proto/pg logs are derived once from the
    canonical fixture and cached beside it. Pruning parity holds across
    dialects (the raw proto log is filtered BEFORE mapInPandas), so the
    ratio isolates pure decode cost."""
    from debezium_connector_spanner_spark.fixtures.generator import (
        write_pg_json_log,
        write_proto_log,
    )

    cfg = bench_fixture_config(0.01)
    fx = os.path.join(FIXTURE_ROOT, "bench-sf0.01")
    m = write_fixture(fx, cfg)
    write_proto_log(fx)
    write_pg_json_log(fx)
    base = spark.read.parquet(os.path.join(fx, "base_repos.parquet"))
    out: dict = {"events": m["events"]}
    for wire in ("struct", "proto", "pg_json"):
        run_root = os.path.join(fx, f"bench-dialect-{wire}")
        if os.path.exists(run_root):
            shutil.rmtree(run_root)
        t0 = time.monotonic()
        eng = CdcReplayEngine(
            spark,
            fx,
            os.path.join(run_root, "table"),
            os.path.join(run_root, "ckpt"),
            start_us=EPOCH_MICROS,
            end_us=EPOCH_MICROS + cfg.duration_s * 1_000_000,
            n_batches=4,
            initial_schema=REPOS_SCHEMA_V1,
            base_df=base,
            n_buckets=64,
            wire_format=wire,
        )
        eng.run()
        out[f"{wire}_s"] = round(time.monotonic() - t0, 3)
    out["proto_over_struct"] = round(out["proto_s"] / out["struct_s"], 2)
    out["pg_over_struct"] = round(out["pg_json_s"] / out["struct_s"], 2)

    # Isolated decode-job cost (best of 2, warm): the full-replay ratios
    # above are hostage to the struct leg's steal luck (its wall swings
    # 8-23s rep to rep); a single decode-and-count job over the SAME
    # full log is the stable per-dialect signal.
    from pyspark.sql import functions as F  # noqa: PLC0415

    from debezium_connector_spanner_spark.sources.event_schema import (
        EVENT_LOG_SCHEMA,
    )
    from debezium_connector_spanner_spark.sources.pg_json import (
        PG_LOG_SCHEMA,
        decode_pg_json,
    )
    from debezium_connector_spanner_spark.sources.proto_wire import (
        PROTO_LOG_SCHEMA,
        decode_proto_wire,
    )

    def _force(df):
        # count() alone lets Catalyst elide projections; summing
        # size(mods) forces each dialect to materialize the heavy path
        # (parquet mods read / variant mods extraction / full kernel)
        return df.select(F.size("mods").alias("m")).agg(F.sum("m")).collect()

    jobs = {
        "struct_read": lambda: _force(
            spark.read.schema(EVENT_LOG_SCHEMA).parquet(os.path.join(fx, "events"))
        ),
        "proto_decode": lambda: _force(
            decode_proto_wire(
                spark.read.schema(PROTO_LOG_SCHEMA).parquet(
                    os.path.join(fx, "events_proto")
                )
            )
        ),
        "pg_decode": lambda: _force(
            decode_pg_json(
                spark.read.schema(PG_LOG_SCHEMA).parquet(
                    os.path.join(fx, "events_pg")
                )
            )
        ),
    }
    decode_only = {}
    for name, job in jobs.items():
        best = None
        for _ in range(2):
            t0 = time.monotonic()
            job()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        decode_only[f"{name}_s"] = round(best, 3)
    out["decode_only"] = decode_only
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    sf = float(sf_name.replace("sf", "")) if sf_name.startswith("sf") else 0.1
    par = os.environ.get("BENCH_PARALLELISM") or os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf1_fx = os.path.join(FIXTURE_ROOT, "bench-sf1")
    run_sf1 = (
        not os.environ.get("BENCH_SKIP_SF1")
        and os.path.exists(os.path.join(sf1_fx, "manifest.json"))
    )
    spark = get_spark(
        app_name="cdc-bench",
        master=f"local[{par}]",
        shuffle_partitions=max(8, int(par)),
        # 41M-event fold shuffle + concurrent compaction lane needs the
        # bigger heap (single shared local-mode JVM; per-executor on a
        # real cluster)
        extra_conf={"spark.driver.memory": "16g"} if run_sf1 else None,
    )

    queries: dict[str, float] = {}
    extras: dict = {"parallelism": int(par)}

    replay = run_cdc_replay(spark, sf_name, sf)
    queries["cdc_replay"] = replay["wall_s"]
    extras["cdc_replay"] = replay

    from debezium_connector_spanner_spark.plans.analytics_queries import ANALYTIC_QUERIES

    for name in BENCH_QUERIES:
        fn = ANALYTIC_QUERIES[name]
        t0 = time.monotonic()
        n = fn(spark, sf_dir).count()
        queries[name] = round(time.monotonic() - t0, 3)
        extras.setdefault("rows", {})[name] = n

    # round-3 operators timed in extras (NOT in the headline total, so the
    # round-over-round `value` stays comparable)
    for name in (
        "events_asof_attribution",
        "events_purchases_in_click_sessions",
        "events_value_quantiles",
        "tpch_q10",
        "tpch_q18",
    ):
        fn = ANALYTIC_QUERIES[name]
        t0 = time.monotonic()
        n = fn(spark, sf_dir).count()
        extras.setdefault("new_ops_sec", {})[name] = round(time.monotonic() - t0, 3)
        extras.setdefault("rows", {})[name] = n
    from debezium_connector_spanner_spark.plans.pipeline_queries import (
        PIPELINE_QUERIES,
    )

    for name in ("docs_fingerprint_dups", "docs_dataset_split"):
        fn = PIPELINE_QUERIES[name]
        t0 = time.monotonic()
        n = fn(spark, sf_dir).count()
        extras.setdefault("new_ops_sec", {})[name] = round(time.monotonic() - t0, 3)
        extras.setdefault("rows", {})[name] = n

    # round-4/5 operators (same treatment: timed in extras, not headline)
    for name, fn in (
        ("tpch_q7", ANALYTIC_QUERIES["tpch_q7"]),
        ("docs_decontaminate", PIPELINE_QUERIES["docs_decontaminate"]),
        ("docs_pack_sequences", PIPELINE_QUERIES["docs_pack_sequences"]),
        ("docs_dup_clusters", PIPELINE_QUERIES["docs_dup_clusters"]),
        ("docs_pii_scrub", PIPELINE_QUERIES["docs_pii_scrub"]),
        ("docs_repetition", PIPELINE_QUERIES["docs_repetition"]),
        ("emb_topk_lsh_recall", PIPELINE_QUERIES["emb_topk_lsh_recall"]),
    ):
        t0 = time.monotonic()
        n = fn(spark, sf_dir).count()
        extras.setdefault("new_ops_sec", {})[name] = round(time.monotonic() - t0, 3)
        extras.setdefault("rows", {})[name] = n

    # wire-dialect decode-cost ratio (VERDICT r03 #6): proto target <=3x
    extras["wire_dialects"] = run_dialect_compare(spark)

    # sf1 headline (VERDICT r4 #6): one 41M-event replay with rate-model
    # batch sizing; its wall is the round-over-round `value`. The cached
    # fixture makes this ~275s of pure replay, stable to a few % across
    # reps (BENCH_SF1.json holds the multi-rep record from
    # tools/bench_sf1.py).
    if run_sf1:
        sf1 = run_cdc_replay(
            spark, "sf1", 1.0, max_events_per_batch=2_500_000, fixture=sf1_fx
        )
        extras["sf1_replay"] = sf1
        queries["cdc_replay_sf1"] = sf1["wall_s"]
        metric = "cdc_sf1_replay_wall"
        value = sf1["wall_s"]
        scalars = {
            "sf1_events": sf1["events"],
            "sf1_events_per_sec": sf1["events_per_sec"],
        }
    else:
        metric = "cdc_replay_plus_analytics_wall"
        value = round(sum(queries.values()), 3)
        scalars = {}

    sf1_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_SF1.json")
    if os.path.exists(sf1_path):
        with open(sf1_path) as f:
            extras["sf1_multirep_record"] = json.load(f)

    # full detail to a sidecar file; the printed line stays compact so
    # the driver's 2000-char stdout tail parses it whole
    extras_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_EXTRAS.json"
    )
    with open(extras_path, "w") as f:
        json.dump(extras, f, indent=1)

    line = json.dumps(
        {
            "metric": metric,
            "value": value,
            "unit": "sec",
            "queries": {k: round(v, 2) for k, v in queries.items()},
            "sf": sf,
            **scalars,
            "extras_file": "BENCH_EXTRAS.json",
        }
    )
    # stop Spark BEFORE printing: shutdown chatter must not trail the line
    spark.stop()
    sys.stdout.flush()
    print(line)
    sys.stdout.flush()
    if len(line) > 1900:  # tripwire: never regress BENCH parsing again
        sys.stderr.write(f"WARNING: bench line {len(line)} chars > 1900\n")


if __name__ == "__main__":
    main()
