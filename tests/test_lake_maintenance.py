"""Lake/engine maintenance semantics:

- compact_apply must REFUSE to rebase a prepared compaction over a base
  rewrite that committed after the prepare snapshot (silent-data-loss
  guard; the async lane's single-writer precondition made detectable)
- rate-model batch sizing (K3): after the cold-start probe, windows are
  sized from the observed events/µs rate with zero extra Spark jobs, and
  the replay still matches the oracle exactly
"""

import json
import os

import pandas as pd
import pytest

from debezium_connector_spanner_spark.fixtures.generator import (
    EPOCH_MICROS,
    GeneratorConfig,
    write_fixture,
)
from debezium_connector_spanner_spark.fixtures.oracle import fold_final_state
from debezium_connector_spanner_spark.operators.decode import decode_mods
from debezium_connector_spanner_spark.operators.merge import fold_changes, merge_into
from debezium_connector_spanner_spark.sources.event_schema import (
    EVENT_LOG_SCHEMA,
    REPOS_SCHEMA_V1,
)
from debezium_connector_spanner_spark.sources.lake import LakeTable
from debezium_connector_spanner_spark.streaming import engine as engine_mod
from debezium_connector_spanner_spark.streaming.engine import CdcReplayEngine


def _event(token, ts_us, rs, txn, mods, mod_type="UPDATE"):
    return {
        "record_type": "data_change",
        "partition_token": token,
        "commit_ts": ts_us,
        "record_sequence": rs,
        "server_txn_id": txn,
        "is_last_in_txn_in_partition": True,
        "table_name": "repos",
        "column_types": REPOS_SCHEMA_V1.column_types_json(),
        "mods": mods,
        "mod_type": mod_type,
        "value_capture_type": "OLD_AND_NEW_VALUES",
        "number_of_records_in_transaction": 1,
        "number_of_partitions_in_transaction": 1,
        "transaction_tag": "",
        "is_system_transaction": False,
        "child_partitions": None,
    }


def _mod(key, new):
    return {
        "keys": json.dumps(key, sort_keys=True),
        "new_values": json.dumps(new, sort_keys=True),
        "old_values": None,
    }


def _folded_batch(spark, ts_us, commit):
    rows = [
        _event(
            "t",
            ts_us,
            "1",
            f"x{ts_us}",
            [_mod({"repo": "r1", "path": "p1"}, {"commit": commit, "lang": "go", "content": "c"})],
            "INSERT",
        )
    ]
    pdf = pd.DataFrame(rows)
    pdf["commit_ts"] = pd.to_datetime(pdf["commit_ts"], unit="us")
    decoded = decode_mods(spark.createDataFrame(pdf, EVENT_LOG_SCHEMA), REPOS_SCHEMA_V1)
    return fold_changes(decoded, ["repo", "path"], ["commit", "lang", "content"])


def test_compact_apply_guards_newer_base(spark, tmp_root):
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "tbl"), REPOS_SCHEMA_V1.spark_struct(), ["repo", "path"], 1
    )
    schema = REPOS_SCHEMA_V1.spark_struct()
    merge_into(t, _folded_batch(spark, 1_000, "a"), target_schema=schema, mode="mor")
    merge_into(t, _folded_batch(spark, 2_000, "b"), target_schema=schema, mode="mor")
    prep = t.compact_prepare(t.current_snapshot_id())
    assert prep is not None
    # a base rewrite lands between prepare and apply (violates the async
    # lane's precondition): apply must raise, not silently drop it
    merge_into(t, _folded_batch(spark, 3_000, "c"), target_schema=schema, mode="cow")
    with pytest.raises(RuntimeError, match="compact_apply"):
        t.compact_apply(prep)
    # state is untouched by the refused apply and newest write survives
    assert t.read().collect()[0]["commit"] == "c"
    # delta-only commits after prepare remain rebase-able (normal MOR path)
    merge_into(t, _folded_batch(spark, 4_000, "d"), target_schema=schema, mode="mor")
    prep2 = t.compact_prepare(t.current_snapshot_id())
    merge_into(t, _folded_batch(spark, 5_000, "e"), target_schema=schema, mode="mor")
    t.compact_apply(prep2)
    assert t.read().collect()[0]["commit"] == "e"


def test_failed_snapshot_commit_keeps_previous_state(spark, tmp_root, monkeypatch):
    """A snapshot commit that dies after writing the manifest's temp file
    but before renaming it leaves no partial snap-*.json, CURRENT
    unchanged, and read() at the previous state; the next commit reuses
    the id cleanly."""
    root = os.path.join(tmp_root, "tbl")
    schema = REPOS_SCHEMA_V1.spark_struct()
    t = LakeTable.create(spark, root, schema, ["repo", "path"], 2)
    merge_into(t, _folded_batch(spark, 1_000, "a"), target_schema=schema, mode="mor")
    sid = t.current_snapshot_id()
    meta = os.path.join(root, "_meta")
    before = sorted(os.listdir(meta))

    real_replace = os.replace

    def replace(src, dst):
        if os.path.basename(dst).startswith("snap-"):
            assert os.path.getsize(src) > 0  # the temp manifest was written
            raise OSError("simulated crash between temp write and rename")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", replace)
    with pytest.raises(OSError, match="simulated crash"):
        merge_into(t, _folded_batch(spark, 2_000, "b"), target_schema=schema, mode="mor")
    monkeypatch.undo()

    assert sorted(os.listdir(meta)) == before  # no partial manifest, no temp
    fresh = LakeTable(spark, root)
    assert fresh.current_snapshot_id() == sid
    assert [r["commit"] for r in fresh.read().collect()] == ["a"]
    merge_into(fresh, _folded_batch(spark, 2_000, "b"), target_schema=schema, mode="mor")
    assert fresh.current_snapshot_id() == sid + 1
    assert [r["commit"] for r in fresh.read().collect()] == ["b"]


def test_rate_sized_batches_match_oracle(spark, tmp_root):
    cfg = GeneratorConfig(n_repos=8, paths_per_repo=5, hot_repos=2, events_per_key_mean=4)
    fx = os.path.join(tmp_root, "fx")
    m = write_fixture(fx, cfg)
    base = spark.read.parquet(os.path.join(fx, "base_repos.parquet"))
    cap = max(50, m["events"] // 12)
    eng = CdcReplayEngine(
        spark,
        fx,
        os.path.join(tmp_root, "tbl"),
        os.path.join(tmp_root, "ckpt"),
        start_us=EPOCH_MICROS,
        end_us=EPOCH_MICROS + cfg.duration_s * 1_000_000,
        n_batches=2,  # coarse boundaries: sizing must subdivide them
        initial_schema=REPOS_SCHEMA_V1,
        base_df=base,
        n_buckets=8,
        max_events_per_batch=cap,
    )
    totals = eng.run()
    assert totals["events"] == m["events"]
    # the cap subdivided the 2 scheduled boundaries into more windows
    assert totals["batches"] > 2
    # once calibrated (2 observed batches; traffic at this tiny scale is
    # bursty while child partitions open) windows stay near the cap
    sized = [x["events"] for x in eng.metrics() if x["events"]]
    assert max(sized[2:], default=0) <= 4 * cap
    # rate survives the checkpoint -> a resumed engine skips cold start
    eng2 = CdcReplayEngine(
        spark,
        fx,
        os.path.join(tmp_root, "tbl"),
        os.path.join(tmp_root, "ckpt"),
        start_us=EPOCH_MICROS,
        end_us=EPOCH_MICROS + cfg.duration_s * 1_000_000,
        n_batches=2,
        initial_schema=REPOS_SCHEMA_V1,
        max_events_per_batch=cap,
    )
    assert eng2._rate_ev_per_us is not None
    got = (
        eng.final_state().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    want = fold_final_state(fx).sort_values(["repo", "path"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want)


def test_adaptive_skew_auto_selects_salted(spark, tmp_root):
    """C3 adaptive skew: with one mega-key dominating the stream, the
    engine must flip that table's fold to the salted two-phase shape from
    the observed key-hash histogram (one-batch reaction lag) — no operator
    flag — and still match the oracle exactly."""
    cfg = GeneratorConfig(
        n_repos=4, paths_per_repo=3, events_per_key_mean=3, hot_key_events=800
    )
    fx = os.path.join(tmp_root, "fx")
    write_fixture(fx, cfg)
    eng = CdcReplayEngine(
        spark,
        fx,
        os.path.join(tmp_root, "t"),
        os.path.join(tmp_root, "c"),
        start_us=EPOCH_MICROS,
        end_us=EPOCH_MICROS + cfg.duration_s * 1_000_000,
        n_batches=4,
        initial_schema=REPOS_SCHEMA_V1,
        base_df=spark.read.parquet(os.path.join(fx, "base_repos.parquet")),
        n_buckets=4,
        skew_mode="adaptive",
    )
    eng.run()
    ms = eng.metrics()
    # cold start is fused (nothing observed yet)...
    assert ms[0]["salted_tables"] == []
    # ...then the histogram flags the hot key and flips the fold
    assert any(m["salted_tables"] == ["repos"] for m in ms[1:])
    assert max(m["hot_share"].get("repos", 0) for m in ms) >= 0.6
    got = (
        eng.final_state().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    want = fold_final_state(fx).sort_values(["repo", "path"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want)


def test_metadata_gc_bounds_files_and_resumes(spark, tmp_root, monkeypatch):
    """O13 for files: snapshots, checkpoints and dead data files must stay
    BOUNDED over a long replay with compaction (no O(batches) metadata
    growth), and resume-from-checkpoint must still be exact after GC."""
    cfg = GeneratorConfig(n_repos=6, paths_per_repo=4, hot_repos=1, events_per_key_mean=6)
    fx = os.path.join(tmp_root, "fx")
    write_fixture(fx, cfg)
    monkeypatch.setattr(engine_mod, "COMPACT_EVERY", 3)
    monkeypatch.setattr(engine_mod, "GC_EVERY", 4)
    monkeypatch.setattr(engine_mod, "GC_KEEP", 3)

    def mk():
        tbl = os.path.join(tmp_root, "tbl")
        return CdcReplayEngine(
            spark,
            fx,
            tbl,
            os.path.join(tmp_root, "ckpt"),
            start_us=EPOCH_MICROS,
            end_us=EPOCH_MICROS + cfg.duration_s * 1_000_000,
            n_batches=18,
            initial_schema=REPOS_SCHEMA_V1,
            base_df=(
                spark.read.parquet(os.path.join(fx, "base_repos.parquet"))
                if not os.path.exists(tbl)
                else None
            ),
            n_buckets=4,
        )

    eng1 = mk()
    eng1.run(max_batches=10)
    eng = mk()  # resume AFTER gc already ran
    eng.run()

    meta = os.listdir(os.path.join(tmp_root, "tbl", "_meta"))
    snaps = [f for f in meta if f.startswith("snap-")]
    # keep horizon (3) + commits since the last gc tick (< GC_EVERY + drain)
    assert len(snaps) <= 10, snaps
    ckpts = [f for f in os.listdir(os.path.join(tmp_root, "ckpt")) if f.startswith("ckpt-")]
    assert len(ckpts) <= 10, ckpts
    # without GC this replay leaves O(n_batches x buckets) dead files
    # (~80+); with GC the on-disk set tracks the retained snapshots only
    assert eng.table.data_file_count() <= 48
    got = (
        eng.final_state().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    want = fold_final_state(fx).sort_values(["repo", "path"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want)

