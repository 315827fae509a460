"""C5 task auto-scaler — pure scaling semantics + engine integration.

Reference parity: task/scaler/TaskScaleCalculator.java:20-47 (+20% scale-out
steps, scale-in to 50% above a half-idle fleet, [min,max] bounds) and
TaskScalerTest-style scenario coverage. The engine-level test asserts the
per-batch ``tasks`` grant scales OUT as the partition DAG splits and the
final state stays byte-exact (the scaler only changes the salt width of an
associative fold, never semantics).
"""

import json
import os

from debezium_connector_spanner_spark.fixtures.generator import (
    EPOCH_MICROS,
    GeneratorConfig,
    write_fixture,
)
from debezium_connector_spanner_spark.sources.event_schema import REPOS_SCHEMA_V1
from debezium_connector_spanner_spark.streaming import engine as engine_mod
from debezium_connector_spanner_spark.streaming.engine import CdcReplayEngine
from debezium_connector_spanner_spark.streaming.task_scaler import (
    TaskScaler,
    new_tasks_count,
)


def _n(current, partitions, idling, desired=2, tmax=10, tmin=2):
    return new_tasks_count(current, desired, tmax, tmin, partitions, idling)


def test_scale_out_twenty_percent_steps():
    # 20 partitions over 2 tasks, desired 2/task: grow 2->3->4->5->6->8->10
    # (each step ceil(20%), capped), stop at tasks_max even though 20/10=2.0
    assert _n(2, 20, 0) == 10
    # moderate overload stops as soon as the ratio clears desired
    assert _n(2, 5, 0) == 3  # 5/2=2.5>2 -> +1 -> 5/3=1.67<=2
    # already balanced: no change
    assert _n(4, 8, 0) == 4


def test_scale_in_requires_half_idle_fleet():
    # ratio below desired but idle fleet small: hold (no flapping)
    assert _n(10, 2, 4) == 10
    # >50% idle AND underloaded: halve (floor at tasks_min)
    assert _n(10, 2, 8) == 5
    assert _n(4, 0, 4) == 2
    # at desired exactly (not strictly below): hold
    assert _n(10, 20, 8) == 10


def test_bounds_clamp():
    assert _n(1, 0, 0) == 2  # below tasks_min -> clamped up
    assert _n(50, 200, 0) == 10  # above tasks_max -> clamped down
    assert _n(2, 0, 0, tmin=2) == 2  # idle but already at min


def test_stateful_scaler_derives_idling_from_previous_grant():
    s = TaskScaler(tasks_min=2, tasks_max=16, desired_partitions_per_task=2)
    assert s.step(1) == 2  # 1 token: min width
    assert s.step(12) == 6  # DAG split burst: 2->3->4->5->6 (12/6<=2)
    # tokens collapse to 1; idling vs prev active 12 is 0 -> hold a batch
    assert s.step(1) == 6  # idle signal lags one batch (anti-flap)
    assert s.step(1) == 3  # 6 granted vs 1 active last batch -> halve
    assert s.step(1) == 2
    assert s.history == [2, 6, 6, 3, 2]


def test_engine_tasks_trace_and_exactness(spark, tmp_root, monkeypatch):
    """Replay with the scaler live on every batch (skew_mode='salted' so
    the grant is exercised in the fold): the tasks trace must rise with
    the token-DAG fan-out, and the final state must equal the plain
    fused-fold replay byte-for-byte."""
    import pandas as pd

    cfg = GeneratorConfig(n_repos=8, paths_per_repo=5, hot_repos=2, events_per_key_mean=4)
    fx = os.path.join(tmp_root, "fx")
    write_fixture(fx, cfg)
    base = spark.read.parquet(os.path.join(fx, "base_repos.parquet"))
    end_us = EPOCH_MICROS + cfg.duration_s * 1_000_000

    def mk(sub, skew_mode, **kw):
        return CdcReplayEngine(
            spark,
            fx,
            os.path.join(tmp_root, sub, "t"),
            os.path.join(tmp_root, sub, "ckpt"),
            start_us=EPOCH_MICROS,
            end_us=end_us,
            n_batches=6,
            initial_schema=REPOS_SCHEMA_V1,
            base_df=base,
            n_buckets=8,
            skew_mode=skew_mode,
            **kw,
        )

    # desired=1 token/worker: the fixture DAG (root -> A,B -> A1,A2 ->
    # merge) peaks at ~4 concurrent tokens, enough to force scale-out
    monkeypatch.setattr(engine_mod, "DESIRED_TOKENS_PER_TASK", 1)
    eng = mk("scaled", "salted")
    eng.run()
    with open(eng.metrics_path) as f:
        metrics = [json.loads(line) for line in f]
    tasks = [m["tasks"] for m in metrics]
    toks = [m["active_tokens"] for m in metrics]
    # bounded [SCALER_MIN, defaultParallelism]
    tasks_max = spark.sparkContext.defaultParallelism
    assert eng._scaler.tasks_max == tasks_max
    assert all(2 <= t <= tasks_max for t in tasks)
    # the fixture DAG splits over the replay: the grant must scale out
    assert max(tasks) > tasks[0]
    # scale-out follows load: widest grant not before the widest DAG batch
    assert tasks.index(max(tasks)) >= toks.index(max(toks))

    ref = mk("plain", "fused")
    ref.run()
    got = eng.final_state().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    want = ref.final_state().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)


def test_work_units_volume_path(spark, tmp_root):
    """A calibrated rate model widens the work-unit count past the token
    count: 3 tokens but ~1M predicted events at 64k/target -> 16 units."""
    cfg = GeneratorConfig(n_repos=4, paths_per_repo=3, hot_repos=1, events_per_key_mean=2)
    fx = os.path.join(tmp_root, "fx")
    write_fixture(fx, cfg)
    base = spark.read.parquet(os.path.join(fx, "base_repos.parquet"))
    eng = CdcReplayEngine(
        spark,
        fx,
        os.path.join(tmp_root, "t"),
        os.path.join(tmp_root, "ckpt"),
        start_us=EPOCH_MICROS,
        end_us=EPOCH_MICROS + cfg.duration_s * 1_000_000,
        n_batches=4,
        initial_schema=REPOS_SCHEMA_V1,
        base_df=base,
        n_buckets=4,
    )
    toks = ["a", "b", "c"]
    assert eng._work_units(toks, eng.frontier_us + 1) == 3
    eng._rate_ev_per_us = 1.0  # 1 event/µs
    one_m_us = eng.frontier_us + 1_000_000
    assert eng._work_units(toks, one_m_us) == -(-1_000_000 // 65536)  # 16
    # token count still wins when volume is tiny
    assert eng._work_units(toks, eng.frontier_us + 10) == 3


def test_scaler_state_survives_resume(spark, tmp_root):
    cfg = GeneratorConfig(n_repos=6, paths_per_repo=4, hot_repos=1, events_per_key_mean=3)
    fx = os.path.join(tmp_root, "fx")
    write_fixture(fx, cfg)
    base = spark.read.parquet(os.path.join(fx, "base_repos.parquet"))
    end_us = EPOCH_MICROS + cfg.duration_s * 1_000_000

    def mk():
        return CdcReplayEngine(
            spark,
            fx,
            os.path.join(tmp_root, "t"),
            os.path.join(tmp_root, "ckpt"),
            start_us=EPOCH_MICROS,
            end_us=end_us,
            n_batches=6,
            initial_schema=REPOS_SCHEMA_V1,
            base_df=base if not os.path.exists(os.path.join(tmp_root, "t")) else None,
            n_buckets=8,
        )

    e1 = mk()
    e1.run(max_batches=3)
    granted, prev = e1._scaler.current, e1._scaler._prev_active
    e2 = mk()
    assert e2._scaler.current == granted  # no cold-restart dip
    assert e2._scaler._prev_active == prev
    e2.run()
