"""Randomized crash/resume property: for random generator profiles,
batch counts and crash schedules, a replay interrupted at ARBITRARY
batch boundaries (any number of times) must produce the byte-identical
final state of an uninterrupted replay — i.e. the independent pandas
oracle. Generalizes test_resume_from_checkpoint's single fixed crash
(GracefulRestartIT.java:44-73) to the whole schedule space.

Every restart is a brand-new engine object resuming purely from the
persisted checkpoint (no shared in-memory state), with engine knobs
(skew mode, sink mode, batch sizing) drawn from the same seed so the
property covers the configuration cross-product over rounds of runs.
One trial also resumes from checkpoints that carry the `scaler` key an
earlier engine version wrote, which the loader must ignore.
"""

import json
import os
import random

import pandas as pd

from debezium_connector_spanner_spark.fixtures.generator import (
    EPOCH_MICROS,
    GeneratorConfig,
    write_fixture,
)
from debezium_connector_spanner_spark.fixtures.oracle import fold_final_state
from debezium_connector_spanner_spark.sources.event_schema import REPOS_SCHEMA_V1
from debezium_connector_spanner_spark.streaming.engine import CdcReplayEngine


def _add_to_latest_checkpoint(ckpt_dir, extra):
    """Merge ``extra`` into the checkpoint LATEST names."""
    with open(os.path.join(ckpt_dir, "LATEST")) as f:
        path = os.path.join(ckpt_dir, f.read().strip())
    with open(path) as f:
        state = json.load(f)
    state.update(extra)
    with open(path, "w") as f:
        json.dump(state, f)


def _run_with_crashes(
    spark, fx, root, cfg, n_batches, crash_after, ckpt_extra=None, **kw
):
    """Replay to completion, 'crashing' (dropping the engine) after each
    prefix length in crash_after. ``ckpt_extra`` keys are merged into the
    newest checkpoint before each resume. Returns the final engine."""
    base = spark.read.parquet(os.path.join(fx, "base_repos.parquet"))
    end_us = EPOCH_MICROS + cfg.duration_s * 1_000_000

    def mk(first):
        return CdcReplayEngine(
            spark,
            fx,
            os.path.join(root, "t"),
            os.path.join(root, "c"),
            start_us=EPOCH_MICROS,
            end_us=end_us,
            n_batches=n_batches,
            initial_schema=REPOS_SCHEMA_V1,
            base_df=base if first else None,
            n_buckets=4,
            **kw,
        )

    eng = mk(True)
    done = 0
    for k in crash_after:
        step = k - done
        if step <= 0:
            continue
        eng.run(max_batches=step)
        done = k
        if ckpt_extra:
            _add_to_latest_checkpoint(os.path.join(root, "c"), ckpt_extra)
        eng = mk(False)  # crash: new object, checkpoint-only resume
    eng.run()  # drain to the end
    return eng


def test_corrupt_latest_checkpoint_falls_back_one_batch(spark, tmp_root):
    """A crash can leave the newest checkpoint file truncated (a torn or
    corrupted write). Resume must fall back to the previous
    parseable checkpoint — which GC_KEEP >= 2 preserves — roll the table
    back to ITS snapshot, re-apply the lost batch idempotently, and
    still reproduce the oracle. If every checkpoint is unreadable the
    engine must refuse to re-bootstrap over committed state."""
    import pytest

    cfg = GeneratorConfig(
        n_repos=6, paths_per_repo=4, hot_repos=1, events_per_key_mean=3, seed=77
    )
    fx = os.path.join(tmp_root, "fx")
    write_fixture(fx, cfg)
    base = spark.read.parquet(os.path.join(fx, "base_repos.parquet"))
    end_us = EPOCH_MICROS + cfg.duration_s * 1_000_000

    def mk(first):
        return CdcReplayEngine(
            spark,
            fx,
            os.path.join(tmp_root, "t"),
            os.path.join(tmp_root, "c"),
            start_us=EPOCH_MICROS,
            end_us=end_us,
            n_batches=5,
            initial_schema=REPOS_SCHEMA_V1,
            base_df=base if first else None,
            n_buckets=4,
        )

    eng = mk(True)
    eng.run(max_batches=3)
    ckpt_dir = os.path.join(tmp_root, "c")
    with open(os.path.join(ckpt_dir, "LATEST")) as f:
        newest = f.read().strip()
    # truncate the newest checkpoint mid-JSON (simulated torn write)
    p = os.path.join(ckpt_dir, newest)
    blob = open(p).read()
    open(p, "w").write(blob[: len(blob) // 2])

    eng2 = mk(False)
    assert eng2.batch_id < 3  # resumed from an OLDER checkpoint
    eng2.run()
    got = (
        eng2.final_state()
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    want = fold_final_state(fx).sort_values(["repo", "path"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want)

    # every checkpoint unreadable -> explicit refusal, no silent restart
    for n in os.listdir(ckpt_dir):
        if n.startswith("ckpt-") and n.endswith(".json"):
            open(os.path.join(ckpt_dir, n), "w").write("{corrupt")
    with pytest.raises(RuntimeError, match="unreadable"):
        mk(False)


def test_random_crash_schedules_reproduce_oracle(spark, tmp_root):
    rng = random.Random(1234)
    for trial in range(3):
        cfg = GeneratorConfig(
            n_repos=rng.choice([5, 8, 11]),
            paths_per_repo=rng.choice([3, 4]),
            hot_repos=rng.choice([1, 2]),
            events_per_key_mean=rng.choice([3, 5]),
            hot_key_events=rng.choice([0, 300]),
            seed=100 + trial,
        )
        fx = os.path.join(tmp_root, f"fx{trial}")
        write_fixture(fx, cfg)
        n_batches = rng.choice([4, 6, 7])
        n_crashes = rng.randint(1, 3)
        crash_after = sorted(rng.sample(range(1, n_batches), n_crashes))
        kw = dict(
            skew_mode=rng.choice(["adaptive", "fused", "salted"]),
            sink_mode=rng.choice(["mor", "cow"]),
        )
        # this draw once picked a compaction mode (async is the only one
        # left); keep consuming it so fixtures, crash points and the other
        # options stay the same schedule
        rng.choice(["async", "sync"])
        if rng.random() < 0.5:
            kw["max_events_per_batch"] = rng.choice([150, 400])
        root = os.path.join(tmp_root, f"run{trial}")
        # trial 0 resumes from checkpoints carrying the retired task
        # scaler's state (no RNG draw, so the schedule is unchanged)
        extra = {"scaler": {"current": 4, "prev_active": 2}} if trial == 0 else None
        eng = _run_with_crashes(
            spark, fx, root, cfg, n_batches, crash_after, ckpt_extra=extra, **kw
        )
        got = (
            eng.final_state()
            .toPandas()
            .sort_values(["repo", "path"])
            .reset_index(drop=True)
        )
        want = (
            fold_final_state(fx)
            .sort_values(["repo", "path"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            got[want.columns.tolist()],
            want,
            obj=f"trial {trial} crashes={crash_after} kw={kw} ckpt_extra={extra}",
        )


def test_latest_parseable_after_torn_writes(spark, tmp_root, monkeypatch):
    """O11 durability: _write_checkpoint writes the checkpoint and then
    LATEST with atomic_write (file fsync, rename, directory fsync), so no
    matter where a crash lands inside the write sequence, LATEST always
    names a checkpoint that parses. Simulated by aborting the write at
    every rename point in turn."""
    import json

    cfg = GeneratorConfig(
        n_repos=5, paths_per_repo=3, hot_repos=1, events_per_key_mean=3, seed=42
    )
    fx = os.path.join(tmp_root, "fx")
    write_fixture(fx, cfg)
    base = spark.read.parquet(os.path.join(fx, "base_repos.parquet"))
    end_us = EPOCH_MICROS + cfg.duration_s * 1_000_000
    eng = CdcReplayEngine(
        spark,
        fx,
        os.path.join(tmp_root, "t"),
        os.path.join(tmp_root, "c"),
        start_us=EPOCH_MICROS,
        end_us=end_us,
        n_batches=4,
        initial_schema=REPOS_SCHEMA_V1,
        base_df=base,
        n_buckets=4,
    )
    eng.run(max_batches=2)
    ckpt_dir = os.path.join(tmp_root, "c")

    def latest_parses() -> bool:
        with open(os.path.join(ckpt_dir, "LATEST")) as f:
            name = f.read().strip()
        with open(os.path.join(ckpt_dir, name)) as f:
            json.load(f)
        return True

    assert latest_parses()
    state = {"batch_id": 99, "fake": True}

    # crash at rename #1 (ckpt file) and rename #2 (LATEST) in turn
    for crash_at in (1, 2):
        calls = {"n": 0}
        real_replace = os.replace

        def replace(src, dst, *, _crash_at=crash_at, _calls=calls):
            _calls["n"] += 1
            if _calls["n"] == _crash_at:
                raise OSError("simulated crash during rename")
            return real_replace(src, dst)

        monkeypatch.setattr(os, "replace", replace)
        try:
            eng._write_checkpoint(dict(state), eng._ckpt_path(90 + crash_at))
        except OSError:
            pass
        monkeypatch.undo()
        assert latest_parses()  # LATEST still names a parseable file

    # fsync actually runs on the happy path: per write, file fd + dir fd
    fsyncs = []
    real_fsync = os.fsync
    monkeypatch.setattr(os, "fsync", lambda fd: (fsyncs.append(fd), real_fsync(fd))[1])
    eng._write_checkpoint(dict(state), eng._ckpt_path(95))
    assert len(fsyncs) == 4
    eng.close()


def test_active_queries_gauge_balanced_on_batch_abort(spark, tmp_root, monkeypatch):
    """M3 gauge hygiene (ADVICE r4): a batch that dies between
    on_query() and on_query_done() must not leave active_queries at 1
    in the final metrics snapshot."""
    import pytest

    cfg = GeneratorConfig(
        n_repos=5, paths_per_repo=3, hot_repos=1, events_per_key_mean=3, seed=7
    )
    fx = os.path.join(tmp_root, "fx2")
    write_fixture(fx, cfg)
    base = spark.read.parquet(os.path.join(fx, "base_repos.parquet"))
    end_us = EPOCH_MICROS + cfg.duration_s * 1_000_000
    eng = CdcReplayEngine(
        spark,
        fx,
        os.path.join(tmp_root, "t2"),
        os.path.join(tmp_root, "c2"),
        start_us=EPOCH_MICROS,
        end_us=end_us,
        n_batches=4,
        initial_schema=REPOS_SCHEMA_V1,
        base_df=base,
        n_buckets=4,
    )

    def boom(*a, **kw):
        raise RuntimeError("simulated merge failure")

    monkeypatch.setattr(eng, "_merge_attempt", boom)
    with pytest.raises(RuntimeError, match="simulated merge failure"):
        eng.run(max_batches=1)
    assert eng.meter.active_queries == 0
    assert eng.meter.queries_issued_total >= 1
    eng.close()


def test_crash_resume_proto_wire(spark, tmp_root):
    """Crash/resume over the VECTORIZED proto wire: checkpoint-only
    resume must reproduce the oracle byte-identically when the log is
    decoded through the r5 mapInArrow kernel (raw-log pruning + decode
    happen per batch, so the resume path re-derives everything from
    offsets alone)."""
    from debezium_connector_spanner_spark.fixtures.generator import write_proto_log

    cfg = GeneratorConfig(
        n_repos=8, paths_per_repo=4, hot_repos=2, events_per_key_mean=4, seed=55
    )
    fx = os.path.join(tmp_root, "fxp")
    write_fixture(fx, cfg)
    write_proto_log(fx)
    eng = _run_with_crashes(
        spark, fx, os.path.join(tmp_root, "runp"), cfg, 6, [2, 4],
        wire_format="proto",
    )
    got = (
        eng.final_state()
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    want = fold_final_state(fx).sort_values(["repo", "path"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want)
