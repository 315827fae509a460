"""Golden replay + resume-from-checkpoint + schema evolution, end to end.

Mirrors the reference's integration tests (all under
/root/reference/src/test/java/io/debezium/connector/spanner/):
- full replay == oracle final state, per-row sha256(content) equality
  (DataTypesIT.java:33-125 golden-value style, north-rule invariant)
- GracefulRestartIT.java:44-73 -> stop mid-replay, restart from
  checkpoint, byte-identical final state, no loss/dup
- LowWatermarkRecordIT.java:49-88 -> watermark monotone and bounded
- SchemaMergerTest -> additive column + INT64->FLOAT64 widening online
"""

import os

import pandas as pd
import pyarrow.parquet as pq
import pytest

from debezium_connector_spanner_spark.fixtures.generator import (
    EPOCH_MICROS,
    GeneratorConfig,
    write_fixture,
)
from debezium_connector_spanner_spark.fixtures.oracle import fold_final_state
from debezium_connector_spanner_spark.sources.event_schema import REPOS_SCHEMA_V1
from debezium_connector_spanner_spark.streaming import engine as engine_mod
from debezium_connector_spanner_spark.streaming.engine import CdcReplayEngine

CFG = GeneratorConfig(n_repos=8, paths_per_repo=5, hot_repos=2, events_per_key_mean=4)


def _mk_engine(spark, fixture_dir, root, n_batches=6, cfg=CFG, **kw):
    base = spark.read.parquet(os.path.join(fixture_dir, "base_repos.parquet"))
    end_us = EPOCH_MICROS + cfg.duration_s * 1_000_000
    return CdcReplayEngine(
        spark,
        fixture_dir,
        os.path.join(root, "repos_table"),
        os.path.join(root, "ckpt"),
        start_us=EPOCH_MICROS,
        end_us=end_us,
        n_batches=n_batches,
        initial_schema=REPOS_SCHEMA_V1,
        base_df=base if not os.path.exists(os.path.join(root, "repos_table")) else None,
        n_buckets=8,
        **kw,
    )


def _final_pd(engine) -> pd.DataFrame:
    return (
        engine.final_state()
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )


def _assert_matches_oracle(engine, fixture_dir):
    got = _final_pd(engine)
    want = (
        fold_final_state(fixture_dir).sort_values(["repo", "path"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want)
    # north-rule invariant: per-row content sha256 equality
    import hashlib

    sha = lambda s: None if s is None else hashlib.sha256(s.encode()).hexdigest()
    assert got["content"].map(sha).tolist() == want["content"].map(sha).tolist()


def test_golden_replay(spark, tmp_root):
    fx = os.path.join(tmp_root, "fx")
    m = write_fixture(fx, CFG)
    eng = _mk_engine(spark, fx, tmp_root)
    totals = eng.run()
    assert totals["batches"] == 6
    assert totals["events"] == m["events"]
    _assert_matches_oracle(eng, fx)


def _rename_value_columns(src: str, dst: str, names: dict[str, str]) -> None:
    """Copy fixture ``src`` to ``dst`` with value columns renamed in the
    base table, in every mod's row images and in ``column_types``."""
    import glob
    import json
    import shutil

    import pyarrow as pa

    def images(text):
        if text is None:
            return None
        return json.dumps({names.get(k, k): v for k, v in json.loads(text).items()})

    def types(text):
        if text is None:
            return None
        cols = json.loads(text)
        for c in cols:
            c["name"] = names.get(c["name"], c["name"])
        return json.dumps(cols, sort_keys=True)

    shutil.copytree(src, dst)
    base = pq.read_table(os.path.join(dst, "base_repos.parquet"))
    pq.write_table(
        base.rename_columns([names.get(c, c) for c in base.column_names]),
        os.path.join(dst, "base_repos.parquet"),
    )
    for path in glob.glob(os.path.join(dst, "events", "*", "*.parquet")):
        t = pq.read_table(path)
        rows = t.to_pylist()
        for r in rows:
            r["column_types"] = types(r["column_types"])
            for m in r["mods"] or []:
                m["new_values"] = images(m["new_values"])
                m["old_values"] = images(m["old_values"])
        pq.write_table(pa.Table.from_pylist(rows, schema=t.schema), path)


def test_quoted_column_names_replay_matches_oracle(spark, tmp_root):
    """Column names come from the change log's ``column_types``, which is
    outside input: value columns whose names hold a single quote and a
    backslash replay (merge-on-read) to the independent pandas fold of the
    same log."""
    import dataclasses

    from debezium_connector_spanner_spark.sources.event_schema import TableSchema

    names = {"commit": "it's\\x", "lang": "l\\'ang"}
    fx = os.path.join(tmp_root, "fx")
    write_fixture(fx, CFG)
    qfx = os.path.join(tmp_root, "qfx")
    _rename_value_columns(fx, qfx, names)
    schema = TableSchema(
        "repos",
        tuple(
            dataclasses.replace(c, name=names.get(c.name, c.name))
            for c in REPOS_SCHEMA_V1.columns
        ),
    )
    eng = CdcReplayEngine(
        spark,
        qfx,
        os.path.join(tmp_root, "repos_table"),
        os.path.join(tmp_root, "ckpt"),
        start_us=EPOCH_MICROS,
        end_us=EPOCH_MICROS + CFG.duration_s * 1_000_000,
        n_batches=4,
        initial_schema=schema,
        base_df=spark.read.parquet(os.path.join(qfx, "base_repos.parquet")),
        n_buckets=8,
        sink_mode="mor",
    )
    eng.run()
    want = fold_final_state(fx).rename(columns=names)
    got = _final_pd(eng)
    assert eng.schema.value_columns == [names["commit"], names["lang"], "content"]
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want)


def test_resume_from_checkpoint(spark, tmp_root):
    fx = os.path.join(tmp_root, "fx")
    write_fixture(fx, CFG)
    eng1 = _mk_engine(spark, fx, tmp_root, n_batches=6)
    eng1.run(max_batches=3)
    mid_snapshot = eng1.table.current_snapshot_id()

    # "restart": a brand-new engine instance picks up the checkpoint
    eng2 = _mk_engine(spark, fx, tmp_root, n_batches=6)
    assert eng2.batch_id == 2
    assert eng2.table.current_snapshot_id() == mid_snapshot
    eng2.run()
    _assert_matches_oracle(eng2, fx)


def test_resume_discards_uncheckpointed_snapshot(spark, tmp_root):
    """Crash between data commit and checkpoint commit: the orphan
    snapshot must be rolled back on restart (exactly-once)."""
    fx = os.path.join(tmp_root, "fx")
    write_fixture(fx, CFG)
    eng1 = _mk_engine(spark, fx, tmp_root)
    eng1.run(max_batches=2)
    good = eng1.table.current_snapshot_id()
    # simulate a torn batch: bump CURRENT past the checkpointed snapshot
    eng1.table._set_current(good)  # no-op flip keeps files valid
    import json

    snap = eng1.table.snapshot(good)
    snap["id"] = good + 1
    snap["parent"] = good
    with open(eng1.table._snap_path(good + 1), "w") as f:
        json.dump(snap, f)
    eng1.table._set_current(good + 1)

    eng2 = _mk_engine(spark, fx, tmp_root)
    assert eng2.table.current_snapshot_id() == good
    eng2.run()
    _assert_matches_oracle(eng2, fx)


def test_include_filter_matching_no_table_still_progresses(spark, tmp_root):
    """D10 leaves no configured table to merge: no merge consumes the
    batch scan, yet the progress observation must still see every
    control row — offsets advance, every partition finishes, and the
    table keeps its base state."""
    fx = os.path.join(tmp_root, "fx")
    write_fixture(fx, CFG)
    eng = _mk_engine(spark, fx, tmp_root, table_include="^no_such_table$")
    rules = "spark.sql.adaptive.optimizer.excludedRules"
    before = spark.conf.get(rules, None)
    totals = eng.run()
    assert spark.conf.get(rules, None) == before  # scoped to the replay's jobs
    assert eng.frontier_us == eng.end_us
    assert eng.tokens and all(s.state == "FINISHED" for s in eng.tokens.values())
    ev = spark.read.parquet(os.path.join(fx, "events"))
    assert totals["events"] == ev.where("record_type != 'data_change'").count()
    assert totals["mods"] == 0
    base = spark.read.parquet(os.path.join(fx, "base_repos.parquet"))
    cols = base.columns
    got = eng.final_state().select(cols).toPandas().sort_values(["repo", "path"])
    want = base.toPandas().sort_values(["repo", "path"])
    pd.testing.assert_frame_equal(got.reset_index(drop=True), want.reset_index(drop=True))


def test_watermark_monotone(spark, tmp_root):
    fx = os.path.join(tmp_root, "fx")
    write_fixture(fx, CFG)
    eng = _mk_engine(spark, fx, tmp_root)
    eng.run()
    ms = eng.metrics()
    wms = [m["watermark_us"] for m in ms if "watermark_us" in m]
    assert wms == sorted(wms), "low watermark must be monotone"
    for m in ms:
        assert m["watermark_us"] <= m["batch_end_us"]
    # lineage emitted per partition (north rule)
    assert any(m["lineage"] for m in ms)


def test_schema_evolution_online(spark, tmp_root):
    cfg = GeneratorConfig(
        n_repos=8,
        paths_per_repo=5,
        hot_repos=2,
        events_per_key_mean=4,
        schema_evolution=True,
    )
    fx = os.path.join(tmp_root, "fx-evo")
    write_fixture(fx, cfg)
    eng = _mk_engine(spark, fx, tmp_root, cfg=cfg)
    eng.run()
    got = _final_pd(eng)
    assert "stars" in got.columns
    assert str(got["stars"].dtype) == "float64"
    want = fold_final_state(fx).sort_values(["repo", "path"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want)


def test_dag_gate_ordering(spark, tmp_root):
    """A child partition's data must not be applied before its parents
    finish: check via per-batch lineage that t-M only appears after both
    t-A2 and t-B emitted their end markers (ConflictResolver/
    FindPartitionForStreamingOperation semantics)."""
    fx = os.path.join(tmp_root, "fx")
    write_fixture(fx, CFG)
    eng = _mk_engine(spark, fx, tmp_root, n_batches=10)
    eng.run()
    ms = eng.metrics()
    first_m_batch = None
    finish_batches = {}
    for m in ms:
        for t in m["finished"]:
            finish_batches[t] = m["batch_id"]
        for ln in m["lineage"]:
            if ln["token"] == "t-M" and first_m_batch is None:
                first_m_batch = m["batch_id"]
    assert first_m_batch is not None
    assert finish_batches["t-A2"] < first_m_batch
    assert finish_batches["t-B"] < first_m_batch


def test_async_compaction_matches_oracle(spark, tmp_root, monkeypatch):
    """The maintenance-lane compaction (prepare concurrent with later
    batches, rebase-commit in the loop) must reproduce the oracle's final
    state, with delta depth re-bounded."""
    fx = os.path.join(tmp_root, "fx")
    write_fixture(fx, CFG)
    monkeypatch.setattr(engine_mod, "COMPACT_EVERY", 2)
    eng_a = _mk_engine(spark, fx, os.path.join(tmp_root, "a"))
    eng_a.run()
    _assert_matches_oracle(eng_a, fx)
    # a compaction actually ran and re-bounded the delta stack
    summaries = [
        eng_a.table.snapshot(i).get("summary", {})
        for i in range(1, eng_a.table.current_snapshot_id() + 1)
    ]
    assert any(s.get("op") == "compact" for s in summaries)
    assert eng_a.table.delta_depth() < 6


def test_stage_pools_and_job_tags(spark, tmp_root, monkeypatch):
    """Every merge job runs in the FAIR pool 'ingest' and is tagged with
    its batch, stage and table; the maintenance lane's compaction fold runs
    in 'maint'. Merges run on worker threads, which inherit no local
    property from the batch thread, so each must set its own."""
    from debezium_connector_spanner_spark.sources.lake import LakeTable

    fx = os.path.join(tmp_root, "fx")
    write_fixture(fx, CFG)
    monkeypatch.setattr(engine_mod, "COMPACT_EVERY", 2)
    sc = spark.sparkContext
    seen = []

    def props():
        return (
            sc.getLocalProperty("spark.scheduler.pool"),
            sc.getLocalProperty("spark.job.description"),
        )

    merge_into = engine_mod.merge_into

    def recording_merge(table, folded, *a, summary, **kw):
        seen.append(("merge", summary, *props()))
        return merge_into(table, folded, *a, summary=summary, **kw)

    compact_prepare = LakeTable.compact_prepare

    def recording_prepare(self, *a, **kw):
        seen.append(("prepare", None, *props()))
        return compact_prepare(self, *a, **kw)

    monkeypatch.setattr(engine_mod, "merge_into", recording_merge)
    monkeypatch.setattr(LakeTable, "compact_prepare", recording_prepare)
    eng = _mk_engine(spark, fx, tmp_root)
    eng.run()

    # building the decode + fold plan is timed as its own stage and
    # starts no Spark job
    merging = [m["timings"] for m in eng.metrics() if "merge_repos_s" in m["timings"]]
    assert merging and all("plan_repos_s" in t for t in merging)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    descs = [jobs.apply(i).description() for i in range(jobs.size())]
    descs = [d.get() for d in descs if d.isDefined()]
    assert any(":merge:repos" in d for d in descs)
    assert not any(":plan:" in d for d in descs)

    merges = [s for s in seen if s[0] == "merge"]
    assert len(merges) >= 6
    for _, summary, pool, desc in merges:
        assert pool == "ingest"
        assert desc == f"b{summary['batch_id']}:merge:{summary['table']}"
    prepares = [s for s in seen if s[0] == "prepare"]
    assert prepares
    assert all(pool == "maint" for _, _, pool, _ in prepares)
    # the stage restores the calling thread's properties on exit
    assert sc.getLocalProperty("spark.scheduler.pool") is None


def test_semijoin_token_filter_matches_inlist(spark, tmp_root, monkeypatch):
    """S1 at 10^5-token scale: with TOKEN_INLIST_MAX=0 the literal IN-list
    is skipped and token filtering rides the broadcast offsets equi-join
    (dynamic partition pruning recovers the dir pruning). Final state must
    be byte-identical to the IN-list plan, and the physical plan must not
    contain the literal token list."""
    fx = os.path.join(tmp_root, "fx")
    write_fixture(fx, CFG)
    eng_ref = _mk_engine(spark, fx, os.path.join(tmp_root, "ref"))
    active = eng_ref._gate()
    assert active
    plan_ref = (
        eng_ref._active_scan(active, eng_ref.end_us)._jdf.queryExecution().toString()
    )
    assert f"IN ({active[0]}" in plan_ref  # default path still IN-list-prunes

    monkeypatch.setattr(engine_mod, "TOKEN_INLIST_MAX", 0)
    eng = _mk_engine(spark, fx, tmp_root)
    # plan check on the scan itself before running: the literal token
    # IN-list is gone (tokens only reach the plan via the broadcast
    # offsets table), the equi-join is present
    plan = eng._active_scan(active, eng.end_us)._jdf.queryExecution().toString()
    assert f"IN ({active[0]}" not in plan and "BroadcastHashJoin" in plan

    eng.run()
    _assert_matches_oracle(eng, fx)


def test_schema_evolution_online_proto_wire(spark, tmp_root):
    """Additive schema evolution through the VECTORIZED proto decode:
    the new column's ColumnType announcement rides field-6 submessages,
    exercising the region-keyed coltypes memo across schema versions
    plus the engine's observe -> rollback -> re-merge retry, end-to-end
    against the pandas oracle (struct-wire evolution is covered by
    test_schema_evolution_online; this pins the r5 kernel path)."""
    from debezium_connector_spanner_spark.fixtures.generator import write_proto_log

    cfg = GeneratorConfig(
        n_repos=8,
        paths_per_repo=5,
        hot_repos=2,
        events_per_key_mean=4,
        schema_evolution=True,
    )
    fx = os.path.join(tmp_root, "fx-evo-proto")
    write_fixture(fx, cfg)
    write_proto_log(fx)
    eng = _mk_engine(spark, fx, tmp_root, cfg=cfg, wire_format="proto")
    eng.run()
    got = _final_pd(eng)
    assert "stars" in got.columns
    want = fold_final_state(fx).sort_values(["repo", "path"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want)
