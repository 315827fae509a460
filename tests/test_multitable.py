"""Multi-table routing end-to-end (reference parity:
processor/SpannerEventDispatcher.java:45-87 per-table dispatch,
schema/KafkaSpannerTableSchemaFactory.java:104-142 per-table schemas,
src/test/java/.../DataTypesIT.java:33-125 type fidelity).

One replay run carries two tables in the same change stream; each lands
in its own LakeTable with its own schema — repos checked against the
pandas oracle, types_probe against the generator's expected state with
BYTES as BINARY and typed arrays. A batch whose merge fails still
releases the log slice the tables share.
"""

import os

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from debezium_connector_spanner_spark.fixtures.generator import (
    EPOCH_MICROS,
    GeneratorConfig,
    write_fixture,
)
from debezium_connector_spanner_spark.fixtures.oracle import fold_final_state, read_events
from debezium_connector_spanner_spark.sources.event_schema import (
    DATA_CHANGE,
    REPOS_SCHEMA_V1,
    TYPES_PROBE_SCHEMA,
)
from debezium_connector_spanner_spark.streaming.engine import CdcReplayEngine


def _engine(spark, fx, tmp_root, cfg, with_base=True, **kw):
    base = spark.read.parquet(os.path.join(fx, "base_repos.parquet"))
    return CdcReplayEngine(
        spark,
        fx,
        os.path.join(tmp_root, "t"),
        os.path.join(tmp_root, "c"),
        start_us=EPOCH_MICROS,
        end_us=EPOCH_MICROS + cfg.duration_s * 1_000_000,
        n_batches=5,
        tables={
            "repos": (REPOS_SCHEMA_V1, base if with_base else None),
            "types_probe": (TYPES_PROBE_SCHEMA, None),
        },
        n_buckets=4,
        **kw,
    )


def test_multitable_replay_and_resume(spark, tmp_root):
    cfg = GeneratorConfig(
        n_repos=5, paths_per_repo=3, events_per_key_mean=4, types_probe_keys=12
    )
    fx = os.path.join(tmp_root, "fx")
    write_fixture(fx, cfg)

    eng = _engine(spark, fx, tmp_root, cfg)
    eng.run(max_batches=2)  # crash...
    eng = _engine(spark, fx, tmp_root, cfg, with_base=False)  # ...resume
    eng.run()

    # the timings keys perfbench/cdc.py reads: engine.merge_s sums every
    # merge_* key, engine.overlap_s reads overlap_s, engine.ctrl_s ctrl_s
    for m in eng.metrics():
        t = m["timings"]
        assert {k for k in t if k.startswith("merge_")} == {
            "merge_repos_s",
            "merge_types_probe_s",
        }, t
        assert "overlap_s" in t and "ctrl_s" not in t, t

    # repos: pandas-oracle equality (explicit nulls, NEW_VALUES slice incl.)
    got = (
        eng.final_state("repos")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    want = fold_final_state(fx).sort_values(["repo", "path"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want)

    # types_probe: physical sink schema (BYTES binary, FLOAT32 float,
    # typed arrays) and exact value equality vs the generator's expected
    fs = eng.final_state("types_probe")
    sch = {f.name: f.dataType for f in fs.schema.fields}
    assert isinstance(sch["c_bytes"], T.BinaryType)
    assert isinstance(sch["c_float32"], T.FloatType)
    assert sch["c_arr_int"] == T.ArrayType(T.LongType())

    tg = fs.toPandas().sort_values("id").reset_index(drop=True)
    tw = (
        pq.read_table(os.path.join(fx, "expected_final_types.parquet"))
        .to_pandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    assert len(tg) == len(tw) and len(tw) > 0
    for c in tw.columns:
        got_vals = [
            None
            if v is None
            else (bytes(v) if isinstance(v, (bytes, bytearray)) else v)
            for v in tg[c]
        ]
        want_vals = list(tw[c])
        for g, w in zip(got_vals, want_vals):
            if hasattr(g, "tolist"):
                g = g.tolist()
            if hasattr(w, "tolist"):
                w = w.tolist()
            assert g == w or (pd.isna(g) and pd.isna(w)), (c, g, w)


def test_table_exclude_filter_skips_table(spark, tmp_root):
    """D10 wired into the batch loop: an excluded table stays empty."""
    cfg = GeneratorConfig(
        n_repos=3, paths_per_repo=2, events_per_key_mean=3, types_probe_keys=6
    )
    fx = os.path.join(tmp_root, "fx")
    write_fixture(fx, cfg)
    eng = _engine(spark, fx, tmp_root, cfg, table_exclude="^types_probe$")
    eng.run()
    assert eng.final_state("types_probe").count() == 0
    assert eng.final_state("repos").count() > 0


def test_lineage_counts_exact(spark, tmp_root):
    """Per-partition lineage and the batch counters against the raw log:
    summed over batches, each token's ``data`` is its count of repos
    data records (the excluded table's records interleave in the same
    token files and must not count) and its ``max_ts_us`` the newest
    commit ts among its control and repos records; Σmods is every repos
    data record and Σevents adds every control record."""
    cfg = GeneratorConfig(
        n_repos=3, paths_per_repo=2, events_per_key_mean=3, types_probe_keys=6
    )
    fx = os.path.join(tmp_root, "fx")
    write_fixture(fx, cfg)
    eng = _engine(spark, fx, tmp_root, cfg, table_exclude="^types_probe$")
    eng.run()
    ms = eng.metrics()

    log = read_events(fx)
    log["ts_us"] = log["commit_ts"].astype("datetime64[us, UTC]").astype("int64")
    is_data = log["record_type"] == DATA_CHANGE
    repos = log[is_data & (log["table_name"] == "repos")]
    assert (is_data & (log["table_name"] == "types_probe")).any()
    counted = pd.concat([repos, log[~is_data]])

    data: dict[str, int] = {}
    max_ts: dict[str, int] = {}
    for m in ms:
        for ln in m["lineage"]:
            data[ln["token"]] = data.get(ln["token"], 0) + ln["data"]
            max_ts[ln["token"]] = max(max_ts.get(ln["token"], 0), ln["max_ts_us"])
    want_data = repos.groupby("partition_token").size().to_dict()
    assert {t: n for t, n in data.items() if n} == want_data
    assert max_ts == counted.groupby("partition_token")["ts_us"].max().to_dict()
    assert sum(m["mods"] for m in ms) == len(repos)
    assert sum(m["events"] for m in ms) == len(repos) + int((~is_data).sum())


def test_failed_merge_releases_shared_slice(spark, tmp_root, monkeypatch):
    """A multi-table batch persists the decoded log slice once for every
    table's merge; a merge that raises must still unpersist it, or the
    long-lived session keeps the slice cached."""
    cfg = GeneratorConfig(
        n_repos=3, paths_per_repo=2, events_per_key_mean=3, types_probe_keys=6
    )
    fx = os.path.join(tmp_root, "fx")
    write_fixture(fx, cfg)
    eng = _engine(spark, fx, tmp_root, cfg)
    merge_attempt = CdcReplayEngine._merge_attempt

    def failing_merge(self, scan, name, *a, **kw):
        if name == "types_probe":
            raise RuntimeError("types_probe merge failed")
        return merge_attempt(self, scan, name, *a, **kw)

    monkeypatch.setattr(CdcReplayEngine, "_merge_attempt", failing_merge)
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="types_probe merge failed"):
        eng.run()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
