"""C3 adaptive-skew chooser properties (VERDICT r03 #9).

- the observed hot_share is EXACTLY the hottest key's fraction of the
  batch's decoded mods (independent pandas recount per batch window);
- the fused->salted flip follows the threshold rule with a one-batch
  reaction lag, whatever the skew profile or batch boundaries;
- whichever shape the chooser picks, the final state equals the
  independent oracle (the choice can never change results).
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
from debezium_connector_spanner_spark.fixtures.oracle import (
    fold_final_state,
    read_events,
)
from debezium_connector_spanner_spark.sources.event_schema import REPOS_SCHEMA_V1
from debezium_connector_spanner_spark.streaming.engine import (
    SKEW_THRESHOLD,
    CdcReplayEngine,
)


def _mod_counts_per_key(ev: pd.DataFrame) -> pd.Series:
    """Mods per (repo, path) — every mod row of every data_change record,
    duplicates included (exactly what the fold's _n_mods aggregates)."""
    rows = []
    for r in ev.itertuples(index=False):
        for m in r.mods:
            k = json.loads(m["keys"])
            rows.append((k["repo"], k["path"]))
    return pd.Series(rows).value_counts() if rows else pd.Series(dtype=int)


def _run(spark, tmp_root, cfg, tag, n_batches, skew_mode="adaptive"):
    fx = os.path.join(tmp_root, f"fx-{tag}")
    write_fixture(fx, cfg)
    eng = CdcReplayEngine(
        spark,
        fx,
        os.path.join(tmp_root, f"t-{tag}"),
        os.path.join(tmp_root, f"c-{tag}"),
        start_us=EPOCH_MICROS,
        end_us=EPOCH_MICROS + cfg.duration_s * 1_000_000,
        n_batches=n_batches,
        initial_schema=REPOS_SCHEMA_V1,
        base_df=spark.read.parquet(os.path.join(fx, "base_repos.parquet")),
        n_buckets=4,
        skew_mode=skew_mode,
    )
    eng.run()
    return fx, eng


PROFILES = [
    # (hot_key_events, n_batches): mega-key dominance x batch boundaries
    (800, 3),
    (800, 5),
    (0, 4),  # uniform: must never flip
]


@pytest.mark.parametrize("hot_events,n_batches", PROFILES)
def test_hot_share_oracle_flip_rule_and_results(
    spark, tmp_root, hot_events, n_batches
):
    cfg = GeneratorConfig(
        n_repos=4,
        paths_per_repo=3,
        events_per_key_mean=3,
        hot_key_events=hot_events,
        seed=41 + hot_events + n_batches,
    )
    tag = f"{hot_events}-{n_batches}"
    fx, eng = _run(spark, tmp_root, cfg, tag, n_batches)
    ms = eng.metrics()

    # (1) hot_share == hottest key's exact mod fraction, batch by batch
    ev = read_events(fx)
    ev = ev[(ev["record_type"] == "data_change") & (ev["table_name"] == "repos")]
    ts_us = ev["commit_ts"].astype("int64") // 1000
    prev_end = EPOCH_MICROS - 1
    for m in ms:
        window = ev[(ts_us > prev_end) & (ts_us <= m["batch_end_us"])]
        counts = _mod_counts_per_key(window)
        if len(counts):
            want = round(counts.max() / counts.sum(), 4)
            assert m["hot_share"].get("repos") == pytest.approx(want, abs=1e-4), (
                m["batch_id"],
                m["hot_share"],
                want,
            )
        prev_end = m["batch_end_us"]

    # (2) the flip follows the threshold rule with one-batch lag
    assert ms[0]["salted_tables"] == []  # cold start: nothing observed yet
    for prev, cur in zip(ms, ms[1:]):
        expect_salted = prev["hot_share"].get("repos", 0.0) >= SKEW_THRESHOLD
        assert (cur["salted_tables"] == ["repos"]) == expect_salted, (
            cur["batch_id"],
            prev["hot_share"],
            cur["salted_tables"],
        )
    if hot_events == 0:
        assert all(m["salted_tables"] == [] for m in ms)  # uniform never flips
    else:
        assert any(m["salted_tables"] == ["repos"] for m in ms[1:])

    # (3) whatever was chosen, results match the independent oracle
    got = (
        eng.final_state()
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    want = fold_final_state(fx).sort_values(["repo", "path"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want)
