"""Physical-plan shapes the write path, the merge-on-read read and the
pipeline operators are built for, asserted on the planned query rather
than kept as plan dumps:

- the fused LWW fold is one shuffle, the salted fold two;
- a replay window's merge scans the event log once;
- a merge-on-read read of a table with deltas folds in one shuffle;
- MinHash-LSH verification explodes only the band signatures (2
  ``Generate`` nodes; the inverted-index verify it replaced had 4).
"""

import os
import re

import pytest

from debezium_connector_spanner_spark.fixtures.generator import (
    EPOCH_MICROS,
    GeneratorConfig,
    write_fixture,
)
from debezium_connector_spanner_spark.operators.decode import decode_mods
from debezium_connector_spanner_spark.operators.merge import (
    fold_changes,
    fold_changes_salted,
)
from debezium_connector_spanner_spark.sources.event_schema import (
    EVENT_LOG_SCHEMA,
    REPOS_SCHEMA_V1,
)
from debezium_connector_spanner_spark.streaming import engine as engine_mod
from debezium_connector_spanner_spark.streaming.engine import CdcReplayEngine

CFG = GeneratorConfig(n_repos=5, paths_per_repo=3, events_per_key_mean=5)
KEYS = ["repo", "path"]
VALUES = ["commit", "lang", "content"]


def _plan(df) -> str:
    """The physical plan as planned (AQE's initial plan: no job runs)."""
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan: str) -> int:
    return len(re.findall(r"(?<!Broadcast)Exchange \w", plan))


@pytest.fixture(scope="module")
def replay(spark, tmp_path_factory):
    """Two windows of a single-table merge-on-read replay; returns the
    fixture dir, the physical plan of each fold the engine handed to
    merge_into, and the engine."""
    root = str(tmp_path_factory.mktemp("plan_shape"))
    fx = os.path.join(root, "fx")
    write_fixture(fx, CFG)
    plans = []
    merge_into = engine_mod.merge_into

    def recording_merge(table, folded, *a, **kw):
        plans.append(_plan(folded))
        return merge_into(table, folded, *a, **kw)

    mp = pytest.MonkeyPatch()
    mp.setattr(engine_mod, "merge_into", recording_merge)
    try:
        eng = CdcReplayEngine(
            spark,
            fx,
            os.path.join(root, "t"),
            os.path.join(root, "c"),
            start_us=EPOCH_MICROS,
            end_us=EPOCH_MICROS + CFG.duration_s * 1_000_000,
            n_batches=4,
            initial_schema=REPOS_SCHEMA_V1,
            base_df=spark.read.parquet(os.path.join(fx, "base_repos.parquet")),
            n_buckets=4,
        )
        eng.run(max_batches=2)
    finally:
        mp.undo()
    return fx, plans, eng


def test_fused_fold_one_shuffle_salted_two(spark, replay):
    fx, _, _ = replay
    ev = spark.read.schema(EVENT_LOG_SCHEMA).parquet(os.path.join(fx, "events"))
    decoded = decode_mods(ev, REPOS_SCHEMA_V1)
    assert _shuffles(_plan(fold_changes(decoded, KEYS, VALUES))) == 1
    assert _shuffles(_plan(fold_changes_salted(decoded, KEYS, VALUES, n_salts=4))) == 2


def test_replay_merge_scans_event_log_once(replay):
    _, plans, _ = replay
    assert len(plans) == 2
    for plan in plans:
        assert len(re.findall(r"FileScan \w+", plan)) == 1, plan


def test_mor_read_with_deltas_folds_in_one_shuffle(replay):
    _, _, eng = replay
    assert eng.table.snapshot()["deltas"]
    assert _shuffles(_plan(eng.table.read())) == 1


def test_minhash_lsh_verification_explodes_bands_only(spark):
    from debezium_connector_spanner_spark.functions.dedup import minhash_lsh_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(minhash_lsh_pairs(docs, "doc_id", "text"))
    assert len(re.findall(r"\bGenerate \w", plan)) == 2, plan
