"""Targeted semantics tests for round-2 fixes:

- explicit JSON null in new_values is a WRITE (not 'column untouched') —
  reference emits the null (schema/mapper/JsonNodeStructValueConvertor.java)
- NEW_VALUES capture: op from record-level mod_type, not the null pattern
  (db/model/ValueCaptureType.java:12-18,
  processor/SpannerChangeRecordEmitter.java:42-52)
- record_sequence orders numerically ('10' after '9'), matching
  context/offset/SpannerOffsetContextFactory.java identity order
- merge-on-read fold resolves by (__cdc_ts, rank): a batch applied late
  (higher rank, older commit ts) must not overwrite newer values
"""

import json
import os


from debezium_connector_spanner_spark.operators.decode import decode_mods
from debezium_connector_spanner_spark.operators.merge import fold_changes, merge_into
from debezium_connector_spanner_spark.sources.event_schema import (
    EVENT_LOG_SCHEMA,
    REPOS_SCHEMA_V1,
)
from debezium_connector_spanner_spark.sources.lake import LakeTable


def _event(token, ts_us, rs, txn, mods, mod_type="UPDATE", vct="OLD_AND_NEW_VALUES"):
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
        "value_capture_type": vct,
        "number_of_records_in_transaction": 1,
        "number_of_partitions_in_transaction": 1,
        "transaction_tag": "",
        "is_system_transaction": False,
        "child_partitions": None,
    }


def _mod(key, new, old):
    return {
        "keys": json.dumps(key, sort_keys=True),
        "new_values": None if new is None else json.dumps(new, sort_keys=True),
        "old_values": None if old is None else json.dumps(old, sort_keys=True),
    }


def _events_df(spark, rows):
    import pandas as pd

    pdf = pd.DataFrame(rows)
    pdf["commit_ts"] = pd.to_datetime(pdf["commit_ts"], unit="us")
    return spark.createDataFrame(pdf, EVENT_LOG_SCHEMA)


KEY = {"repo": "r1", "path": "p1"}


def test_explicit_null_update_applied(spark, tmp_root):
    """UPDATE {'lang': null} must null out lang, not keep the stale value."""
    rows = [
        _event("t", 1_000, "1", "x1", [_mod(KEY, {"commit": "c0", "lang": "go", "content": "b0"}, None)], "INSERT"),
        _event("t", 2_000, "2", "x2", [_mod(KEY, {"lang": None}, {"lang": "go"})]),
    ]
    ev = _events_df(spark, rows)
    decoded = decode_mods(ev, REPOS_SCHEMA_V1)
    folded = fold_changes(decoded, ["repo", "path"], ["commit", "lang", "content"])
    got = folded.collect()[0].asDict()
    assert got["lang"] is None and got["_w_lang"] is True
    assert got["commit"] == "c0" and got["content"] == "b0"

    # and through the MERGE (both sink modes) against a base row
    for mode in ("mor", "cow"):
        root = os.path.join(tmp_root, f"tbl-{mode}")
        base = spark.createDataFrame(
            [("r1", "p1", "cb", "java", "bb")], REPOS_SCHEMA_V1.spark_struct()
        )
        t = LakeTable.create(
            spark, root, REPOS_SCHEMA_V1.spark_struct(), ["repo", "path"], 2, base
        )
        merge_into(t, folded, target_schema=REPOS_SCHEMA_V1.spark_struct(), mode=mode)
        out = t.read().collect()[0].asDict()
        assert out["lang"] is None, mode
        assert out["commit"] == "c0" and out["content"] == "b0", mode


def test_new_values_capture_op_from_mod_type(spark):
    """Under NEW_VALUES capture old_values is always null; op must come
    from mod_type so UPDATEs aren't misread as INSERTs."""
    rows = [
        _event("t", 1_000, "1", "x1", [_mod(KEY, {"commit": "c0"}, None)], "INSERT", "NEW_VALUES"),
        _event("t", 2_000, "2", "x2", [_mod(KEY, {"commit": "c1"}, None)], "UPDATE", "NEW_VALUES"),
        _event("t", 3_000, "3", "x3", [_mod(KEY, None, None)], "DELETE", "NEW_VALUES"),
    ]
    decoded = decode_mods(_events_df(spark, rows), REPOS_SCHEMA_V1)
    ops = {r["record_sequence"]: r["op"] for r in decoded.select("record_sequence", "op").collect()}
    assert ops == {"1": "c", "2": "u", "3": "d"}


def test_record_sequence_numeric_order(spark):
    """Same-commit-ts records: rs '10' must fold after rs '9'."""
    rows = [
        _event("t", 1_000, "9", "x1", [_mod(KEY, {"commit": "old"}, None)], "INSERT"),
        _event("t", 1_000, "10", "x2", [_mod(KEY, {"commit": "new"}, {"commit": "old"})]),
    ]
    decoded = decode_mods(_events_df(spark, rows), REPOS_SCHEMA_V1)
    folded = fold_changes(decoded, ["repo", "path"], ["commit", "lang", "content"])
    assert folded.collect()[0]["commit"] == "new"


def test_hot_key_fixture_salted_replay(spark, tmp_root):
    """Skew shape: one key carrying ~half the events replays to the same
    final state under the salted fold as the pandas oracle."""
    from debezium_connector_spanner_spark.fixtures.generator import (
        EPOCH_MICROS,
        GeneratorConfig,
        write_fixture,
    )
    from debezium_connector_spanner_spark.fixtures.oracle import fold_final_state
    from debezium_connector_spanner_spark.streaming.engine import CdcReplayEngine
    import pandas as pd

    cfg = GeneratorConfig(
        n_repos=4, paths_per_repo=3, events_per_key_mean=3, hot_key_events=400
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
        skew_mode="salted",
    )
    eng.run()
    got = (
        eng.final_state().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    want = fold_final_state(fx).sort_values(["repo", "path"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want)


def test_mor_fold_out_of_order_batches(spark, tmp_root):
    """Deltas applied out of commit-ts order (older batch at higher rank)
    must not win: fold_ranked orders by (__cdc_ts, rank), not rank."""
    root = os.path.join(tmp_root, "tbl")
    t = LakeTable.create(
        spark, root, REPOS_SCHEMA_V1.spark_struct(), ["repo", "path"], 2
    )

    def batch(ts_us, commit):
        rows = [_event("t", ts_us, "1", f"x{ts_us}", [_mod(KEY, {"commit": commit, "lang": "go", "content": "b"}, None)], "INSERT")]
        decoded = decode_mods(_events_df(spark, rows), REPOS_SCHEMA_V1)
        return fold_changes(decoded, ["repo", "path"], ["commit", "lang", "content"])

    # newer batch (ts=5000) lands first; older batch (ts=1000) arrives late
    merge_into(t, batch(5_000, "newer"), target_schema=REPOS_SCHEMA_V1.spark_struct(), mode="mor")
    merge_into(t, batch(1_000, "older"), target_schema=REPOS_SCHEMA_V1.spark_struct(), mode="mor")
    assert t.read().collect()[0]["commit"] == "newer"
    # and compaction preserves the resolution
    t.compact_apply(t.compact_prepare())
    assert t.read().collect()[0]["commit"] == "newer"


def test_funnel_mega_user_plan(spark, tmp_path):
    """VERDICT r4 #3: the funnel must stay correct AND memory-bounded
    when one user owns 10^6 events. The r5 min-filter cascade keeps O(1)
    aggregation state per key — asserted structurally (no
    collect_list/sort_array/ObjectHashAggregate in the plan) and
    behaviorally (the mega-user run completes and matches the DuckDB
    min-filter oracle on the same data)."""
    import os

    import duckdb
    from pyspark.sql import functions as F

    from debezium_connector_spanner_spark.plans.analytics_queries import (
        ANALYTIC_ORACLES,
        q_events_funnel,
    )

    n = 1_000_000
    mega = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(F.lit(1_700_000_000_000_000) + F.col("id") * 1000).alias(
            "ts"
        ),
        F.lit(7).cast("long").alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    normal = spark.range(50).select(
        (F.col("id") + n).alias("event_id"),
        F.timestamp_micros(F.lit(1_700_000_000_000_000) + F.col("id") * 500).alias(
            "ts"
        ),
        (F.col("id") % 10 + 100).cast("long").alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("scroll")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    sf_dir = str(tmp_path)
    mega.unionByName(normal).coalesce(4).write.parquet(
        os.path.join(sf_dir, "events.parquet")
    )

    df = q_events_funnel(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for banned in ("collect_list", "sort_array", "ObjectHashAggregate"):
        assert banned not in plan, f"buffering operator {banned} in funnel plan"

    got = df.toPandas().sort_values("user_id").reset_index(drop=True)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{os.path.join(sf_dir, 'events.parquet')}/*.parquet')"
    )
    res = con.execute(ANALYTIC_ORACLES["events_funnel"])
    want = res.df().sort_values("user_id").reset_index(drop=True)
    assert len(got) == len(want)
    mega_row = got[got.user_id == 7].iloc[0]
    assert mega_row["stage"] == 3
    for c in ("view_us", "click_us", "purchase_us"):
        pd_got = got[c].astype("float64").fillna(-1)
        pd_want = want[c].astype("float64").fillna(-1)
        assert (pd_got.values == pd_want.values).all(), c
