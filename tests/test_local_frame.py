"""Driver-built tables plan as JVM LocalRelations, and the session skips
PySpark's per-call DataFrame call-site capture.

- ``session.local_frame`` round-trips strings, longs, nulls and zero rows,
  from a StructType or a DDL string
- the engine's per-token offsets table (``_active_scan``, with and without
  the proto decode) and an empty table's ``read()`` plan as a
  ``LocalRelation``: no ``LogicalRDD`` over a Python RDD, whose every
  action starts Python workers
- the session has DataFrame debugging off, and an analysis error still
  names the missing column
"""

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_connector_spanner_spark.fixtures.generator import (
    EPOCH_MICROS,
    GeneratorConfig,
    write_fixture,
    write_proto_log,
)
from debezium_connector_spanner_spark.session import local_frame
from debezium_connector_spanner_spark.sources.event_schema import REPOS_SCHEMA_V1
from debezium_connector_spanner_spark.sources.lake import LakeTable
from debezium_connector_spanner_spark.streaming.engine import CdcReplayEngine

SCHEMA = T.StructType(
    [T.StructField("s", T.StringType()), T.StructField("n", T.LongType())]
)


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _assert_local(df):
    plan = _analyzed(df)
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


def test_local_frame_round_trips(spark):
    rows = [("a", 1), (None, -(1 << 63)), ("ü-é", None), ("", (1 << 63) - 1)]
    df = local_frame(spark, rows, SCHEMA)
    _assert_local(df)
    assert df.schema == SCHEMA
    assert [tuple(r) for r in df.collect()] == rows

    assert local_frame(spark, rows, "s string, n long").collect() == df.collect()

    empty = local_frame(spark, [], SCHEMA)
    _assert_local(empty)
    assert empty.schema == SCHEMA
    assert empty.collect() == []
    assert empty.groupBy("s").count().collect() == []


def test_active_scan_offsets_plan_as_local_relation(spark, tmp_root):
    cfg = GeneratorConfig(n_repos=4, paths_per_repo=3, hot_repos=1, events_per_key_mean=2)
    fx = os.path.join(tmp_root, "fx")
    write_fixture(fx, cfg)
    write_proto_log(fx)
    eng = CdcReplayEngine(
        spark,
        fx,
        os.path.join(tmp_root, "t"),
        os.path.join(tmp_root, "c"),
        start_us=EPOCH_MICROS,
        end_us=EPOCH_MICROS + cfg.duration_s * 1_000_000,
        n_batches=2,
        initial_schema=REPOS_SCHEMA_V1,
        n_buckets=4,
        wire_format="proto",
    )
    active = eng._gate()
    assert active
    for decode in (True, False):
        scan = eng._active_scan(active, eng.end_us, decode=decode)
        _assert_local(scan)
        assert "BroadcastHashJoin" in scan._jdf.queryExecution().toString()


def test_empty_table_read_is_local_relation(spark, tmp_root):
    schema = REPOS_SCHEMA_V1.spark_struct()
    t = LakeTable.create(spark, os.path.join(tmp_root, "t"), schema, ["repo", "path"], 4)
    df = t.read()
    _assert_local(df)
    assert df.schema == schema
    assert df.count() == 0


def test_dataframe_debugging_off_keeps_error_message(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
    with pytest.raises(AnalysisException, match="no_such_col"):
        spark.range(1).select(F.col("no_such_col") + 1).collect()
