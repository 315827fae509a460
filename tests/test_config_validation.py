"""Collected-errors config validation (ConfigurationValidator.java:33-59,
StartEndTimeValidator.java:21-66 / StartEndTimeValidatorTest.java,
FieldValidator.java:40-160 / FieldValidatorTest.java).

Invalid configs must surface EVERY violation at once (field + value +
message); valid ones construct cleanly. Pure-driver tests — no Spark
jobs run because validation fires before any side effect.
"""

import os

import pytest

from debezium_connector_spanner_spark.config import (
    END_AFTER_START_MSG,
    ConfigValidationError,
    EngineConfig,
)
from debezium_connector_spanner_spark.fixtures.generator import (
    EPOCH_MICROS,
    GeneratorConfig,
    write_fixture,
)
from debezium_connector_spanner_spark.sources.event_schema import REPOS_SCHEMA_V1
from debezium_connector_spanner_spark.streaming.engine import CdcReplayEngine

CFG = GeneratorConfig(n_repos=4, paths_per_repo=2, hot_repos=1, events_per_key_mean=2)

VALID = dict(
    events_path=None,  # filled per test with a real fixture dir
    table_root="/tmp/t",
    checkpoint_dir="/tmp/ck",
    start_us=EPOCH_MICROS,
    end_us=EPOCH_MICROS + 1_000_000,
    n_batches=4,
    n_buckets=8,
)
TABLES = {"repos": (REPOS_SCHEMA_V1, None)}


def _fixture(tmp_root):
    fx = os.path.join(tmp_root, "fx")
    write_fixture(fx, CFG)
    return fx


def _errs(fx, tables=TABLES, checkpoint=None, **overrides):
    params = dict(VALID, events_path=fx)
    params.update(overrides)
    return EngineConfig(**params).validate(tables, checkpoint)


def test_valid_config_has_no_errors(tmp_root):
    assert _errs(_fixture(tmp_root)) == []


def test_end_must_be_after_start(tmp_root):
    # StartEndTimeValidatorTest: start == end and start > end both fail
    fx = _fixture(tmp_root)
    for end in (EPOCH_MICROS, EPOCH_MICROS - 5):
        errs = _errs(fx, end_us=end)
        assert [e for e in errs if e.message == END_AFTER_START_MSG]
    assert _errs(fx, end_us=EPOCH_MICROS + 1) == []


def test_all_violations_collected_at_once(tmp_root):
    errs = _errs(
        _fixture(tmp_root),
        end_us=EPOCH_MICROS,      # not after start
        wire_format="avro",       # unknown dialect
        max_events_per_batch=0,   # below 1
        sink_mode="x",            # unknown sink
        table_include="[unclosed",  # regex does not compile
        n_buckets=0,
    )
    fields = {e.field for e in errs}
    assert {
        "end_us",
        "wire_format",
        "max_events_per_batch",
        "sink_mode",
        "table_include",
        "n_buckets",
    } <= fields
    assert len(errs) >= 6


def test_missing_stream_for_wire_format(tmp_root):
    # ChangeStreamValidator analogue: the proto log dir must exist
    fx = _fixture(tmp_root)  # canonical fixture: no events_proto/ yet
    errs = _errs(fx, wire_format="proto")
    assert any(
        e.field == "events_path" and "events_proto" in e.message for e in errs
    )


def test_blank_and_bad_paths(tmp_root):
    errs = _errs("", checkpoint_dir="")
    assert {e.field for e in errs} >= {"events_path", "checkpoint_dir"}
    errs = _errs(os.path.join(tmp_root, "does-not-exist"))
    assert any(e.field == "events_path" for e in errs)


def test_fresh_engine_requires_tables(tmp_root):
    errs = _errs(_fixture(tmp_root), tables=None, checkpoint=None)
    assert any(e.field == "tables" for e in errs)
    # ...but a resume does not (schemas come from the checkpoint)
    errs = _errs(
        _fixture(tmp_root),
        tables=None,
        checkpoint={"tables": {"repos": {}}, "wire_format": "struct"},
    )
    assert errs == []


def test_resume_compat_checks(tmp_root):
    fx = _fixture(tmp_root)
    ck = {"tables": {"repos": {}}, "wire_format": "struct"}
    # wire dialect flip across resume is refused
    errs = _errs(fx, wire_format="pg_json", checkpoint=ck)
    assert any(e.field == "wire_format" for e in errs)
    # a table unknown to the checkpoint is refused
    errs = _errs(
        fx,
        tables={"other": (REPOS_SCHEMA_V1, None)},
        checkpoint=ck,
    )
    assert any(e.field == "tables" for e in errs)
    # old checkpoints without the wire_format field stay resumable
    assert _errs(fx, checkpoint={"tables": {"repos": {}}}) == []


def test_engine_constructor_raises_with_full_list(spark, tmp_root):
    fx = _fixture(tmp_root)
    with pytest.raises(ConfigValidationError) as ei:
        CdcReplayEngine(
            spark,
            fx,
            os.path.join(tmp_root, "t"),
            os.path.join(tmp_root, "c"),
            start_us=EPOCH_MICROS,
            end_us=EPOCH_MICROS,  # not after start
            initial_schema=REPOS_SCHEMA_V1,
            n_buckets=0,
            skew_mode="bogus",
        )
    fields = {e.field for e in ei.value.errors}
    assert {"end_us", "n_buckets", "skew_mode"} <= fields
    # nothing was created before the raise (no side effects), not even
    # the checkpoint dir
    assert not os.path.exists(os.path.join(tmp_root, "c"))
    assert isinstance(ei.value, ValueError)  # back-compat exception type


def test_empty_wire_log_keeps_session_split_size(spark, tmp_root):
    """An existing but empty log dir passes validation; the scan split
    size is then left to the session default instead of being derived
    from zero bytes."""
    fx = os.path.join(tmp_root, "fx-empty")
    os.makedirs(os.path.join(fx, "events"))
    eng = CdcReplayEngine(
        spark,
        fx,
        os.path.join(tmp_root, "t"),
        os.path.join(tmp_root, "c"),
        start_us=EPOCH_MICROS,
        end_us=EPOCH_MICROS + 1_000_000,
        initial_schema=REPOS_SCHEMA_V1,
        n_buckets=2,
    )
    assert eng._scan_split_bytes is None


def test_driver_window_covers_all_pipeline_queries():
    """The driver's correctness gate checks only the FIRST 50 queries()
    entries (r4 blemish: 18 pipeline ops registered past the window).
    Guard the registration order: every CDC and pipeline query must sit
    inside the first 50, and every entry must have an oracle."""
    import __spark_entry__ as e
    from debezium_connector_spanner_spark.plans.cdc_queries import CDC_QUERIES
    from debezium_connector_spanner_spark.plans.pipeline_queries import (
        PIPELINE_QUERIES,
    )

    names = list(e.queries())
    window = set(names[:50])
    missing = [n for n in list(CDC_QUERIES) + list(PIPELINE_QUERIES) if n not in window]
    assert not missing, f"outside the driver's 50-row window: {missing}"
    oracles = e.oracle_sql()
    assert [n for n in names if n not in oracles] == []
