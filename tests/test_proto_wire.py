"""Proto wire format (D1/D2 third decode shape).

- encode_record/decode_record round-trip every record kind exactly
  (proto3 default-omission restored, enums mapped, Timestamp micros)
- decode_proto_wire(events_proto) must produce the SAME decoded mod rows
  as the canonical struct-wire decode
- a full replay over the proto log must reproduce the pandas oracle's
  final state exactly (wire format is transparent to the engine)
"""

import os

import pandas as pd
from pyspark.sql import functions as F

from debezium_connector_spanner_spark.fixtures.generator import (
    EPOCH_MICROS,
    GeneratorConfig,
    write_fixture,
    write_proto_log,
)
from debezium_connector_spanner_spark.fixtures.oracle import fold_final_state
from debezium_connector_spanner_spark.operators.decode import decode_mods
from debezium_connector_spanner_spark.sources.event_schema import (
    EVENT_LOG_SCHEMA,
    REPOS_SCHEMA_V1,
)
from debezium_connector_spanner_spark.sources.proto_wire import (
    PROTO_LOG_SCHEMA,
    decode_proto_wire,
    decode_record,
    encode_record,
)
from debezium_connector_spanner_spark.streaming.engine import CdcReplayEngine

CFG = GeneratorConfig(n_repos=6, paths_per_repo=4, hot_repos=1, events_per_key_mean=4)


def _fixture(tmp_root):
    fx = os.path.join(tmp_root, "fx")
    write_fixture(fx, CFG)
    write_proto_log(fx)
    return fx


def test_record_roundtrip():
    rec = {
        "record_type": "data_change",
        "commit_ts_us": 1_700_000_123_456_789,
        "record_sequence": "10",
        "server_txn_id": "txn-00000001-0002",
        "is_last_in_txn_in_partition": True,
        "table_name": "repos",
        "column_types": (
            '[{"is_primary_key": true, "name": "repo", "ordinal_position": 1,'
            ' "type": {"code": "STRING"}}]'
        ),
        "mods": [
            {"keys": '{"repo":"a"}', "new_values": '{"lang":null}', "old_values": None}
        ],
        "mod_type": "UPDATE",
        "value_capture_type": "NEW_VALUES",
        "number_of_records_in_transaction": 1,
        "number_of_partitions_in_transaction": 1,
        "transaction_tag": "",
        "is_system_transaction": False,
    }
    got = decode_record(encode_record(rec))
    for k, v in rec.items():
        if k != "commit_ts_us":
            assert got[k] == v, (k, got[k], v)

    hb = decode_record(encode_record({"record_type": "heartbeat", "commit_ts_us": 1}))
    assert hb["record_type"] == "heartbeat" and hb["mods"] is None

    cp_rec = {
        "record_type": "child_partitions",
        "commit_ts_us": 5,
        "record_sequence": "0",
        "child_partitions": [
            {"token": "t1", "parent_partition_tokens": ["p1", "p2"]},
            {"token": "t2", "parent_partition_tokens": []},
        ],
    }
    got_cp = decode_record(encode_record(cp_rec))
    assert got_cp["record_type"] == "child_partitions"
    assert got_cp["child_partitions"] == cp_rec["child_partitions"]

    pe = decode_record(
        encode_record({"record_type": "partition_end", "commit_ts_us": 9})
    )
    assert pe["record_type"] == "partition_end"


def test_partition_lifecycle_roundtrip():
    """Proto-mode PartitionStartRecord / PartitionEventRecord (move
    lineage) decode to control rows carrying the same edges they were
    encoded from (ChangeStreamRecordMapper.java:589-623 proto paths)."""
    start = {
        "record_type": "partition_start",
        "commit_ts_us": 42,
        "record_sequence": "7",
        "child_partitions": [
            {"token": "tA", "parent_partition_tokens": []},
            {"token": "tB", "parent_partition_tokens": []},
        ],
    }
    got = decode_record(encode_record(start))
    assert got["record_type"] == "partition_start"
    assert got["record_sequence"] == "7"
    assert got["child_partitions"] == start["child_partitions"]

    move = {
        "record_type": "partition_event",
        "commit_ts_us": 43,
        "record_sequence": "8",
        "partition_token": "tSelf",
        "child_partitions": [
            # move-ins: edges pointing AT this partition
            {"token": "tSelf", "parent_partition_tokens": ["src1", "src2"]},
            # move-outs: edges FROM this partition
            {"token": "dst1", "parent_partition_tokens": ["tSelf"]},
            {"token": "dst2", "parent_partition_tokens": ["tSelf"]},
        ],
    }
    got = decode_record(encode_record(move), partition_token="tSelf")
    assert got["record_type"] == "partition_event"
    assert got["record_sequence"] == "8"
    assert got["child_partitions"] == move["child_partitions"]


def test_coltypes_memo_distinguishes_schema_versions():
    """The column_types decode memo must key on the exact wire bytes:
    records carrying DIFFERENT schema versions decode to different
    column_types even when interleaved (no stale cache hits)."""
    def rec(cols):
        return {
            "record_type": "data_change",
            "commit_ts_us": 1,
            "record_sequence": "1",
            "server_txn_id": "t",
            "is_last_in_txn_in_partition": False,
            "table_name": "repos",
            "column_types": cols,
            "mods": [{"keys": "{}", "new_values": "{}", "old_values": None}],
            "mod_type": "UPDATE",
            "value_capture_type": "NEW_VALUES",
            "number_of_records_in_transaction": 1,
            "number_of_partitions_in_transaction": 1,
            "transaction_tag": "",
            "is_system_transaction": False,
        }

    v1 = '[{"is_primary_key": true, "name": "repo", "ordinal_position": 1, "type": {"code": "STRING"}}]'
    v2 = (
        '[{"is_primary_key": true, "name": "repo", "ordinal_position": 1, "type": {"code": "STRING"}},'
        ' {"is_primary_key": false, "name": "stars", "ordinal_position": 2, "type": {"code": "INT64"}}]'
    )
    b1, b2 = encode_record(rec(v1)), encode_record(rec(v2))
    for _ in range(2):  # interleaved, twice: cache must not cross-serve
        assert decode_record(b1)["column_types"] == v1
        assert decode_record(b2)["column_types"] == v2


def test_varint_rejects_negative():
    import pytest

    with pytest.raises(ValueError):
        encode_record({"record_type": "heartbeat", "commit_ts_us": -1})


def test_empty_record_sequence_collapses_to_none():
    # proto3 presence: '' is not emitted on the wire, decode restores None
    got = decode_record(
        encode_record(
            {
                "record_type": "child_partitions",
                "commit_ts_us": 5,
                "record_sequence": "",
                "child_partitions": [],
            }
        )
    )
    assert got["record_sequence"] is None


def test_proto_decode_matches_struct_wire(spark, tmp_root):
    fx = _fixture(tmp_root)
    canon = spark.read.schema(EVENT_LOG_SCHEMA).parquet(os.path.join(fx, "events"))
    proto = decode_proto_wire(
        spark.read.schema(PROTO_LOG_SCHEMA).parquet(os.path.join(fx, "events_proto"))
    )

    def decoded_rows(events):
        df = decode_mods(events, REPOS_SCHEMA_V1, include_old=True)
        pdf = df.select(
            "partition_token",
            "record_sequence",
            "server_txn_id",
            "mod_number",
            "op",
            "repo",
            "path",
            F.col("vals.commit").alias("v_commit"),
            F.col("vals.lang").alias("v_lang"),
            F.col("vals.content").alias("v_content"),
            F.col("olds.commit").alias("o_commit"),
        ).toPandas()
        return pdf.sort_values(pdf.columns.tolist()).reset_index(drop=True)

    pd.testing.assert_frame_equal(decoded_rows(canon), decoded_rows(proto))
    for rt in ("heartbeat", "child_partitions", "partition_end"):
        assert (
            canon.where(f"record_type = '{rt}'").count()
            == proto.where(f"record_type = '{rt}'").count()
        )


def test_proto_replay_matches_oracle(spark, tmp_root):
    fx = _fixture(tmp_root)
    eng = CdcReplayEngine(
        spark,
        fx,
        os.path.join(tmp_root, "t"),
        os.path.join(tmp_root, "c"),
        start_us=EPOCH_MICROS,
        end_us=EPOCH_MICROS + CFG.duration_s * 1_000_000,
        n_batches=5,
        initial_schema=REPOS_SCHEMA_V1,
        base_df=spark.read.parquet(os.path.join(fx, "base_repos.parquet")),
        n_buckets=8,
        wire_format="proto",
    )
    totals = eng.run()
    assert totals["events"] > 0
    got = (
        eng.final_state().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    want = fold_final_state(fx).sort_values(["repo", "path"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want)


def test_proto_replay_decodes_once_per_batch(spark, tmp_root, monkeypatch):
    """Each batch's pruned slice goes through the Python decode kernel
    exactly once: the progress observation rides the merge's decoded
    scan instead of a second, mods-free decode."""
    from debezium_connector_spanner_spark.sources import proto_wire

    fx = _fixture(tmp_root)
    eng = CdcReplayEngine(
        spark,
        fx,
        os.path.join(tmp_root, "t"),
        os.path.join(tmp_root, "c"),
        start_us=EPOCH_MICROS,
        end_us=EPOCH_MICROS + CFG.duration_s * 1_000_000,
        n_batches=3,
        initial_schema=REPOS_SCHEMA_V1,
        base_df=spark.read.parquet(os.path.join(fx, "base_repos.parquet")),
        n_buckets=4,
        wire_format="proto",
    )
    eng._events_df()  # the whole-log view for envelope_stream, built once
    calls = []

    def counting(log, **kw):
        calls.append(1)
        return decode_proto_wire(log, **kw)

    monkeypatch.setattr(proto_wire, "decode_proto_wire", counting)
    eng.run()
    scanned = [m for m in eng.metrics() if m["active_tokens"]]
    assert len(scanned) >= 3
    assert len(calls) == len(scanned)


def test_lifecycle_records_surface_without_changing_replay(spark, tmp_root):
    """A proto log containing PartitionStartRecord / PartitionEventRecord
    rows replays to the identical final state (the DAG gate keys on
    record_type='child_partitions'), while decode surfaces them as
    control rows with their move lineage."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fx = _fixture(tmp_root)
    proto_root = os.path.join(fx, "events_proto")
    tok_dir = sorted(
        d for d in os.listdir(proto_root) if d.startswith("partition_token=")
    )[0]
    own = tok_dir.split("=", 1)[1]
    ts_us = EPOCH_MICROS + 100 * 1_000_000  # mid-window: survives pruning
    blobs = [
        encode_record(
            {
                "record_type": "partition_start",
                "commit_ts_us": ts_us,
                "record_sequence": "1",
                "child_partitions": [
                    {"token": "started-1", "parent_partition_tokens": []}
                ],
            }
        ),
        encode_record(
            {
                "record_type": "partition_event",
                "commit_ts_us": ts_us + 1,
                "record_sequence": "2",
                "partition_token": own,
                "child_partitions": [
                    {"token": own, "parent_partition_tokens": ["moved-src"]},
                    {"token": "moved-dst", "parent_partition_tokens": [own]},
                ],
            }
        ),
    ]
    pq.write_table(
        pa.table(
            {
                "commit_ts": pa.array(
                    [pd.Timestamp(ts_us, unit="us", tz="UTC")] * 2,
                    type=pa.timestamp("us", tz="UTC"),
                ),
                "record_bytes": pa.array(blobs, type=pa.binary()),
            }
        ),
        os.path.join(proto_root, tok_dir, "part-lifecycle.parquet"),
    )

    # decode surfaces the control rows with their lineage edges
    decoded = decode_proto_wire(
        spark.read.schema(PROTO_LOG_SCHEMA).parquet(proto_root)
    )
    ctrl = {
        r["record_type"]: r
        for r in decoded.where(
            F.col("record_type").isin("partition_start", "partition_event")
        ).collect()
    }
    assert ctrl["partition_start"]["child_partitions"][0]["token"] == "started-1"
    ev_edges = [
        (c["token"], list(c["parent_partition_tokens"]))
        for c in ctrl["partition_event"]["child_partitions"]
    ]
    assert (own, ["moved-src"]) in ev_edges
    assert ("moved-dst", [own]) in ev_edges

    # ...and the replay's final state is byte-identical to the oracle
    eng = CdcReplayEngine(
        spark,
        fx,
        os.path.join(tmp_root, "t2"),
        os.path.join(tmp_root, "c2"),
        start_us=EPOCH_MICROS,
        end_us=EPOCH_MICROS + CFG.duration_s * 1_000_000,
        n_batches=4,
        initial_schema=REPOS_SCHEMA_V1,
        base_df=spark.read.parquet(os.path.join(fx, "base_repos.parquet")),
        n_buckets=8,
        wire_format="proto",
    )
    eng.run()
    got = (
        eng.final_state().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    want = fold_final_state(fx).sort_values(["repo", "path"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want)


def test_vectorized_decode_matches_pandas_reference(spark, tmp_root):
    """Differential gate for the r5 numpy/Arrow decode: EVERY column of
    every record kind (data + heartbeat + child_partitions + end +
    lifecycle) must match the row-at-a-time decode_record reference
    path, nulls and defaults included."""
    from debezium_connector_spanner_spark.sources.proto_wire import (
        decode_proto_wire_pandas,
    )

    fx = _fixture(tmp_root)
    log = spark.read.schema(PROTO_LOG_SCHEMA).parquet(
        os.path.join(fx, "events_proto")
    )
    cols = [f.name for f in EVENT_LOG_SCHEMA.fields]
    sort_keys = ["partition_token", "commit_ts", "record_sequence", "record_type"]

    def norm(df):
        pdf = df.select(
            *[
                F.to_json(F.col(c)).alias(c)
                if c in ("mods", "child_partitions")
                else F.col(c)
                for c in cols
            ]
        ).toPandas()
        return pdf.sort_values(sort_keys, na_position="first").reset_index(
            drop=True
        )

    got = norm(decode_proto_wire(log))
    want = norm(decode_proto_wire_pandas(log))
    pd.testing.assert_frame_equal(got, want)


def test_vectorized_decode_edge_records(spark):
    """Hand-built edge shapes through the vectorized path: DELETE with
    absent new_values, empty transaction_tag, multi-mod records, a
    record with NO column_types, interleaved control records, and an
    empty pruned slice (zero-row batch)."""
    import json as _json

    from debezium_connector_spanner_spark.sources.proto_wire import (
        decode_proto_wire_pandas,
        encode_record,
    )

    ct = _json.dumps(
        [{"name": "repo", "type": {"code": "STRING"}, "is_primary_key": True,
          "ordinal_position": 1}],
        sort_keys=True,
    )
    base = dict(
        record_sequence="s1", server_txn_id="txn", is_last_in_txn_in_partition=True,
        table_name="repos", column_types=ct, mod_type="INSERT",
        value_capture_type="OLD_AND_NEW_VALUES", number_of_records_in_transaction=2,
        number_of_partitions_in_transaction=1, transaction_tag="",
        is_system_transaction=False, commit_ts_us=1_700_000_000_000_000,
        record_type="data_change",
    )
    recs = [
        dict(base, mods=[{"keys": '{"repo":"r","path":"p"}', "new_values": '{"lang":"py"}',
                          "old_values": None}]),
        # DELETE: no new_values anywhere
        dict(base, record_sequence="s2", mod_type="DELETE",
             mods=[{"keys": '{"repo":"r","path":"p"}', "new_values": None,
                    "old_values": '{"lang":"py"}'}]),
        # multi-mod + non-empty tag
        dict(base, record_sequence="s3", transaction_tag="tag9",
             mods=[{"keys": f'{{"repo":"r{i}"}}', "new_values": '{"lang":"go"}',
                    "old_values": None} for i in range(4)]),
        # no column_types announced
        dict(base, record_sequence="s4", column_types="[]",
             mods=[{"keys": '{"repo":"x"}', "new_values": "{}", "old_values": None}]),
        {"record_type": "heartbeat", "commit_ts_us": 1_700_000_000_000_001},
        {"record_type": "child_partitions", "commit_ts_us": 1_700_000_000_000_002,
         "record_sequence": "cs1",
         "child_partitions": [{"token": "c1", "parent_partition_tokens": ["p0"]}]},
        {"record_type": "partition_end", "commit_ts_us": 1_700_000_000_000_003},
    ]
    import datetime

    rows = [
        ("tokA", datetime.datetime.fromtimestamp(r["commit_ts_us"] / 1e6,
                                                 datetime.timezone.utc),
         encode_record(dict(r, partition_token="tokA")))
        for r in recs
    ]
    log = spark.createDataFrame(rows, PROTO_LOG_SCHEMA)
    cols = [f.name for f in EVENT_LOG_SCHEMA.fields]

    def norm(df):
        pdf = df.select(
            *[
                F.to_json(F.col(c)).alias(c)
                if c in ("mods", "child_partitions")
                else F.col(c)
                for c in cols
            ]
        ).toPandas()
        return pdf.sort_values(["record_sequence", "record_type"],
                               na_position="first").reset_index(drop=True)

    got = norm(decode_proto_wire(log))
    want = norm(decode_proto_wire_pandas(log))
    pd.testing.assert_frame_equal(got, want)
    # DELETE row: new_values must be genuinely NULL, not ''
    d = decode_proto_wire(log).where("record_sequence = 's2'").collect()[0]
    assert d["mods"][0]["new_values"] is None
    assert d["mods"][0]["old_values"] is not None
    # empty pruned slice through the kernel
    assert decode_proto_wire(log.where("commit_ts < timestamp'1970-01-02'")).count() == 0


_NO_PANDAS_KERNEL = """
import sys

import numpy as np
import pyarrow as pa

from debezium_connector_spanner_spark.sources import proto_wire as pw

data = {
    "record_type": "data_change", "commit_ts_us": 1, "record_sequence": "1",
    "server_txn_id": "t", "is_last_in_txn_in_partition": True, "table_name": "repos",
    "column_types": "[]", "mod_type": "UPDATE", "value_capture_type": "NEW_VALUES",
    "mods": [{"keys": "{}", "new_values": "{}", "old_values": None}],
    "number_of_records_in_transaction": 1, "number_of_partitions_in_transaction": 1,
    "transaction_tag": "", "is_system_transaction": False,
}
cps = [{"token": "c", "parent_partition_tokens": ["tok"]}]
recs = [
    data,
    {"record_type": "heartbeat", "commit_ts_us": 2},
    {"record_type": "child_partitions", "commit_ts_us": 3, "record_sequence": "0",
     "child_partitions": cps},
    {"record_type": "partition_start", "commit_ts_us": 4, "record_sequence": "0",
     "child_partitions": [{"token": "s", "parent_partition_tokens": []}]},
    {"record_type": "partition_end", "commit_ts_us": 5},
]
raws = [pw.encode_record(r) for r in recs]
offsets = np.cumsum([0] + [len(r) for r in raws]).astype(np.int32)
batch = pa.RecordBatch.from_arrays(
    [
        pa.Array.from_buffers(
            pa.binary(), len(raws), [None, pa.py_buffer(offsets), pa.py_buffer(b"".join(raws))]
        ),
        pw._utf8(["tok"] * len(raws)),
        pw._ints(np.arange(len(raws)), pa.int64()).view(pa.timestamp("us", tz="UTC")),
    ],
    names=["record_bytes", "partition_token", "commit_ts"],
)
captured = {}


class Log:
    def mapInArrow(self, kernel, schema):
        captured["kernel"] = kernel


pw.decode_proto_wire(Log())
out = pa.Table.from_batches(list(captured["kernel"](iter([batch]))))
assert out.num_rows == len(recs), out.num_rows
assert sorted(out.column("record_type").to_pylist()) == sorted(r["record_type"] for r in recs)
print("pandas" in sys.modules)
"""


def test_vectorized_kernel_imports_no_pandas():
    """A Python worker running the engine's decode kernel never imports
    pandas: pa.array() would (pyarrow probes its input for pandas types),
    costing each fresh worker ~0.4 s. Run in a fresh interpreter, over
    data and control records."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root)
    res = subprocess.run(
        [sys.executable, "-c", _NO_PANDAS_KERNEL],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip() == "False"
