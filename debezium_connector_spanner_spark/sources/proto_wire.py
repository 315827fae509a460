"""Proto wire format: length-delimited proto3 change records (D1/D2).

The reference decodes three wire shapes; this is the protobuf one, where
each change-stream record arrives as one serialized proto3 message
(/root/reference db/mapper/ChangeStreamRecordMapper.java:482-494 for the
proto demux; db/model/event/PartitionStartEvent.java /
PartitionEventRecord.java / PartitionEndEvent.java for the partition
lifecycle records; enums mirror db/model/ModType.java:10-16 and
db/model/ValueCaptureType.java:12-18).

Message layout (standard proto3 wire encoding — varint / len-delimited):

    ChangeStreamRecord (oneof record):
      1  DataChangeRecord      2  HeartbeatRecord
      3  ChildPartitionsRecord 4  PartitionEndRecord
      5  PartitionStartRecord  6  PartitionEventRecord

    (5/6 are the mutable-key-range proto-mode lifecycle records the
    reference maps — ChangeStreamRecordMapper.java:589-623,
    db/model/event/PartitionStartEvent.java / PartitionEventEvent.java.
    Field NUMBERS here follow this log's own layout, not
    google.spanner.v1 oneof numbering, because 3/4 were already taken.)

    PartitionStartRecord:   1 start_timestamp (Timestamp)
                            2 record_sequence (string)
                            3 repeated partition_tokens (string)
    PartitionEventRecord:   1 commit_timestamp (Timestamp)
                            2 record_sequence (string)
                            3 repeated MoveInEvent  (1=source_partition_token)
                            4 repeated MoveOutEvent (1=destination_partition_token)

    Both decode to control rows in the canonical schema with the move /
    start lineage carried as child_partitions edges: a start record's
    announced tokens become {token, parents: []}; a move-in from S
    becomes {token: <this partition>, parents: [S...]}; a move-out to D
    becomes {token: D, parents: [<this partition>]}. The record's own
    partition is the log row's partition_token column (as in Spanner,
    where the record is emitted within the partition it concerns). The
    DAG gate keys on record_type == 'child_partitions', so these rows
    surface lineage without altering replay semantics — matching the
    reference, where PartitionStartEvent / PartitionEventEvent are
    mapped but consumed by no downstream component.

    DataChangeRecord:
      1  commit_timestamp  (google.protobuf.Timestamp: 1=seconds 2=nanos)
      2  record_sequence   (string)
      3  server_transaction_id (string)
      4  is_last_record_in_transaction_in_partition (bool)
      5  table             (string)
      6  column_types      (repeated ColumnType:
                             1=name 2=type_json 3=is_primary_key
                             4=ordinal_position)
      7  mods              (repeated Mod: 1=keys 2=new_values
                             3=old_values — JSON strings, exactly the
                             shape Spanner's proto carries)
      8  mod_type          (enum: INSERT=1 UPDATE=2 DELETE=3)
      9  value_capture_type(enum: OLD_AND_NEW_VALUES=1 NEW_ROW=2
                             NEW_VALUES=3 NEW_ROW_AND_OLD_VALUES=4)
      10 number_of_records_in_transaction     (int64)
      11 number_of_partitions_in_transaction  (int64)
      12 transaction_tag   (string)
      13 is_system_transaction (bool)

    HeartbeatRecord:        1 timestamp (Timestamp)
    ChildPartitionsRecord:  1 start_timestamp (Timestamp)
                            2 record_sequence (string)
                            3 repeated ChildPartition
                                (1=token 2=repeated parent tokens)
    PartitionEndRecord:     1 end_timestamp (Timestamp)

proto3 presence rules apply: default-valued scalars (false, 0, "") are
omitted on the wire and restored at decode; a DELETE's absent new_values
decodes to NULL (message-typed oneof fields have true presence).

Execution note — the decode is an Arrow-batched ``mapInPandas`` kernel
(pure-Python varint parser, no per-row Python UDF overhead beyond the
batch loop). On a real cluster this column would be decoded JVM-side with
``from_protobuf`` from the spark-protobuf module; that jar is not in this
container, so the vectorized-Python fallback stands in. The wire bytes
themselves are standard proto3 and would decode unchanged. Everything
past the wire decode is format-independent: the output is
EVENT_LOG_SCHEMA-shaped, so the engine (DAG gate, LWW fold, MERGE,
schema registry) runs unchanged on any of the three dialects.

Same documented deviation as the PG dialect: the reference synthesizes
the end-of-partition event client-side when the TVF result set drains
(db/stream/SpannerChangeStreamService.java:97); a log replay has no
"result set end", so the marker is log-encoded as PartitionEndRecord.
"""

from __future__ import annotations

import json
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from debezium_connector_spanner_spark.sources.event_schema import (
    CHILD_PARTITIONS,
    DATA_CHANGE,
    EVENT_LOG_SCHEMA,
    HEARTBEAT,
    PARTITION_END,
    PARTITION_EVENT,
    PARTITION_START,
)

# On-disk proto-wire log: token + commit_ts columns mirror the query
# context / result-set metadata and exist for partition/row-group pruning
# (same layout contract as events/ and events_pg/).
PROTO_LOG_SCHEMA = T.StructType(
    [
        T.StructField("partition_token", T.StringType()),
        T.StructField("commit_ts", T.TimestampType()),
        T.StructField("record_bytes", T.BinaryType()),
    ]
)

MOD_TYPE_ENUM = {"INSERT": 1, "UPDATE": 2, "DELETE": 3}
MOD_TYPE_NAME = {v: k for k, v in MOD_TYPE_ENUM.items()}
VCT_ENUM = {
    "OLD_AND_NEW_VALUES": 1,
    "NEW_ROW": 2,
    "NEW_VALUES": 3,
    "NEW_ROW_AND_OLD_VALUES": 4,
}
VCT_NAME = {v: k for k, v in VCT_ENUM.items()}


# ------------------------------------------------------------- encoding
def _varint(n: int) -> bytes:
    if n < 0:
        # Python's arithmetic right shift would loop forever; this log
        # never carries negative values (pre-1970 timestamps / negative
        # counts are rejected upstream), so fail loudly over hanging.
        raise ValueError(f"negative varint not supported: {n}")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _field_varint(field: int, n: int) -> bytes:
    # proto3: default (0 / false) is not emitted
    if not n:
        return b""
    return _varint(field << 3) + _varint(int(n))


def _field_len(field: int, payload: bytes) -> bytes:
    return _varint((field << 3) | 2) + _varint(len(payload)) + payload


def _field_str(field: int, s: str | None) -> bytes:
    # proto3: "" (and None, for optional-string semantics) not emitted
    if not s:
        return b""
    return _field_len(field, s.encode("utf-8"))


def _ts_message(field: int, us: int) -> bytes:
    secs, rem = divmod(int(us), 1_000_000)
    body = _field_varint(1, secs) + _field_varint(2, rem * 1000)
    return _field_len(field, body)


def encode_record(r: dict) -> bytes:
    """One canonical-log record (dict of EVENT_LOG_SCHEMA fields, with
    commit_ts already in epoch micros) -> serialized ChangeStreamRecord."""
    rt = r["record_type"]
    if rt == DATA_CHANGE:
        body = _ts_message(1, r["commit_ts_us"])
        body += _field_str(2, r["record_sequence"])
        body += _field_str(3, r["server_txn_id"])
        body += _field_varint(4, bool(r["is_last_in_txn_in_partition"]))
        body += _field_str(5, r["table_name"])
        for c in json.loads(r["column_types"]):
            ct = _field_str(1, c["name"])
            ct += _field_str(2, json.dumps(c["type"], sort_keys=True))
            ct += _field_varint(3, bool(c.get("is_primary_key")))
            ct += _field_varint(4, int(c.get("ordinal_position", 0)))
            body += _field_len(6, ct)
        for m in r["mods"]:
            mod = _field_str(1, m["keys"])
            mod += _field_str(2, m["new_values"])
            mod += _field_str(3, m["old_values"])
            body += _field_len(7, mod)
        body += _field_varint(8, MOD_TYPE_ENUM[r["mod_type"]])
        body += _field_varint(9, VCT_ENUM[r["value_capture_type"]])
        body += _field_varint(10, int(r["number_of_records_in_transaction"]))
        body += _field_varint(11, int(r["number_of_partitions_in_transaction"]))
        body += _field_str(12, r["transaction_tag"])
        body += _field_varint(13, bool(r["is_system_transaction"]))
        return _field_len(1, body)
    if rt == HEARTBEAT:
        return _field_len(2, _ts_message(1, r["commit_ts_us"]))
    if rt == CHILD_PARTITIONS:
        body = _ts_message(1, r["commit_ts_us"])
        # encoded as-is: proto3 omits ''/None on the wire and decode
        # restores None — '' and None collapse (documented, proto3
        # presence semantics), every other value round-trips faithfully
        body += _field_str(2, r["record_sequence"])
        for c in r["child_partitions"] or []:
            cp = _field_str(1, c["token"])
            for p in c["parent_partition_tokens"]:
                cp += _field_str(2, p)
            body += _field_len(3, cp)
        return _field_len(3, body)
    if rt == PARTITION_START:
        body = _ts_message(1, r["commit_ts_us"])
        body += _field_str(2, r["record_sequence"])
        for c in r["child_partitions"] or []:
            body += _field_str(3, c["token"])
        return _field_len(5, body)
    if rt == PARTITION_EVENT:
        body = _ts_message(1, r["commit_ts_us"])
        body += _field_str(2, r["record_sequence"])
        # invert the edge-list convention (see module docstring): edges
        # pointing AT this partition are move-ins, edges FROM it move-outs
        own = r["partition_token"]
        for c in r["child_partitions"] or []:
            if c["token"] == own:
                for src in c["parent_partition_tokens"]:
                    body += _field_len(3, _field_str(1, src))
            else:
                body += _field_len(4, _field_str(1, c["token"]))
        return _field_len(6, body)
    return _field_len(4, _ts_message(1, r["commit_ts_us"]))  # PARTITION_END


# ------------------------------------------------------------- decoding
def _parse_fields(buf: memoryview) -> Iterator[tuple[int, int | memoryview]]:
    """Yield (field_number, value) pairs; varint values as int,
    len-delimited values as memoryview slices."""
    i, n = 0, len(buf)
    while i < n:
        key = 0
        shift = 0
        while True:
            b = buf[i]
            i += 1
            key |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        field, wire = key >> 3, key & 7
        if wire == 0:
            v = 0
            shift = 0
            while True:
                b = buf[i]
                i += 1
                v |= (b & 0x7F) << shift
                if not b & 0x80:
                    break
                shift += 7
            yield field, v
        elif wire == 2:
            ln = 0
            shift = 0
            while True:
                b = buf[i]
                i += 1
                ln |= (b & 0x7F) << shift
                if not b & 0x80:
                    break
                shift += 7
            yield field, buf[i : i + ln]
            i += ln
        else:  # wire types 1/5 (fixed64/32) unused by this schema
            raise ValueError(f"unexpected wire type {wire} for field {field}")


def _s(v: memoryview) -> str:
    return str(v, "utf-8")


# column_types memo: the field-6 bytes are identical for every record of
# a schema version (they re-announce the full column list), so the
# ColumnType submessage parse + canonical json.dumps — measured ~35% of
# decode_record — runs once per distinct schema version per worker, not
# once per record. Bounded by the number of schema versions (tiny).
_COLTYPES_CACHE: dict[tuple[bytes, ...], str] = {}


def _decode_coltypes(col_raws: list[bytes]) -> str:
    cols = []
    for raw in col_raws:
        c = {"name": None, "type": None, "is_primary_key": False, "ordinal_position": 0}
        for cf, cv in _parse_fields(memoryview(raw)):
            if cf == 1:
                c["name"] = _s(cv)
            elif cf == 2:
                c["type"] = json.loads(_s(cv))
            elif cf == 3:
                c["is_primary_key"] = bool(cv)
            elif cf == 4:
                c["ordinal_position"] = int(cv)
        cols.append(c)
    return json.dumps(cols, sort_keys=True)


def _decode_data_change(buf: memoryview) -> dict:
    out = {
        "record_type": DATA_CHANGE,
        "record_sequence": None,
        "server_txn_id": None,
        "is_last_in_txn_in_partition": False,
        "table_name": None,
        "mods": [],
        "mod_type": None,
        "value_capture_type": None,
        "number_of_records_in_transaction": 0,
        "number_of_partitions_in_transaction": 0,
        "transaction_tag": "",
        "is_system_transaction": False,
        "child_partitions": None,
    }
    col_raws: list[bytes] = []
    for f, v in _parse_fields(buf):
        if f == 2:
            out["record_sequence"] = _s(v)
        elif f == 3:
            out["server_txn_id"] = _s(v)
        elif f == 4:
            out["is_last_in_txn_in_partition"] = bool(v)
        elif f == 5:
            out["table_name"] = _s(v)
        elif f == 6:
            col_raws.append(bytes(v))
        elif f == 7:
            m = {"keys": None, "new_values": None, "old_values": None}
            for mf, mv in _parse_fields(v):
                if mf == 1:
                    m["keys"] = _s(mv)
                elif mf == 2:
                    m["new_values"] = _s(mv)
                elif mf == 3:
                    m["old_values"] = _s(mv)
            out["mods"].append(m)
        elif f == 8:
            out["mod_type"] = MOD_TYPE_NAME[v]
        elif f == 9:
            out["value_capture_type"] = VCT_NAME[v]
        elif f == 10:
            out["number_of_records_in_transaction"] = int(v)
        elif f == 11:
            out["number_of_partitions_in_transaction"] = int(v)
        elif f == 12:
            out["transaction_tag"] = _s(v)
        elif f == 13:
            out["is_system_transaction"] = bool(v)
    # tuple key, not a joined blob: raw submessage bytes may contain
    # 0x00, so a delimiter-joined key could collide two different
    # column lists (ADVICE r4)
    key = tuple(col_raws)
    ct = _COLTYPES_CACHE.get(key)
    if ct is None:
        ct = _COLTYPES_CACHE[key] = _decode_coltypes(col_raws)
    out["column_types"] = ct
    return out


_NON_DATA_DEFAULTS = {
    "record_sequence": None,
    "server_txn_id": None,
    "is_last_in_txn_in_partition": None,
    "table_name": None,
    "column_types": None,
    "mods": None,
    "mod_type": None,
    "value_capture_type": None,
    "number_of_records_in_transaction": None,
    "number_of_partitions_in_transaction": None,
    "transaction_tag": None,
    "is_system_transaction": None,
    "child_partitions": None,
}


def _decode_child_partitions(buf: memoryview) -> dict:
    out = dict(_NON_DATA_DEFAULTS, record_type=CHILD_PARTITIONS, child_partitions=[])
    for f, v in _parse_fields(buf):
        if f == 2:
            out["record_sequence"] = _s(v)
        elif f == 3:
            cp = {"token": None, "parent_partition_tokens": []}
            for cf, cv in _parse_fields(v):
                if cf == 1:
                    cp["token"] = _s(cv)
                elif cf == 2:
                    cp["parent_partition_tokens"].append(_s(cv))
            out["child_partitions"].append(cp)
    return out


def _decode_partition_start(buf: memoryview) -> dict:
    out = dict(_NON_DATA_DEFAULTS, record_type=PARTITION_START, child_partitions=[])
    for f, v in _parse_fields(buf):
        if f == 2:
            out["record_sequence"] = _s(v)
        elif f == 3:
            out["child_partitions"].append(
                {"token": _s(v), "parent_partition_tokens": []}
            )
    return out


def _decode_partition_event(buf: memoryview, own_token: str | None) -> dict:
    out = dict(_NON_DATA_DEFAULTS, record_type=PARTITION_EVENT, child_partitions=[])
    move_in_sources: list[str] = []
    for f, v in _parse_fields(buf):
        if f == 2:
            out["record_sequence"] = _s(v)
        elif f == 3:  # MoveInEvent
            for mf, mv in _parse_fields(v):
                if mf == 1:
                    move_in_sources.append(_s(mv))
        elif f == 4:  # MoveOutEvent
            for mf, mv in _parse_fields(v):
                if mf == 1:
                    out["child_partitions"].append(
                        {
                            "token": _s(mv),
                            "parent_partition_tokens": [own_token],
                        }
                    )
    if move_in_sources:
        out["child_partitions"].insert(
            0,
            {"token": own_token, "parent_partition_tokens": move_in_sources},
        )
    return out


def decode_record(raw: bytes, partition_token: str | None = None) -> dict:
    """Serialized ChangeStreamRecord -> dict of EVENT_LOG_SCHEMA fields
    (minus partition_token/commit_ts, which ride the log columns).
    ``partition_token`` (the log row's) anchors PartitionEventRecord
    move edges; unused for every other record kind."""
    for f, v in _parse_fields(memoryview(raw)):
        if f == 1:
            return _decode_data_change(v)
        if f == 2:
            return dict(_NON_DATA_DEFAULTS, record_type=HEARTBEAT)
        if f == 3:
            return _decode_child_partitions(v)
        if f == 4:
            return dict(_NON_DATA_DEFAULTS, record_type=PARTITION_END)
        if f == 5:
            return _decode_partition_start(v)
        if f == 6:
            return _decode_partition_event(v, partition_token)
    raise ValueError("empty ChangeStreamRecord")


_FIELDS = [f.name for f in EVENT_LOG_SCHEMA.fields]


def decode_proto_wire_pandas(log: DataFrame) -> DataFrame:
    """Row-at-a-time reference decode (mapInPandas over decode_record).

    Kept as the readable specification of the wire semantics and as the
    differential-test twin of the vectorized path below; the engine uses
    decode_proto_wire (numpy varint automaton + Arrow output).
    """
    # the only pandas user in this module
    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):  # from_records([]) would yield a columnless frame
                continue
            rows = [
                decode_record(raw, tok)
                for raw, tok in zip(pdf["record_bytes"], pdf["partition_token"])
            ]
            out = pd.DataFrame.from_records(rows)
            out["partition_token"] = pdf["partition_token"].values
            out["commit_ts"] = pdf["commit_ts"].values
            yield out[_FIELDS]

    return log.mapInPandas(kernel, schema=EVENT_LOG_SCHEMA)


# ----------------------------------------------- vectorized decode (r5)
# Batch varint/field parse with numpy over the concatenated Arrow byte
# buffer (VERDICT r4 #2). The per-record Python loop above resumes a
# generator ~21x per record and builds a dict per record (~47k rec/s
# single-thread measured); this path parses ALL records of an Arrow
# batch in lockstep — one numpy pass per field OCCURRENCE level, not one
# Python iteration per field — and assembles the output as Arrow arrays
# directly (mapInArrow), so no per-row Python object ever exists for the
# hot DataChange records. Control records (heartbeat / lifecycle, a few
# % of the log) still go through decode_record and are emitted as a
# second small batch; within-batch row order is not significant anywhere
# downstream (the fold orders by commit_ts/record_sequence).

import numpy as np  # noqa: E402  (kept with its section on purpose)
import pyarrow as pa  # noqa: E402

_ARANGE = np.arange(1 << 14, dtype=np.int64)


def _arange(n: int) -> np.ndarray:
    """Cached 0..n-1 (grown on demand): _vec_varints runs thousands of
    times per batch and the fresh np.arange per call was a measurable
    slice of the kernel profile. Callers must not mutate the view."""
    global _ARANGE
    if n > _ARANGE.shape[0]:
        _ARANGE = np.arange(max(n, 2 * _ARANGE.shape[0]), dtype=np.int64)
    return _ARANGE[:n]


def _vec_varints(
    data: np.ndarray, pos0: np.ndarray, limits: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Decode varints starting at positions pos0 into (values, end_pos).

    Lockstep over all positions: one numpy round per varint BYTE level
    (log payloads need <=3 rounds for lengths, <=6 for timestamps).
    ``limits`` (aligned with pos0) bounds each varint to its wire region:
    a varint still unterminated at its limit raises instead of silently
    reading the next record's bytes (ADVICE r5 — matches the row-at-a-
    time decode_record, which raises on the same truncated input)."""
    n = pos0.shape[0]
    val = np.zeros(n, np.uint64)
    pos = pos0.astype(np.int64).copy()
    shift = np.zeros(n, np.uint64)
    idx = _arange(n)  # read-only view; rebound (never mutated) below
    while idx.size:
        if limits is not None:
            over = pos[idx] >= limits[idx]
            if over.any():
                raise ValueError(
                    "truncated varint: record region ends mid-varint at "
                    f"byte {int(pos[idx][np.flatnonzero(over)[0]])}"
                )
        b = data[pos[idx]]
        val[idx] |= (b.astype(np.uint64) & 0x7F) << shift[idx]
        pos[idx] += 1
        idx = idx[(b & 0x80) != 0]
        if idx.size:
            shift[idx] += 7
    return val.astype(np.int64), pos


def _parse_events(
    data: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> tuple[np.ndarray, ...]:
    """Vectorized field scan over N message regions in lockstep.

    Returns flat event arrays (row, field, kstart, ival, vstart, vend):
    one entry per field occurrence, in step-major order (step k holds
    the k-th field of every region that has one — per-region field order
    is preserved under a stable per-row regroup). Wire-0 values land in
    ival; wire-2 slices in [vstart, vend). No field-order or presence
    assumptions: this is the same general last-wins proto3 scan as
    _parse_fields, just data-parallel."""
    ev_rows, ev_f, ev_k, ev_i, ev_s, ev_e = [], [], [], [], [], []
    pos = starts.astype(np.int64).copy()
    ends = ends.astype(np.int64)
    idx = np.flatnonzero(pos < ends)
    while idx.size:
        kstart = pos[idx].copy()
        lim = ends[idx]
        key, p1 = _vec_varints(data, pos[idx], lim)
        field = key >> 3
        wire = key & 7
        bad = (wire != 0) & (wire != 2)
        if bad.any():
            j = int(np.flatnonzero(bad)[0])
            raise ValueError(
                f"unexpected wire type {int(wire[j])} for field {int(field[j])}"
            )
        ival = np.zeros(idx.size, np.int64)
        vstart = np.full(idx.size, -1, np.int64)
        vend = np.full(idx.size, -1, np.int64)
        w0 = np.flatnonzero(wire == 0)
        if w0.size:
            v, p2 = _vec_varints(data, p1[w0], lim[w0])
            ival[w0] = v
            p1[w0] = p2
        w2 = np.flatnonzero(wire == 2)
        if w2.size:
            ln, p2 = _vec_varints(data, p1[w2], lim[w2])
            over = p2 + ln > lim[w2]
            if over.any():
                raise ValueError(
                    "length-delimited field overruns its record region "
                    f"(field {int(field[w2][np.flatnonzero(over)[0]])})"
                )
            vstart[w2] = p2
            vend[w2] = p2 + ln
            p1[w2] = p2 + ln
        pos[idx] = p1
        # with the per-region bounds above pos never exceeds ends, so the
        # loop's pos >= ends exit condition implies pos == ends exactly
        ev_rows.append(idx.copy())
        ev_f.append(field)
        ev_k.append(kstart)
        ev_i.append(ival)
        ev_s.append(vstart)
        ev_e.append(vend)
        idx = idx[pos[idx] < ends[idx]]
    if ev_rows:
        return (
            np.concatenate(ev_rows),
            np.concatenate(ev_f),
            np.concatenate(ev_k),
            np.concatenate(ev_i),
            np.concatenate(ev_s),
            np.concatenate(ev_e),
        )
    z = np.empty(0, np.int64)
    return z, z, z, z, z, z


def _gather(data: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenate data[starts[i] : starts[i]+lens[i]] slices (row order).

    The gather index is built with ONE cumsum over a mostly-ones delta
    array (value at each segment start jumps to that segment's source
    position) instead of repeat(...) + arange(...) — ~2x fewer big
    temporaries on the kernel's hottest path (profiled: _gather was the
    top cost of the 411k-record decode)."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, np.uint8)
    nz = np.flatnonzero(lens)
    s, ln = starts[nz], lens[nz]
    seg0 = np.cumsum(ln) - ln               # output offset of each segment
    delta = np.ones(total, np.int64)
    delta[0] = s[0]
    if s.shape[0] > 1:
        delta[seg0[1:]] = s[1:] - (s[:-1] + ln[:-1]) + 1
    np.cumsum(delta, out=delta)
    return data[delta]


def _str_col(
    data: np.ndarray,
    n: int,
    rows: np.ndarray,
    vs: np.ndarray,
    ve: np.ndarray,
    default_present: bool = False,
) -> pa.Array:
    """utf8 column of length n from byte slices; rows without a slice are
    '' when default_present (proto3 string default) else null (message /
    optional-string presence). Duplicate rows: last occurrence wins."""
    lens = np.zeros(n, np.int64)
    starts = np.zeros(n, np.int64)
    lens[rows] = ve - vs
    starts[rows] = vs
    total = int(lens.sum())
    if total > np.iinfo(np.int32).max:
        # utf8 arrays carry int32 offsets; a >2GB single Arrow batch
        # would wrap silently. Unreachable at the default
        # maxRecordsPerBatch (10k records), but fail loudly, not corrupt.
        raise ValueError(
            f"string column payload {total} bytes exceeds the 2GB Arrow "
            "utf8 offset range; lower spark.sql.execution.arrow."
            "maxRecordsPerBatch"
        )
    offsets = np.zeros(n + 1, np.int32)
    offsets[1:] = np.cumsum(lens)
    buf = _gather(data, starts, lens)
    if default_present:
        validity, nulls = None, 0
    else:
        present = np.zeros(n, bool)
        present[rows] = True
        nulls = int(n - present.sum())
        validity = (
            None
            if nulls == 0
            else pa.py_buffer(np.packbits(present, bitorder="little"))
        )
    # py_buffer wraps the freshly-built numpy memory zero-copy (it keeps
    # the arrays alive); the old .tobytes() copied every payload byte twice
    return pa.Array.from_buffers(
        pa.utf8(),
        n,
        [validity, pa.py_buffer(offsets), pa.py_buffer(buf)],
        null_count=nulls,
    )


# Arrays are built from buffers, never with pa.array(): pyarrow probes
# every pa.array() input for pandas types, which imports pandas, and a
# fresh Python worker running this kernel would spend ~0.4 s (4-vCPU VM)
# and ~30 MB on an import it has no use for.
def _ints(arr: np.ndarray, typ: pa.DataType) -> pa.Array:
    """int32/int64 column over a numpy array (zero-copy when it already
    has the width)."""
    arr = np.ascontiguousarray(arr, dtype=f"int{typ.bit_width}")
    return pa.Array.from_buffers(typ, arr.shape[0], [None, pa.py_buffer(arr)])


def _bools(arr: np.ndarray) -> pa.Array:
    return pa.Array.from_buffers(
        pa.bool_(), arr.shape[0], [None, pa.py_buffer(np.packbits(arr, bitorder="little"))]
    )


def _utf8(vals: list) -> pa.Array:
    """utf8 column from Python str / None values."""
    enc = [b"" if v is None else v.encode() for v in vals]
    offsets = np.zeros(len(enc) + 1, np.int64)
    offsets[1:] = np.cumsum([len(b) for b in enc], dtype=np.int64)
    if offsets[-1] > np.iinfo(np.int32).max:
        raise ValueError(f"string column payload {offsets[-1]} bytes exceeds 2GB")
    valid = np.array([v is not None for v in vals], bool)
    nulls = len(vals) - int(valid.sum())
    return pa.Array.from_buffers(
        pa.utf8(),
        len(vals),
        [
            pa.py_buffer(np.packbits(valid, bitorder="little")) if nulls else None,
            pa.py_buffer(offsets.astype(np.int32)),
            pa.py_buffer(b"".join(enc)),
        ],
        null_count=nulls,
    )


_PA_MODS = pa.list_(
    pa.struct(
        [("keys", pa.utf8()), ("new_values", pa.utf8()), ("old_values", pa.utf8())]
    )
)
_PA_CPS = pa.list_(
    pa.struct(
        [("token", pa.utf8()), ("parent_partition_tokens", pa.list_(pa.utf8()))]
    )
)
_MOD_TYPE_TABLE = _utf8([None, "INSERT", "UPDATE", "DELETE"])
_VCT_TABLE = _utf8(
    [None, "OLD_AND_NEW_VALUES", "NEW_ROW", "NEW_VALUES", "NEW_ROW_AND_OLD_VALUES"]
)
_DATA_CHANGE_ARR = _utf8([DATA_CHANGE])


def _child_partitions(vals: list) -> pa.Array:
    """``_PA_CPS`` column from decode_record's child_partitions values
    (a list of {token, parent_partition_tokens} dicts, or None)."""
    outer, tokens, inner, parents = [0], [], [0], []
    for cps in vals:
        for cp in cps or ():
            tokens.append(cp["token"])
            parents.extend(cp["parent_partition_tokens"])
            inner.append(len(parents))
        outer.append(len(tokens))
    parent_lists = pa.ListArray.from_arrays(_ints(np.array(inner), pa.int32()), _utf8(parents))
    struct = pa.StructArray.from_arrays(
        [_utf8(tokens), parent_lists], fields=list(_PA_CPS.value_type)
    )
    null = np.array([v is None for v in vals], bool)
    return pa.ListArray.from_arrays(
        _ints(np.array(outer), pa.int32()), struct, mask=_bools(null) if null.any() else None
    )

# region-bytes -> canonical column_types JSON. The covering wire region
# of a record's field-6 occurrences starts at a key boundary, so equal
# region bytes imply an equal parsed ColumnType list (wire parsing from
# a key boundary is deterministic) — an unambiguous memo key with no
# delimiter-collision hazard.
_COLTYPES_REGION_CACHE: dict[bytes, str] = {}


def _out_schema(tok_type: pa.DataType, ts_type: pa.DataType) -> pa.Schema:
    return pa.schema(
        [
            ("record_type", pa.utf8()),
            ("partition_token", tok_type),
            ("commit_ts", ts_type),
            ("record_sequence", pa.utf8()),
            ("server_txn_id", pa.utf8()),
            ("is_last_in_txn_in_partition", pa.bool_()),
            ("table_name", pa.utf8()),
            ("column_types", pa.utf8()),
            ("mods", _PA_MODS),
            ("mod_type", pa.utf8()),
            ("value_capture_type", pa.utf8()),
            ("number_of_records_in_transaction", pa.int64()),
            ("number_of_partitions_in_transaction", pa.int64()),
            ("transaction_tag", pa.utf8()),
            ("is_system_transaction", pa.bool_()),
            ("child_partitions", _PA_CPS),
        ]
    )


def _take(arr: pa.Array, idx: np.ndarray) -> pa.Array:
    return arr.take(_ints(idx, pa.int64()))


def _decode_data_batch(
    data: np.ndarray,
    dstarts: np.ndarray,
    dends: np.ndarray,
    tok: pa.Array,
    cts: pa.Array,
    idx_data: np.ndarray,
    schema: pa.Schema,
) -> pa.RecordBatch:
    nd = idx_data.shape[0]
    rows, fields, kst, ival, vs, ve = _parse_events(data, dstarts, dends)

    def sel(f: int):
        m = fields == f
        return rows[m], ival[m], vs[m], ve[m], kst[m]

    r2, _, s2, e2, _ = sel(2)
    r3, _, s3, e3, _ = sel(3)
    r4, i4, _, _, _ = sel(4)
    r5, _, s5, e5, _ = sel(5)
    r6, _, s6, e6, k6 = sel(6)
    r7, _, s7, e7, _ = sel(7)
    r8, i8, _, _, _ = sel(8)
    r9, i9, _, _, _ = sel(9)
    r10, i10, _, _, _ = sel(10)
    r11, i11, _, _, _ = sel(11)
    r12, _, s12, e12, _ = sel(12)
    r13, i13, _, _, _ = sel(13)

    # column_types: memoized on the covering field-6 wire region. The
    # per-record Python loop (411k dict probes + .tobytes() keys per
    # 411k-event log — profiled as a top kernel cost) is replaced by
    # run-length grouping: rows are bucketed by region LENGTH, each
    # bucket's regions land in a (rows x L) uint8 matrix, and one
    # vectorized row-vs-previous-row compare finds the run boundaries
    # (schema regions repeat in long runs in a log-ordered batch; a
    # np.unique(axis=0) dedup was tried first and its void-dtype argsort
    # was 10x SLOWER than the Python loop). Only run heads pay a cache
    # probe / decode; worst case (alternating schemas) degrades to the
    # original per-row cost. Same memo key (region bytes), same output.
    kmin = np.full(nd, np.iinfo(np.int64).max, np.int64)
    vmax = np.full(nd, -1, np.int64)
    np.minimum.at(kmin, r6, k6)
    np.maximum.at(vmax, r6, e6)
    ct_arr = np.empty(nd, object)
    cache = _COLTYPES_REGION_CACHE
    no_region = np.flatnonzero(vmax < 0)
    if no_region.size:
        ct_arr[no_region] = _decode_coltypes([])
    has = np.flatnonzero(vmax >= 0)
    if has.size:
        lens = vmax[has] - kmin[has]
        for L in np.unique(lens):
            rows_l = has[lens == L]
            mat = data[kmin[rows_l][:, None] + np.arange(int(L), dtype=np.int64)]
            change = np.empty(mat.shape[0], bool)
            change[0] = True
            if mat.shape[0] > 1:
                np.any(mat[1:] != mat[:-1], axis=1, out=change[1:])
            run_starts = np.flatnonzero(change)
            run_ids = np.cumsum(change) - 1
            run_cts = np.empty(run_starts.size, object)
            for ri in range(run_starts.size):
                r0 = int(run_starts[ri])
                key = mat[r0].tobytes()
                ct = cache.get(key)
                if ct is None:
                    m = r6 == int(rows_l[r0])
                    raws = [data[s:e].tobytes() for s, e in zip(s6[m], e6[m])]
                    ct = cache[key] = _decode_coltypes(raws)
                run_cts[ri] = ct
            ct_arr[rows_l] = run_cts[run_ids]
    ct_list = ct_arr.tolist()

    # mods: regroup step-major occurrences into per-row order (stable)
    order = np.argsort(r7, kind="stable")
    ms, me = s7[order], e7[order]
    counts = np.bincount(r7, minlength=nd)
    mrows, mf, _, _, mvs, mve = _parse_events(data, ms, me)
    nm = ms.shape[0]

    def mod_str(f: int) -> pa.Array:
        m = mf == f
        return _str_col(data, nm, mrows[m], mvs[m], mve[m])

    mods_struct = pa.StructArray.from_arrays(
        [mod_str(1), mod_str(2), mod_str(3)],
        ["keys", "new_values", "old_values"],
    )
    mod_offsets = np.zeros(nd + 1, np.int32)
    mod_offsets[1:] = np.cumsum(counts)
    mods_arr = pa.ListArray.from_arrays(_ints(mod_offsets, pa.int32()), mods_struct)

    def bool_col(rws: np.ndarray, iv: np.ndarray) -> pa.Array:
        arr = np.zeros(nd, bool)
        arr[rws] = iv != 0
        return _bools(arr)

    def int_col(rws: np.ndarray, iv: np.ndarray) -> pa.Array:
        arr = np.zeros(nd, np.int64)
        arr[rws] = iv
        return _ints(arr, pa.int64())

    def enum_col(table: pa.Array, rws: np.ndarray, iv: np.ndarray) -> pa.Array:
        # validate the RAW varint values before the int32 cast (ADVICE r5:
        # a huge varint must not wrap past the range guard into a negative
        # take index), and reject explicit zero like the row path's
        # MOD_TYPE_NAME[v] / VCT_NAME[v] KeyError — only an ABSENT field
        # (proto3 default) decodes to null
        bad = (iv <= 0) | (iv >= len(table))
        if bad.any():
            raise KeyError(int(iv[np.flatnonzero(bad)[0]]))
        codes = np.zeros(nd, np.int32)
        codes[rws] = iv.astype(np.int32)
        return table.take(_ints(codes, pa.int32()))

    return pa.RecordBatch.from_arrays(
        [
            _DATA_CHANGE_ARR.take(_ints(np.zeros(nd, np.int32), pa.int32())),
            _take(tok, idx_data),
            _take(cts, idx_data),
            _str_col(data, nd, r2, s2, e2),
            _str_col(data, nd, r3, s3, e3),
            bool_col(r4, i4),
            _str_col(data, nd, r5, s5, e5),
            _utf8(ct_list),
            mods_arr,
            enum_col(_MOD_TYPE_TABLE, r8, i8),
            enum_col(_VCT_TABLE, r9, i9),
            int_col(r10, i10),
            int_col(r11, i11),
            _str_col(data, nd, r12, s12, e12, default_present=True),
            bool_col(r13, i13),
            pa.nulls(nd, type=_PA_CPS),
        ],
        schema=schema,
    )


def _decode_ctrl_batch(
    data: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    tok: pa.Array,
    cts: pa.Array,
    idx_ctrl: np.ndarray,
    schema: pa.Schema,
) -> pa.RecordBatch:
    toks = _take(tok, idx_ctrl)
    recs = [
        decode_record(
            data[starts[i] : ends[i]].tobytes(), toks[j].as_py()
        )
        for j, i in enumerate(idx_ctrl)
    ]
    cols = [_utf8([r["record_type"] for r in recs]), toks, _take(cts, idx_ctrl)]
    # a control record sets record_sequence and child_partitions; every
    # other field keeps its _NON_DATA_DEFAULTS null
    for name, typ in list(zip(schema.names, schema.types))[3:]:
        vals = [r[name] for r in recs]
        if name == "record_sequence":
            cols.append(_utf8(vals))
        elif name == "child_partitions":
            cols.append(_child_partitions(vals))
        elif any(v is not None for v in vals):
            raise ValueError(f"control record with a {name} value")
        else:
            cols.append(pa.nulls(len(recs), type=typ))
    return pa.RecordBatch.from_arrays(cols, schema=schema)


def decode_proto_wire(log: DataFrame) -> DataFrame:
    """Proto wire log -> canonical EVENT_LOG_SCHEMA DataFrame.

    Vectorized: numpy varint automaton over the batch's concatenated
    Arrow byte buffer, output assembled as Arrow arrays (mapInArrow) —
    no per-row Python objects for DataChange records. Runs AFTER the
    scan's token/commit_ts pruning (the filters sit on plain log
    columns), so only the batch's pruned slice pays the decode.
    Differential-tested against decode_proto_wire_pandas / decode_record
    (tests/test_proto_wire.py)."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = rb.schema.names
            rec = rb.column(names.index("record_bytes"))
            tok = rb.column(names.index("partition_token"))
            cts = rb.column(names.index("commit_ts"))
            off_dt = np.int64 if pa.types.is_large_binary(rec.type) else np.int32
            bufs = rec.buffers()
            offs = np.frombuffer(bufs[1], dtype=off_dt)[
                rec.offset : rec.offset + len(rec) + 1
            ].astype(np.int64)
            data = np.frombuffer(bufs[2], dtype=np.uint8)
            starts, ends = offs[:-1], offs[1:]
            if bool((starts >= ends).any()):
                raise ValueError("empty ChangeStreamRecord")
            key0 = data[starts]
            if bool(((key0 & 7) != 2).any()):
                j = int(np.flatnonzero((key0 & 7) != 2)[0])
                raise ValueError(
                    f"unexpected wire type {int(key0[j] & 7)} for field "
                    f"{int(key0[j] >> 3)}"
                )
            ln, p = _vec_varints(data, starts + 1, ends)
            if bool((p + ln > ends).any()):
                raise ValueError(
                    "ChangeStreamRecord envelope overruns its record bytes"
                )
            rtype = (key0 >> 3).astype(np.int64)
            schema = _out_schema(tok.type, cts.type)
            idx_data = np.flatnonzero(rtype == 1)
            if idx_data.size:
                yield _decode_data_batch(
                    data,
                    p[idx_data],
                    (p + ln)[idx_data],
                    tok,
                    cts,
                    idx_data,
                    schema,
                )
            idx_ctrl = np.flatnonzero(rtype != 1)
            if idx_ctrl.size:
                yield _decode_ctrl_batch(
                    data, starts, ends, tok, cts, idx_ctrl, schema
                )

    return log.mapInArrow(kernel, schema=EVENT_LOG_SCHEMA)
