"""Hypothesis property: for ARBITRARY event streams (random ops, partial
column writes, explicit nulls, duplicate records, multi-mod records,
random base rows), decode -> fold -> MERGE must reproduce a direct
pandas state-machine simulation — in BOTH fold shapes (fused and
salted) and BOTH sink modes (MOR delta and CoW rewrite). A second
property stacks several MOR deltas, with additive schema changes between
them, and checks current and older-snapshot reads. A third stacks
per-bucket deltas (the earlier delta layout, which tables written before
shared deltas still hold) under shared ones, and checks reads,
compaction and snapshot expiry. A fourth rewrites a table's manifests in
older layouts (deltas listed under ``buckets``, or a metadata-only
bucket-count doubling) and checks the same through a fresh LakeTable.

Complements the targeted semantics tests with shrinking random
coverage of the delete-barrier / written-flag / identity-dedup
interactions (operators/merge.py fold semantics block).
"""

import json
import os
import tempfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from debezium_connector_spanner_spark.operators.decode import decode_mods
from debezium_connector_spanner_spark.operators.merge import (
    fold_changes,
    fold_changes_salted,
    merge_into,
)
from debezium_connector_spanner_spark.sources.event_schema import (
    EVENT_LOG_SCHEMA,
    REPOS_SCHEMA_V1,
    REPOS_SCHEMA_V2,
    REPOS_SCHEMA_V3,
)
from debezium_connector_spanner_spark.sources.lake import (
    DELTA_FLAG_FIELDS,
    LakeTable,
    _set_flag_fields,
    atomic_write,
)

KEYS = [("r1", "p1"), ("r1", "p2"), ("r2", "p1")]
COLS = ["commit", "lang", "content"]

# one event: key index, op, written-column mask, value seed, dup flag
event_st = st.tuples(
    st.integers(0, len(KEYS) - 1),
    st.sampled_from(["INSERT", "UPDATE", "DELETE"]),
    st.integers(1, 7),  # non-empty subset of COLS as a bitmask
    st.integers(0, 5),  # value seed (0 -> explicit null for that column)
    st.booleans(),  # emit an exact duplicate record
)
stream_st = st.lists(event_st, min_size=1, max_size=14)
base_st = st.integers(0, 7)  # bitmask: which KEYS pre-exist in the base


def _value(col, i, seed):
    """Deterministic value for ``col`` (a REPOS_SCHEMA_V* column)."""
    if col.name != "stars":
        return f"{col.name}{i}s{seed}"
    return i * 10 + seed if col.type_code == "INT64" else i + seed / 4


def _mk_rows(stream, schema=REPOS_SCHEMA_V1, first=0, tie=3):
    """Event rows for ``stream``; ``first`` offsets the event index (and so
    commit ts and record sequence) for a later batch of the same log, and
    every ``tie`` consecutive events share one commit ts."""
    cols = [schema.column(c) for c in schema.value_columns]
    rows = []
    for i, (ki, op, mask, seed, dup) in enumerate(stream, start=first):
        repo, path = KEYS[ki]
        key = {"repo": repo, "path": path}
        mask = mask % (1 << len(cols)) or 1
        if op == "DELETE":
            new = None
        else:
            new = {}
            for b, c in enumerate(cols):
                if mask >> b & 1:
                    new[c.name] = None if (seed + b) % 6 == 0 else _value(c, i, seed)
        mods = [
            {
                "keys": json.dumps(key, sort_keys=True),
                "new_values": None if new is None else json.dumps(new, sort_keys=True),
                "old_values": None,
            }
        ]
        base = {c: None for c in EVENT_LOG_SCHEMA.fieldNames()}
        base.update(
            record_type="data_change",
            partition_token="t",
            commit_ts=(1 + i // tie) * 1_000,
            record_sequence=str(i),  # unique -> total order deterministic
            server_txn_id=f"x{i}",
            is_last_in_txn_in_partition=True,
            table_name="repos",
            column_types=schema.column_types_json(),
            mods=mods,
            mod_type=op,
            value_capture_type="OLD_AND_NEW_VALUES",
        )
        rows.append(base)
        if dup:
            rows.append(dict(base))  # exact duplicate (O12 identity dedup)
    return rows


def _simulate(rows, base_rows, cols=COLS):
    """Direct state machine in (ts, int(rs), mod_number) order with
    identity dedup — independent of every Spark code path."""
    state = {(r["repo"], r["path"]): {c: r.get(c) for c in cols} for r in base_rows}
    seen = set()
    flat = []
    for r in rows:
        for mn, m in enumerate(r["mods"]):
            flat.append((r["commit_ts"], int(r["record_sequence"]), mn, r, m))
    flat.sort(key=lambda t: t[:3])
    for ts, rs, mn, r, m in flat:
        ident = (r["partition_token"], ts, r["server_txn_id"], rs, mn)
        if ident in seen:
            continue
        seen.add(ident)
        k = tuple(json.loads(m["keys"])[c] for c in ("repo", "path"))
        if m["new_values"] is None:
            state.pop(k, None)
            continue
        vals = json.loads(m["new_values"])
        if k in state:
            state[k].update(vals)
        else:
            state[k] = {c: vals.get(c) for c in cols}
    return {
        k: {c: v.get(c) for c in cols} for k, v in sorted(state.items())
    }


@settings(max_examples=12, deadline=None)
@given(stream=stream_st, base_mask=base_st, salted=st.booleans(), mode=st.sampled_from(["mor", "cow"]))
def test_fold_merge_matches_state_machine(spark, stream, base_mask, salted, mode):
    rows = _mk_rows(stream)
    base_rows = _base_rows(base_mask)
    want = _simulate(rows, base_rows)

    import pandas as pd

    pdf = pd.DataFrame(rows)
    pdf["commit_ts"] = pd.to_datetime(pdf["commit_ts"], unit="us")
    ev = spark.createDataFrame(pdf, EVENT_LOG_SCHEMA)
    decoded = decode_mods(ev, REPOS_SCHEMA_V1)
    if salted:
        folded = fold_changes_salted(decoded, ["repo", "path"], COLS, n_salts=4)
    else:
        folded = fold_changes(decoded, ["repo", "path"], COLS)

    t = _base_table(spark, base_rows)
    merge_into(t, folded, target_schema=REPOS_SCHEMA_V1.spark_struct(), mode=mode)
    assert _state(t.read(), COLS) == want, (salted, mode, rows)


def _base_rows(base_mask):
    """Base-table rows for the KEYS selected by ``base_mask``."""
    return [
        {"repo": KEYS[i][0], "path": KEYS[i][1], "commit": f"b{i}", "lang": None, "content": f"bc{i}"}
        for i in range(len(KEYS))
        if base_mask >> i & 1
    ]


def _base_table(spark, base_rows):
    base_df = (
        spark.createDataFrame(
            [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in base_rows],
            REPOS_SCHEMA_V1.spark_struct(),
        )
        if base_rows
        else None
    )
    return LakeTable.create(
        spark,
        os.path.join(tempfile.mkdtemp(prefix="fold-hyp-"), "t"),
        REPOS_SCHEMA_V1.spark_struct(),
        ["repo", "path"],
        n_buckets=2,
        initial_df=base_df,
    )


def _state(df, cols):
    rows = df.collect()
    state = {(r["repo"], r["path"]): {c: r[c] for c in cols} for r in rows}
    assert len(state) == len(rows), "a key read more than once"
    return state


def _fold_batch(spark, batch, schema=REPOS_SCHEMA_V1):
    import pandas as pd

    pdf = pd.DataFrame(batch)
    pdf["commit_ts"] = pd.to_datetime(pdf["commit_ts"], unit="us")
    decoded = decode_mods(spark.createDataFrame(pdf, EVENT_LOG_SCHEMA), schema)
    return fold_changes(decoded, ["repo", "path"], schema.value_columns)


# V1 -> V2 adds stars INT64, V2 -> V3 widens it to FLOAT64
SCHEMAS = [REPOS_SCHEMA_V1, REPOS_SCHEMA_V2, REPOS_SCHEMA_V3]
ALL_COLS = REPOS_SCHEMA_V3.value_columns
multi_event_st = st.tuples(
    st.integers(0, len(KEYS) - 1),
    st.sampled_from(["INSERT", "UPDATE", "DELETE"]),
    st.integers(1, 15),  # written-column bitmask over the batch schema
    st.integers(0, 5),
    st.booleans(),
)
# (events, evolve the schema before this batch, older snapshot to re-read)
batch_st = st.tuples(
    st.lists(multi_event_st, min_size=1, max_size=8), st.booleans(), st.integers(0, 3)
)


@settings(max_examples=6, deadline=None)
@given(
    batches=st.lists(batch_st, min_size=2, max_size=3),
    base_mask=base_st,
    tie=st.sampled_from([1, 3, 32]),  # 32: every batch shares one ts
)
def test_multi_delta_mor_reads_match_state_machine(spark, batches, base_mask, tie):
    """Stacked MOR deltas fold in (ts, rank) order: after each batch, the
    current read and a read of an older snapshot each equal the state
    machine at that point of the log."""
    base_rows = _base_rows(base_mask)
    t = _base_table(spark, base_rows)

    version = 0
    rows = []
    # per committed snapshot: (sid, value columns, expected state)
    history = [(t.current_snapshot_id(), COLS, _simulate([], base_rows))]
    for stream, evolve, pick in batches:
        version = min(version + evolve, len(SCHEMAS) - 1)
        schema = SCHEMAS[version]
        batch = _mk_rows(stream, schema, first=len(rows), tie=tie)
        rows += batch
        folded = _fold_batch(spark, batch, schema)
        sid = merge_into(t, folded, target_schema=schema.spark_struct(), mode="mor")
        cols = schema.value_columns
        want = {k: {c: v[c] for c in cols} for k, v in _simulate(rows, base_rows, ALL_COLS).items()}
        history.append((sid, cols, want))

        assert _state(t.read(), cols) == want, ("current", rows)
        old_sid, old_cols, old_want = history[pick % (len(history) - 1)]
        assert _state(t.read(sid=old_sid), old_cols) == old_want, ("older", old_sid, rows)


def _per_bucket_mor_commit(t, folded):
    """Commit ``folded`` in the earlier merge-on-read layout: one delta
    file per key bucket, listed under that bucket only, as a 5-field
    manifest entry (no ``n_write``)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    keys = ["repo", "path"]
    schema = T.StructType(
        REPOS_SCHEMA_V1.spark_struct().fields + [T.StructField("__cdc_ts", T.LongType())]
    )
    delta = folded.select(
        *keys,
        *COLS,
        F.col("_ts").cast("long").alias("__cdc_ts"),
        "_is_delete",
        "_had_delete",
        *[F.col(f"_w_{c}").alias(f"__set_{c}") for c in COLS],
    )
    prev, sid, _schema, schema_id, schemas = t._next_snapshot(schema)
    delta_schema = T.StructType(
        schema.fields + DELTA_FLAG_FIELDS + _set_flag_fields(schema, keys)
    )
    files = t._write_data_files(delta, delta_schema, keys, prev["n_buckets"], sid)
    buckets = {b: list(fs) for b, fs in prev["buckets"].items()}
    for b, paths in files.items():
        buckets.setdefault(str(b), []).extend([p, schema_id, sid, "delta", sid] for p in paths)
    return t._finish_snapshot(prev, sid, schema_id, schemas, buckets, {})


@settings(max_examples=4, deadline=None)
@given(
    batches=st.lists(st.lists(event_st, min_size=1, max_size=8), min_size=3, max_size=4),
    n_per_bucket=st.integers(1, 2),
    base_mask=base_st,
)
def test_mixed_delta_layouts_match_state_machine(spark, batches, n_per_bucket, base_mask):
    """Per-bucket deltas followed by shared ones (a table written before
    shared deltas, then resumed): full and older-snapshot reads, a
    compaction prepared between the two layouts and applied after both, a
    full compaction and snapshot expiry each equal the state machine."""
    base_rows = _base_rows(base_mask)
    t = _base_table(spark, base_rows)
    rows = []
    history = [(t.current_snapshot_id(), _simulate([], base_rows))]
    prep = None
    for i, stream in enumerate(batches):
        if i == n_per_bucket:
            prep = t.compact_prepare()
        batch = _mk_rows(stream, first=len(rows))
        rows += batch
        folded = _fold_batch(spark, batch)
        if i < n_per_bucket:
            sid = _per_bucket_mor_commit(t, folded)
        else:
            sid = merge_into(t, folded, target_schema=REPOS_SCHEMA_V1.spark_struct(), mode="mor")
        history.append((sid, _simulate(rows, base_rows)))

    want = history[-1][1]
    assert _state(t.read(), COLS) == want, rows
    for sid, old_want in history[:-1]:
        assert _state(t.read(sid=sid), COLS) == old_want, ("older", sid, rows)
    t.compact_apply(prep)
    assert _state(t.read(), COLS) == want, ("rebased compaction", rows)
    t.compact_apply(t.compact_prepare())
    assert t.delta_depth() == 0
    t.expire_snapshots(t.current_snapshot_id())
    assert _state(t.read(), COLS) == want, ("compacted + expired", rows)


def _write_legacy_manifests(root, layout):
    """Rewrite every manifest under ``root`` in an older layout. ``False``
    and ``True`` drop the ``deltas`` list and list each delta file under
    every bucket with ``n_write`` 1 or (``True``) under the key bucket it
    was written for, as a 5-field entry. ``"grown"`` keeps ``deltas`` and
    doubles ``n_buckets`` without rewriting a file, as bucket growth once
    did: each base file of bucket ``b`` gains ``n_write``, the count it
    was written under, and is listed under ``b`` and ``b + n_write``."""
    meta = os.path.join(root, "_meta")
    for fn in os.listdir(meta):
        if not fn.startswith("snap-"):
            continue
        path = os.path.join(meta, fn)
        with open(path) as f:
            snap = json.load(f)
        n = snap["n_buckets"]
        buckets = snap["buckets"]
        if layout == "grown":
            snap["n_buckets"] = 2 * n
            snap["buckets"] = {}
            for b, fs in buckets.items():
                if fs:
                    for child in (int(b), int(b) + n):
                        snap["buckets"][str(child)] = [[*e, n] for e in fs]
        else:
            for rel, sch_id, rank, sid in snap.pop("deltas"):
                if layout is True:
                    b = os.path.basename(os.path.dirname(rel)).split("=", 1)[1]
                    buckets.setdefault(b, []).append([rel, sch_id, rank, "delta", sid])
                else:
                    for b in range(n):
                        buckets.setdefault(str(b), []).append(
                            [rel, sch_id, rank, "delta", sid, 1]
                        )
        atomic_write(path, json.dumps(snap))


@pytest.mark.parametrize("layout", [False, True, "grown"])
@settings(max_examples=3, deadline=None)
@given(
    batches=st.lists(st.lists(event_st, min_size=1, max_size=8), min_size=2, max_size=3),
    base_mask=base_st,
)
def test_legacy_manifests_match_state_machine(spark, layout, batches, base_mask):
    """A table whose manifests list deltas under ``buckets`` (every file
    under every bucket, or each under its own key bucket), or list each
    base file under two buckets of a doubled bucket count, opened by a
    fresh LakeTable: full and older-snapshot reads, delta_depth, a
    compaction and snapshot expiry each equal the state machine, and the
    compaction writes the current layout at the manifest's bucket count,
    each base file listed once, under the bucket it was written for."""
    base_rows = _base_rows(base_mask)
    t = _base_table(spark, base_rows)
    rows = []
    history = [(t.current_snapshot_id(), _simulate([], base_rows))]
    for stream in batches:
        batch = _mk_rows(stream, first=len(rows))
        rows += batch
        folded = _fold_batch(spark, batch)
        if layout is True:
            sid = _per_bucket_mor_commit(t, folded)
        else:
            sid = merge_into(t, folded, target_schema=REPOS_SCHEMA_V1.spark_struct(), mode="mor")
        history.append((sid, _simulate(rows, base_rows)))
    _write_legacy_manifests(t.root, layout)

    t = LakeTable(spark, t.root)
    want = history[-1][1]
    assert t.delta_depth() == len(batches)
    assert _state(t.read(), COLS) == want, rows
    for sid, old_want in history[:-1]:
        assert _state(t.read(sid=sid), COLS) == old_want, ("older", sid, rows)
    sid = t.compact_apply(t.compact_prepare())
    assert t.delta_depth() == 0
    with open(t._snap_path(sid)) as f:
        snap = json.load(f)
    assert snap["deltas"] == []
    assert snap["n_buckets"] == (4 if layout == "grown" else 2)
    for b, fs in snap["buckets"].items():
        for e in fs:
            assert len(e) == 5 and e[3] == "base", e
            assert os.path.basename(os.path.dirname(e[0])) == f"__bucket={b}", (b, e)
    t.expire_snapshots(sid)
    assert _state(LakeTable(spark, t.root).read(), COLS) == want, ("compacted + expired", rows)
