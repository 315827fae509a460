"""Decode operators D1-D7 (SURVEY.md §2.2).

Record-type demux, mod explosion with positional mod_number, JSON row
images -> typed structs via ``from_json`` (JVM-side). Plans are built
from SQL strings, one ``selectExpr`` per step; column names from the
change log's ``column_types`` (outside input) enter that text only
through ``_q`` (identifiers) and ``_str`` (string literals) of
sources/lake.py.
A schema that changes mid-stream is handled by the engine's optimistic
decode plus rollback-and-retry, mirroring the reference's
cache-invalidate-and-retry (db/metadata/SchemaRegistry.java:78-86).

Mod null-pattern semantics (db/model/Mod.java:18-96): keys always
present; old_values null on INSERT; new_values null on DELETE. Per-mod
``op`` is derived from the null pattern first (a single record can mix a
DELETE and a re-INSERT across mods), falling back to the record-level
mod_type mapping (processor/SpannerChangeRecordEmitter.java:42-52).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from debezium_connector_spanner_spark.sources.event_schema import (
    DATA_CHANGE,
    TableSchema,
)
from debezium_connector_spanner_spark.sources.lake import _q, _str

# txn metadata columns ride along for the envelope path; Catalyst
# column-prunes them out of the MERGE hot path (fold never reads them)
_PASSTHROUGH = (
    "table_name",
    "is_last_in_txn_in_partition",
    "number_of_records_in_transaction",
    "number_of_partitions_in_transaction",
    "transaction_tag",
    "is_system_transaction",
)

# Total order within a key: (commit_ts, record_sequence, mod_number). This
# is the reference's record identity order
# (context/offset/SpannerOffsetContextFactory.java:24-33) minus the
# token/txn disambiguators, which never differ for one key's events.
# record_sequence is a Spanner-assigned numeric string of arbitrary length;
# it is normalized to a BIGINT so '10' orders after '9' (lexicographic
# string order would mis-sort same-commit-ts records).
_SEQ = (
    "named_struct('ts', unix_micros(commit_ts), 'rs', CAST(record_sequence AS BIGINT),"
    " 'mod', mod_number)"
)

# Per-mod op from the null pattern first. NEW_ROW / NEW_VALUES capture
# can't distinguish c/u by null pattern (old_values is always null); it
# falls back to the record-level ModType mapping, as the reference always
# does (processor/SpannerChangeRecordEmitter.java:42-52,
# db/model/ValueCaptureType.java:12-18).
_OP = (
    "CASE WHEN mod.new_values IS NULL THEN 'd'"
    " WHEN value_capture_type IN ('NEW_ROW', 'NEW_VALUES') THEN"
    " CASE WHEN mod_type = 'INSERT' THEN 'c' WHEN mod_type = 'DELETE' THEN 'd' ELSE 'u' END"
    " WHEN mod.old_values IS NULL THEN 'c' ELSE 'u' END"
)


def explode_mods(events: DataFrame) -> DataFrame:
    """D3: one row per (record, mod), positional mod_number. Accepts
    pre-filtered slim frames that already dropped record_type."""
    data = (
        events.where(f"record_type = {_str(DATA_CHANGE)}")
        if "record_type" in events.columns
        else events
    )
    return data.selectExpr(
        "partition_token",
        "commit_ts",
        "record_sequence",
        "server_txn_id",
        "mod_type",
        "value_capture_type",
        "column_types",
        *[c for c in _PASSTHROUGH if c in events.columns],
        "posexplode(mods) AS (mod_number, mod)",
    )


def decode_mods(
    events: DataFrame,
    schema: TableSchema,
    include_old: bool = False,
) -> DataFrame:
    """D2+D6+D7: explode mods and decode JSON images against `schema`.

    Output columns: key columns (flattened), ``seq`` (ordering struct),
    ``op`` ('c'/'u'/'d'), ``vals`` (new-value struct), ``olds``
    (old-value struct), ``wrt`` (per value column: written by the mod),
    plus identity columns for dedup/envelope.

    ``include_old=False`` (the MERGE hot path) skips parsing old_values —
    the fold never reads before-images; only the envelope path needs them.

    The plan is built from SQL strings, one JVM call per select-list
    entry rather than one per expression node: each JSON image is parsed
    by ``from_json`` against the schema passed as its JSON text, once,
    and the Connect casts read the parsed struct.
    """
    key_t = _str(schema.spark_struct(schema.key_columns, json_shape=True).json())
    val_t = _str(schema.spark_struct(schema.value_columns, json_shape=True).json())
    old = "mod.old_values" if include_old else "CAST(NULL AS STRING)"
    m = explode_mods(events).selectExpr(
        "*",
        f"from_json(mod.keys, {key_t}) AS keys",
        f"from_json(mod.new_values, {val_t}) AS vals",
        f"from_json({old}, {val_t}) AS olds",
    )
    vals, olds = "vals", "olds"
    if schema.needs_cast():
        # JSON shape != sink shape (BYTES base64 string -> binary): apply
        # the Connect-mapping casts, preserving null-in -> null-struct-out
        vals, olds = (
            f"CASE WHEN {raw} IS NULL THEN NULL ELSE {apply_spanner_casts(v, schema)} END"
            for raw, v in (("mod.new_values", "vals"), (old, "olds"))
        )
    # Per-column written flags: key PRESENCE in the new-values JSON, so an
    # UPDATE that sets a column to an explicit null is distinguished from
    # one that doesn't touch the column (the reference emits the null —
    # schema/mapper/JsonNodeStructValueConvertor.java:27-103 — and the LWW
    # fold must apply it). One extra JSON tokenize per mod, JVM-side.
    wrt = ", ".join(
        f"{_str(c)}, array_contains(json_object_keys(mod.new_values), {_str(c)})"
        for c in schema.value_columns
    )
    return m.selectExpr(
        "partition_token",
        "commit_ts",
        "record_sequence",
        "server_txn_id",
        "mod_number",
        *[c for c in _PASSTHROUGH if c in events.columns],
        "value_capture_type",
        f"{_SEQ} AS seq",
        f"{_OP} AS op",
        "keys",
        f"{vals} AS vals",
        f"{olds} AS olds",
        f"named_struct({wrt}) AS wrt",
        *[f"keys.{_q(k)} AS {_q(k)}" for k in schema.key_columns],
    )


def table_filter(
    events: DataFrame,
    include_regex: str | None = None,
    exclude_regex: str | None = None,
) -> DataFrame:
    """D10: regex include/exclude on table name; include wins when both
    are set (config/SpannerTableFilter.java:23-38). A plain rlike
    predicate -> pushed down / codegen'd by Catalyst."""
    if include_regex:
        return events.where(F.col("table_name").rlike(include_regex))
    if exclude_regex:
        return events.where(~F.col("table_name").rlike(exclude_regex))
    return events


def apply_spanner_casts(struct: str, schema: TableSchema) -> str:
    """D7 type fidelity (schema/mapper/JsonNodeStructValueConvertor.java:27-103):
    BYTES columns arrive base64-encoded in the JSON row image and become
    binary; FLOAT32 is down-cast from the JSON double; everything else
    keeps the Connect mapping (timestamps/dates/numerics stay strings).
    ``struct`` is a SQL expression for the value-column struct decoded by
    ``from_json``; returns the SQL expression of the cast struct."""
    fields = []
    for c in schema.columns:
        if c.is_primary_key:
            continue
        v = f"{struct}.{_q(c.name)}"
        if c.type_code == "BYTES":
            v = f"unbase64({v})"
        elif c.type_code == "FLOAT32":
            v = f"CAST({v} AS FLOAT)"
        elif c.type_code == "ARRAY" and c.array_element_type == "BYTES":
            v = f"transform({v}, x -> unbase64(x))"
        fields.append(f"{_str(c.name)}, {v}")
    return f"named_struct({', '.join(fields)})"


def dedup_identity(decoded: DataFrame) -> DataFrame:
    """O12: drop exact duplicate change records by identity
    (partition_token, commit_ts, server_txn_id, record_sequence,
    mod_number). The merge fold is max-based and absorbs duplicates for
    free, so the MERGE path skips this shuffle; the envelope-emission
    path applies it (exactly-once delivery of the change stream)."""
    return decoded.dropDuplicates(
        ["partition_token", "commit_ts", "server_txn_id", "record_sequence", "mod_number"]
    )
