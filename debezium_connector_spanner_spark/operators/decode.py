"""Decode operators D1-D7 (SURVEY.md §2.2).

Record-type demux, mod explosion with positional mod_number, JSON row
images -> typed structs via ``from_json`` (JVM, whole-stage codegen).
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
from pyspark.sql import types as T

from debezium_connector_spanner_spark.sources.event_schema import (
    DATA_CHANGE,
    TableSchema,
)

SEQ_TYPE = T.StructType(
    [
        T.StructField("ts", T.LongType()),      # commit_ts in epoch micros
        T.StructField("rs", T.LongType()),      # record_sequence (numeric)
        T.StructField("mod", T.IntegerType()),  # mod_number (position in mods)
    ]
)


def seq_col() -> F.Column:
    """Total order within a key: (commit_ts, record_sequence, mod_number).

    This is the reference's record identity order
    (context/offset/SpannerOffsetContextFactory.java:24-33) minus the
    token/txn disambiguators, which never differ for one key's events.

    record_sequence is a Spanner-assigned numeric string of arbitrary
    length; it is normalized to a BIGINT here so '10' orders after '9'
    (lexicographic string order would mis-sort same-commit-ts records).
    """
    return F.struct(
        F.unix_micros(F.col("commit_ts")).alias("ts"),
        F.col("record_sequence").cast("long").alias("rs"),
        F.col("mod_number").alias("mod"),
    )


def explode_mods(events: DataFrame) -> DataFrame:
    """D3: one row per (record, mod), positional mod_number. Accepts
    pre-filtered slim frames that already dropped record_type."""
    data = (
        events.where(F.col("record_type") == DATA_CHANGE)
        if "record_type" in events.columns
        else events
    )
    # txn metadata columns ride along for the envelope path; Catalyst
    # column-prunes them out of the MERGE hot path (fold never reads them)
    passthrough = [
        c
        for c in (
            "table_name",
            "is_last_in_txn_in_partition",
            "number_of_records_in_transaction",
            "number_of_partitions_in_transaction",
            "transaction_tag",
            "is_system_transaction",
        )
        if c in data.columns
    ]
    return data.select(
        "partition_token",
        "commit_ts",
        "record_sequence",
        "server_txn_id",
        "mod_type",
        "value_capture_type",
        "column_types",
        *passthrough,
        F.posexplode("mods").alias("mod_number", "mod"),
    )


def decode_mods(
    events: DataFrame,
    schema: TableSchema,
    include_old: bool = False,
) -> DataFrame:
    """D2+D6+D7: explode mods and decode JSON images against `schema`.

    Output columns: key columns (flattened), ``seq`` (ordering struct),
    ``op`` ('c'/'u'/'d'), ``vals`` (new-value struct), ``olds``
    (old-value struct), plus identity columns for dedup/envelope.

    ``include_old=False`` (the MERGE hot path) skips parsing old_values —
    the fold never reads before-images; only the envelope path needs them.
    """
    key_struct = schema.spark_struct(schema.key_columns, json_shape=True)
    val_struct = schema.spark_struct(schema.value_columns, json_shape=True)

    m = explode_mods(events)
    keys = F.from_json(F.col("mod.keys"), key_struct)
    vals = F.from_json(F.col("mod.new_values"), val_struct)
    olds = (
        F.from_json(F.col("mod.old_values"), val_struct)
        if include_old
        else F.lit(None).cast(val_struct)
    )

    if schema.needs_cast():
        # JSON shape != sink shape (BYTES base64 string -> binary): apply
        # the Connect-mapping casts, preserving null-in -> null-struct-out
        phys = schema.spark_struct(schema.value_columns)

        def _cast(col: F.Column, raw: F.Column) -> F.Column:
            return F.when(raw.isNull(), F.lit(None).cast(phys)).otherwise(
                apply_spanner_casts(col, schema)
            )

        vals = _cast(vals, F.col("mod.new_values"))
        if include_old:
            olds = _cast(olds, F.col("mod.old_values"))
        else:
            olds = F.lit(None).cast(phys)

    # NEW_ROW / NEW_VALUES capture can't distinguish c/u by null pattern
    # (old_values is always null); fall back to the record-level ModType
    # mapping, as the reference always does
    # (processor/SpannerChangeRecordEmitter.java:42-52,
    # db/model/ValueCaptureType.java:12-18).
    mod_op = (
        F.when(F.col("mod_type") == "INSERT", F.lit("c"))
        .when(F.col("mod_type") == "DELETE", F.lit("d"))
        .otherwise(F.lit("u"))
    )
    op = (
        F.when(F.col("mod.new_values").isNull(), F.lit("d"))
        .when(F.col("value_capture_type").isin("NEW_ROW", "NEW_VALUES"), mod_op)
        .when(F.col("mod.old_values").isNull(), F.lit("c"))
        .otherwise(F.lit("u"))
    )

    # Per-column written flags: key PRESENCE in the new-values JSON, so an
    # UPDATE that sets a column to an explicit null is distinguished from
    # one that doesn't touch the column (the reference emits the null —
    # schema/mapper/JsonNodeStructValueConvertor.java:27-103 — and the LWW
    # fold must apply it). One extra JSON tokenize per mod, JVM-side.
    wrt = F.struct(
        *[
            F.array_contains(F.json_object_keys(F.col("mod.new_values")), c).alias(c)
            for c in schema.value_columns
        ]
    )

    passthrough = [
        c
        for c in (
            "table_name",
            "is_last_in_txn_in_partition",
            "number_of_records_in_transaction",
            "number_of_partitions_in_transaction",
            "transaction_tag",
            "is_system_transaction",
            "value_capture_type",
        )
        if c in m.columns
    ]
    out = m.select(
        "partition_token",
        "commit_ts",
        "record_sequence",
        "server_txn_id",
        "mod_number",
        *passthrough,
        seq_col().alias("seq"),
        op.alias("op"),
        keys.alias("keys"),
        vals.alias("vals"),
        olds.alias("olds"),
        wrt.alias("wrt"),
    )
    return out.select("*", *[F.col(f"keys.{k}").alias(k) for k in schema.key_columns])


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


def apply_spanner_casts(struct_col: F.Column, schema: TableSchema) -> F.Column:
    """D7 type fidelity (schema/mapper/JsonNodeStructValueConvertor.java:27-103):
    BYTES columns arrive base64-encoded in the JSON row image and become
    binary; FLOAT32 is down-cast from the JSON double; everything else
    keeps the Connect mapping (timestamps/dates/numerics stay strings).
    Input/output: a struct column decoded by decode_json/from_json (the
    value-column struct by default; pass column_names for other shapes)."""
    fields = []
    cols = [c for c in schema.columns if not c.is_primary_key]
    for c in cols:
        v = struct_col.getField(c.name)
        if c.type_code == "BYTES":
            v = F.unbase64(v)
        elif c.type_code == "FLOAT32":
            v = v.cast("float")
        elif c.type_code == "ARRAY" and c.array_element_type == "BYTES":
            v = F.transform(v, F.unbase64)
        fields.append(v.alias(c.name))
    return F.struct(*fields)


def dedup_identity(decoded: DataFrame) -> DataFrame:
    """O12: drop exact duplicate change records by identity
    (partition_token, commit_ts, server_txn_id, record_sequence,
    mod_number). The merge fold is max-based and absorbs duplicates for
    free, so the MERGE path skips this shuffle; the envelope-emission
    path applies it (exactly-once delivery of the change stream)."""
    return decoded.dropDuplicates(
        ["partition_token", "commit_ts", "server_txn_id", "record_sequence", "mod_number"]
    )
