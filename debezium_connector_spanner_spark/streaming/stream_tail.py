"""Structured Streaming tail over the change-event log.

`spark.readStream` over the event-log directory -> foreachBatch applying
the same decode -> LWW fold -> MERGE pipeline as the replay engine, with
Spark's own streaming checkpoint for source offsets. This is the
always-on deployment shape; the replay engine (engine.py) is the
deterministic/batch-windowed shape with the partition-DAG gate.

Ordering contract: within one micro-batch the fold orders by
(commit_ts, record_sequence, mod_number), which is exact. ACROSS
micro-batches with the default MOR sink, the read-time fold orders rows
by (__cdc_ts, snapshot rank), so out-of-order file arrival (e.g.
maxFilesPerTrigger slicing overlapping file time ranges) still resolves
each COLUMN to its latest-commit-ts write. Remaining caveat: per-key
delete-vs-rewrite interleavings finer than one batch row can't be
reconstructed across batches — for adversarial arrival orders use the
replay engine's time-windowed batches + DAG gate (engine.py).

Reference parity: this replaces the long-poll change-stream loop
(/root/reference db/stream/SpannerChangeStream.java:125-169 +
SpannerStreamingChangeEventSource) with Spark's streaming source.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from debezium_connector_spanner_spark.operators.decode import decode_mods
from debezium_connector_spanner_spark.operators.merge import fold_changes, merge_into
from debezium_connector_spanner_spark.sources.event_schema import (
    EVENT_LOG_SCHEMA,
    TableSchema,
)
from debezium_connector_spanner_spark.sources.lake import LakeTable

# MOR compaction cadence of the tail (no caller sets it): compact once a
# table's delta depth reaches this
COMPACT_EVERY = 4


def stream_events_into_table(
    spark: SparkSession,
    events_dir: str,
    table: LakeTable,
    schema: TableSchema,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    sink_mode: str = "mor",
    wire_format: str = "struct",
):
    """Run an availableNow streaming pass applying the log to the table.

    ``wire_format`` mirrors the replay engine's dialect support:
    'struct' (canonical parquet), 'proto' (length-delimited proto3,
    numpy/Arrow kernel decode inside foreachBatch — the streaming source
    already delivers only new files, so there is no pruning to preserve
    above the decode) or 'pg_json' (Variant extraction). Pass the
    matching log directory (events / events_proto / events_pg).

    Returns the StreamingQuery (already awaited to termination)."""
    if wire_format == "proto":
        from debezium_connector_spanner_spark.sources.proto_wire import (
            PROTO_LOG_SCHEMA,
            decode_proto_wire,
        )

        src_schema, wire_decode = PROTO_LOG_SCHEMA, decode_proto_wire
    elif wire_format == "pg_json":
        from debezium_connector_spanner_spark.sources.pg_json import (
            PG_LOG_SCHEMA,
            decode_pg_json,
        )

        src_schema, wire_decode = PG_LOG_SCHEMA, decode_pg_json
    else:
        src_schema, wire_decode = EVENT_LOG_SCHEMA, None
    reader = spark.readStream.schema(src_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(events_dir)

    def apply_batch(df, batch_id: int):
        if wire_decode is not None:
            df = wire_decode(df)
        decoded = decode_mods(df, schema)
        folded = fold_changes(decoded, schema.key_columns, schema.value_columns)
        merge_into(
            table,
            folded,
            target_schema=schema.spark_struct(),
            summary={"stream_batch_id": batch_id},
            mode=sink_mode,
            assume_all_buckets=True,
        )
        if sink_mode == "mor" and table.delta_depth() >= COMPACT_EVERY:
            table.compact(summary={"stream_batch_id": batch_id})

    q = (
        src.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
