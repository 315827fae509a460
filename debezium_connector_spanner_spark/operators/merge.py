"""Last-writer-wins fold + bucketed MERGE (SURVEY.md §2.3 O5/O12, §2.4 K1).

The fold is a SINGLE aggregation per batch built only from
max/max-of-struct aggregates (associative + idempotent). Two physical
shapes, chosen by workload:

- **fused** (``fold_changes``, default): one ``groupBy(keys)`` — one
  shuffle per batch, with map-side partial aggregation (a key's events
  within an input partition are pre-reduced before the exchange) and an
  output AQE may coalesce. It is not the sink's bucket exchange: the
  merge-on-read delta is written unbucketed (sources/lake.py
  ``commit_delta``), and copy-on-write re-buckets in its commit.
- **salted** (``fold_changes_salted``): explicit two-phase
  (key, salt)->key combine for hot keys — the north rule's "hot-key
  repos salted before the merge-apply shuffle". A mega-key's events
  spread over n_salts reducers and are pre-reduced before the final
  per-key combine. Identical results (property-tested).

No window functions (a window would shuffle the full event set
un-combined and cannot pre-reduce at all). Measured (PLANS.md,
"SortAggregate fold: measured against the window alternative"; 4.1M
events / 504k keys, local[32], 3 reps): agg fold best 8.8s vs window
fold best 8.5s — a wash at this scale (overlapping rep ranges), so the
deciding factor is the shape at 100x: the agg fold's max-of-struct
aggregates admit partial aggregation (map-side combine shrinks the
shuffle by the intra-batch key-repeat factor), while the window variant
always ships every event row and materializes the full frame per key.
The SortAggregate (struct-typed max has no hash-agg buffer) costs one
in-memory per-partition sort, which spills safely; accepted.

Fold semantics per key over a batch of decoded mods, ordered by
seq = (commit_ts, record_sequence, mod_number):

- ``_last``     max(struct(seq, op))                  -> was the final event a DELETE?
- ``_del``      max(seq) where op = 'd'               -> the delete barrier
- per column c  max(struct(seq, c)) where c non-null  -> latest written value

Reconstruction: a column's folded value survives iff its seq is after the
delete barrier; otherwise the delete wiped it. Existing table rows rank
before every batch event (batches are applied in commit-ts order by the
engine's partition-DAG gate), so on MERGE an existing value survives only
if the batch had no delete for that key. Exact duplicate records (O12)
are absorbed because every aggregate is max-based (idempotent) — the
explicit dropDuplicates shuffle is reserved for the envelope-emission
path (operators/decode.py dedup_identity).

MERGE appends the folded batch as merge-on-read delta files by default,
keeping batch cost O(delta), not O(table), at 10^10-event scale;
copy-on-write reads and rewrites every bucket (sources/lake.py).

Reference parity: replaces the Kafka emit + commit-callback machinery
(/root/reference processor/SpannerChangeRecordEmitter.java:54-129,
FinishingPartitionManager.java:45-153) with an equivalent
happens-before: a partition's state may move to FINISHED only after the
snapshot containing its records commits (engine.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from debezium_connector_spanner_spark.sources.lake import LakeTable

CDC_TS_COL = "__cdc_ts"  # last applied commit_ts (epoch micros) per row


def fold_changes(
    decoded: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
) -> DataFrame:
    """One row per key: post-fold values + delete flags (single agg pass).

    Input: decode_mods output (key cols flattened, seq struct, op, vals).
    """
    return _fold(decoded, key_cols, value_cols)


def fold_changes_salted(
    decoded: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    n_salts: int = 16,
) -> DataFrame:
    """Explicit two-phase hot-key salting (north rule: "hot-key repos are
    salted before the merge-apply shuffle").

    Phase 1 groups by (key, salt) where salt = hash(record identity) % S,
    so a mega-key's millions of events spread over S reducers; phase 2
    combines the S partial folds per key (all aggregates are max-based,
    hence associative). Spark's map-side partial aggregation already gives
    fold_changes this property implicitly; the explicit variant exists for
    the case where partials alone can't save you — e.g. one key's events
    spanning thousands of input partitions — and as the documented skew
    strategy. Results are identical to fold_changes (property-tested).
    """
    salt = F.pmod(
        F.xxhash64(F.col("seq.ts"), F.col("seq.rs"), F.col("seq.mod")), F.lit(n_salts)
    ).alias("_salt")
    partial = _fold(decoded.withColumn("_salt", salt), ["_salt", *key_cols], value_cols, project=False)
    # combine partial folds: same max-based aggregates one level up
    aggs = [
        F.max("_last").alias("_last"),
        F.max("_del").alias("_del"),
        F.sum("_n_mods").alias("_n_mods"),
    ]
    for c in value_cols:
        aggs.append(F.max(f"_m_{c}").alias(f"_m_{c}"))
    g = partial.groupBy(*key_cols).agg(*aggs)
    return _project_fold(g, key_cols, value_cols)


def _fold(
    decoded: DataFrame,
    group_cols: list[str],
    value_cols: list[str],
    project: bool = True,
) -> DataFrame:
    # written = key present in the new-values JSON (wrt flags from
    # decode_mods) so an explicit-null write participates in the fold;
    # frames without wrt (hand-built test inputs) fall back to value
    # non-null, which conflates explicit null with 'not written'.
    has_wrt = "wrt" in decoded.columns

    def written(c: str) -> F.Column:
        return F.col(f"wrt.{c}") if has_wrt else F.col(f"vals.{c}").isNotNull()

    aggs = [
        F.max(F.struct(F.col("seq"), F.col("op"))).alias("_last"),
        F.max(F.when(F.col("op") == "d", F.col("seq"))).alias("_del"),
        F.count(F.lit(1)).alias("_n_mods"),
    ]
    for c in value_cols:
        aggs.append(
            F.max(
                F.when(
                    written(c),
                    F.struct(F.col("seq").alias("s"), F.col(f"vals.{c}").alias("v")),
                )
            ).alias(f"_m_{c}")
        )
    g = decoded.groupBy(*group_cols).agg(*aggs)
    if not project:
        return g
    return _project_fold(g, group_cols, value_cols)


def _project_fold(g: DataFrame, group_cols: list[str], value_cols: list[str]) -> DataFrame:
    """Project the fold aggregates to output columns.

    Per column: ``c`` = the surviving value (may be an explicit NULL) and
    ``_w_c`` = whether the batch wrote the column at all post-barrier —
    the MERGE needs the flag to distinguish 'set to NULL' (apply) from
    'not written' (keep target value)."""
    cols = [F.col(c) for c in group_cols]
    for c in value_cols:
        survives = F.col(f"_m_{c}").isNotNull() & (
            F.col("_del").isNull() | (F.col(f"_m_{c}.s") > F.col("_del"))
        )
        cols.append(F.when(survives, F.col(f"_m_{c}.v")).alias(c))
        cols.append(survives.alias(f"_w_{c}"))
    cols += [
        (F.col("_last.op") == "d").alias("_is_delete"),
        F.col("_del").isNotNull().alias("_had_delete"),
        F.col("_last.seq.ts").alias("_ts"),
        F.col("_n_mods"),
    ]
    return g.select(*cols)


def merge_into(
    table: LakeTable,
    folded: DataFrame,
    target_schema=None,
    summary: dict | None = None,
    mode: str = "mor",
) -> int:
    """MERGE a folded batch into the table.

    Equivalent to:
        MERGE INTO t USING s ON <keys>
        WHEN MATCHED AND s._is_delete THEN DELETE
        WHEN MATCHED THEN UPDATE SET <fold-aware column merge>
        WHEN NOT MATCHED AND NOT s._is_delete THEN INSERT

    Both strategies take every bucket: a sizable batch hits them all, so
    finding the touched ones would cost a probe job and buy nothing.
    - ``mor`` (default): append the folded batch (tombstones included) as
      delta files, each named once in the manifest — O(batch) bytes
      written, no reads; the key fold happens at read/compaction time
      (sources/lake.py fold_ranked). The scale path: per-batch IO is
      proportional to the delta, with rewrite amplification paid only at
      compaction cadence.
    - ``cow``: read the table, full-outer merge, rewrite — lowest read
      cost, O(table) write per batch.

    ``target_schema`` (StructType) may extend/widen the table schema —
    online additive schema evolution applied with the same commit.
    Returns the new snapshot id.
    """
    key_cols = table.key_cols()
    schema = target_schema or table.schema()
    existing_names = set(table.schema().fieldNames())
    value_cols = [
        f.name for f in schema.fields if f.name not in key_cols and f.name != CDC_TS_COL
    ]

    from pyspark.sql import types as T

    write_schema = schema
    if CDC_TS_COL not in schema.fieldNames():
        write_schema = T.StructType(
            list(schema.fields) + [T.StructField(CDC_TS_COL, T.LongType(), True)]
        )

    has_flags = any(c.startswith("_w_") for c in folded.columns)

    def wflag(c: str) -> F.Column:
        # written-flag per column; legacy folds without flags fall back to
        # value-non-null (explicit nulls then read as 'not written')
        return (
            F.coalesce(F.col(f"_w_{c}"), F.lit(False))
            if has_flags and f"_w_{c}" in folded.columns
            else F.col(c).isNotNull()
        )

    if mode == "mor":
        delta = folded.select(
            *key_cols,
            *[F.col(c) for c in value_cols],
            F.col("_ts").cast("long").alias(CDC_TS_COL),
            "_is_delete",
            "_had_delete",
            *[wflag(c).alias(f"__set_{c}") for c in value_cols],
        )
        return table.commit_delta(delta, schema=write_schema, summary=summary)

    target_types = {f.name: f.dataType for f in schema.fields}
    existing = table.read().select(
        *key_cols,
        *[
            (F.col(c) if c in existing_names else F.lit(None))
            .cast(target_types[c])
            .alias(f"__t_{c}")
            for c in value_cols
        ],
        (F.col(CDC_TS_COL) if CDC_TS_COL in existing_names else F.lit(None))
        .cast("long")
        .alias(f"__t_{CDC_TS_COL}"),
    )
    src = folded.select(
        *key_cols,
        *[F.col(c).alias(f"__s_{c}") for c in value_cols],
        *[wflag(c).alias(f"__w_{c}") for c in value_cols],
        "_is_delete",
        "_had_delete",
        "_ts",
        F.lit(True).alias("_s_present"),
    )
    j = existing.join(src, on=key_cols, how="full_outer")
    # drop: key present in batch and folded to a tombstone
    j = j.where(F.col("_s_present").isNull() | ~F.col("_is_delete"))

    out = [F.col(c) for c in key_cols]
    for c in value_cols:
        # written post-barrier -> apply the batch value (even explicit
        # NULL); delete with no re-write -> wiped (batch value is NULL);
        # otherwise the target value survives
        out.append(
            F.when(F.col("_s_present").isNull(), F.col(f"__t_{c}"))
            .when(F.col(f"__w_{c}") | F.col("_had_delete"), F.col(f"__s_{c}"))
            .otherwise(F.col(f"__t_{c}"))
            .alias(c)
        )
    out.append(
        F.when(F.col("_s_present").isNotNull(), F.col("_ts"))
        .otherwise(F.col(f"__t_{CDC_TS_COL}"))
        .cast("long")
        .alias(CDC_TS_COL)
    )
    merged = j.select(*out)

    return table.commit_merge(merged, schema=write_schema, summary=summary)
