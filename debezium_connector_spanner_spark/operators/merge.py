"""Last-writer-wins fold + bucketed MERGE (SURVEY.md §2.3 O5/O12, §2.4 K1).

The fold is a SINGLE aggregation per batch built only from
max/max-of-struct aggregates (associative + idempotent): the one
last-writer-wins aggregate, ``lww_aggs`` in sources/lake.py, that the
merge-on-read read folds deltas with too. Its plan is built from SQL
strings. Two physical shapes of it, chosen by workload:

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
  per-key combine, a ``max`` of each partial aggregate: two shuffles.
  Identical results (property-tested).

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
``_o`` = seq = (commit_ts, record_sequence, mod_number):

- ``_top``      max(struct(_o, op = 'd'))               -> was the final event a DELETE?
- ``_barrier``  max(_o) where op = 'd'                  -> the delete barrier
- per column c  max(struct(_o, c)) where the mod wrote c -> latest written value
  (written = c's key present in the new-values JSON, so an explicit NULL
  counts; a delete mod writes nothing)

Reconstruction: a column's folded value survives iff its seq is at or
after the delete barrier (no value shares a delete's seq, so this is
"after"); otherwise the delete wiped it. Existing table rows rank
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

from debezium_connector_spanner_spark.sources.lake import (
    LakeTable,
    _q,
    lww_aggs,
    lww_survives,
)

CDC_TS_COL = "__cdc_ts"  # last applied commit_ts (epoch micros) per row


def fold_changes(
    decoded: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
) -> DataFrame:
    """One row per key: post-fold values + delete flags (single agg pass).

    Input: decode_mods output (key cols flattened, seq struct, op, vals, wrt).
    """
    g = _lww_input(decoded, key_cols, value_cols).groupBy(*key_cols).agg(
        *_fold_aggs(value_cols)
    )
    return _project_lww(g, key_cols, value_cols)


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
    salt = f"pmod(xxhash64(seq.ts, seq.rs, seq.mod), {int(n_salts)}) AS _salt"
    partial = _lww_input(decoded, key_cols, value_cols, salt).groupBy("_salt", *key_cols).agg(
        *_fold_aggs(value_cols)
    )
    # combine the partial folds: the same max-based aggregates one level up
    parts = ["_top", "_barrier", *[f"_m_{c}" for c in value_cols]]
    g = partial.groupBy(*key_cols).agg(
        *[F.expr(f"max({_q(a)}) AS {_q(a)}") for a in parts], F.expr("sum(_n_mods) AS _n_mods")
    )
    return _project_lww(g, key_cols, value_cols)


def _lww_input(
    decoded: DataFrame, key_cols: list[str], value_cols: list[str], *extra: str
) -> DataFrame:
    """decode_mods rows in the input contract of sources/lake.py
    ``lww_aggs``: a mod is ordered by its seq, a delete mod is its own
    barrier, and a column counts as written when its key is present in
    the new-values JSON (so an explicit NULL is applied). A delete mod
    writes no value, so no value shares the barrier's order."""
    return decoded.selectExpr(
        *[_q(k) for k in key_cols],
        *extra,
        "seq AS _o",
        "op = 'd' AS _is_delete",
        "op = 'd' AS _had_delete",
        *[f"vals.{_q(c)} AS {_q(c)}" for c in value_cols],
        *[f"wrt.{_q(c)} AND op <> 'd' AS {_q(f'__w_{c}')}" for c in value_cols],
    )


def _fold_aggs(value_cols: list[str]) -> list:
    """The shared LWW aggregates plus each key's mod count, which the
    engine's adaptive-skew probe reads."""
    return [F.expr(a) for a in [*lww_aggs(value_cols), "count(1) AS _n_mods"]]


def _project_lww(g: DataFrame, key_cols: list[str], value_cols: list[str]) -> DataFrame:
    """Project the fold aggregates to output columns.

    Per column: ``c`` = the surviving value (may be an explicit NULL) and
    ``_w_c`` = whether the batch wrote the column at all post-barrier —
    the MERGE needs the flag to distinguish 'set to NULL' (apply) from
    'not written' (keep target value)."""
    cols = [_q(k) for k in key_cols]
    for c in value_cols:
        cols.append(f"CASE WHEN {lww_survives(c)} THEN {_q(f'_m_{c}')}.v END AS {_q(c)}")
        cols.append(f"{lww_survives(c)} AS {_q(f'_w_{c}')}")
    cols += [
        "_top._is_delete AS _is_delete",
        "_barrier IS NOT NULL AS _had_delete",
        "_top.o.ts AS _ts",
        "_n_mods",
    ]
    return g.selectExpr(*cols)


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

    if mode == "mor":
        delta = folded.selectExpr(
            *[_q(c) for c in [*key_cols, *value_cols]],
            f"CAST(_ts AS BIGINT) AS {_q(CDC_TS_COL)}",
            "_is_delete",
            "_had_delete",
            *[f"{_q(f'_w_{c}')} AS {_q(f'__set_{c}')}" for c in value_cols],
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
        *[F.col(f"_w_{c}").alias(f"__w_{c}") for c in value_cols],
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
