"""The CDC replay engine: incremental micro-batches over the change log.

Checkpointed, time-windowed micro-batches with a driver-side partition-DAG
state machine. Per batch (reference parity in parentheses, files under
/root/reference):

1. **Gate** (O1, task/operation/FindPartitionForStreamingOperation.java:32-76):
   a CREATED partition becomes READY only when all parents are FINISHED.
   Child registrations are deduped (O3) and a merge child is registered
   once even though every parent's stream announces it (O2,
   task/ConflictResolver.java:23-34 — single-driver state makes the
   min-parent-owner rule a plain dedup).
2. **Scan**: one predicate-pruned read of the event log for ALL active
   partitions at once — partition_token IN (active) via broadcast join
   against the per-token offset table, commit_ts in (offset, batch_end].
   Token dirs + sorted row groups give partition/rowgroup pruning.
3. **Progress**: one ``Observation`` on that scan, below every table and
   record-type filter, collects the control rows (heartbeats, child
   partitions, end markers), the distinct data-row schemas and, per
   token, the count and max commit ts of the data rows of the tables the
   batch merges, while the merges consume the scan — one log scan and one
   observation per batch, like the reference's single change-stream
   query (db/dao/ChangeStreamDao.java:65-84). The driver derives
   per-token progress from it, which drives offsets, heartbeat handling
   (K2) and per-partition lineage (M1/M3).
4. **Decode + fold + MERGE** (D1-D9, O5/O12, K1): events are routed BY
   TABLE (processor/SpannerEventDispatcher.java:45-87,
   schema/KafkaSpannerTableSchemaFactory.java:104-142): each configured
   table gets its own vectorized decode, single-pass LWW fold and bucketed
   MERGE into its own LakeTable — independent concurrent Spark jobs, like
   the reference's per-table topics. The D10 include/exclude regex filter
   applies before dispatch.
5. **Watermark** (O9, task/LowWatermarkCalculator.java:47-169):
   min over non-finished partitions of coalesce(offset, start_ts).
6. **Commit**: all table snapshots committed FIRST, then the checkpoint
   (offsets, DAG state, per-table schema version + snapshot id), written
   on the batch thread, each metadata file via ``atomic_write`` (temp
   file, fsync, rename, directory fsync). On resume, any snapshot newer
   than the checkpoint is rolled back -> exactly-once (replaces
   FinishingPartitionManager.java:55-114).
7. **Schema registry** (db/metadata/SchemaRegistry.java:78-179,
   SchemaMerger.java:24-53): distinct (table, column_types) observed in
   the batch are merged additively per table (union of columns, new wins
   per column; INT64->FLOAT64 widening) and applied to that table's sink.
8. **Batch sizing**: with ``max_events_per_batch`` set, windows are sized
   from a checkpointed events/µs rate model (probe-count bisection only on
   cold start) — batch cost stays bounded as the input grows 100x instead
   of scaling linearly with fixed n_batches, at zero steady-state probes.
9. **Maintenance**: a MOR table whose delta depth reaches COMPACT_EVERY is
   compacted in one background maintenance lane (prepare beside later
   batches, rebase-commit in the loop); every GC_EVERY batches, snapshots
   and checkpoints older than the last GC_KEEP expire.

``_batch`` runs these steps as named stages (``_stage``): each stage's
Spark jobs are tagged ``b<id>:<stage>[:<table>]`` and scheduled in the
FAIR pool ``ingest`` (the compaction lane: ``maint``), and its wall time
lands in the batch's ``timings``.

Every caller-facing option is declared once, with its default and reason,
in ``config.EngineConfig``; tuning numbers no caller sets are the module
constants below.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from debezium_connector_spanner_spark.config import (
    WIRE_LOG_DIR,
    ConfigValidationError,
    EngineConfig,
)
from debezium_connector_spanner_spark.operators.decode import decode_mods, table_filter
from debezium_connector_spanner_spark.operators.merge import (
    CDC_TS_COL,
    fold_changes,
    fold_changes_salted,
    merge_into,
)
from debezium_connector_spanner_spark.sources.event_schema import (
    CHILD_PARTITIONS,
    DATA_CHANGE,
    HEARTBEAT,
    INITIAL_PARTITION_TOKEN,
    PARTITION_END,
    TableSchema,
)
from debezium_connector_spanner_spark.sources.lake import LakeTable, atomic_write
from debezium_connector_spanner_spark.session import local_frame

CREATED, READY, FINISHED = "CREATED", "READY", "FINISHED"
# states mirror kafka/internal/model/PartitionStateEnum.java:8-21 collapsed
# to the three that matter without a remote thread pool

# Tuning constants. No caller sets them; tests that need small values
# monkeypatch them on this module.
# MOR compaction: once a table's delta depth reaches COMPACT_EVERY, the
# maintenance lane folds it back into base files (bounds read-time depth).
COMPACT_EVERY = 6
# metadata GC (O13 for FILES): every GC_EVERY batches, expire table
# snapshots + engine checkpoints older than the last GC_KEEP committed
# ones and remove data files only they referenced (incl. rollback
# orphans + pre-compaction deltas). GC runs after the batch's checkpoint
# is durable; GC_KEEP >= 2 keeps a parseable fallback beside it for
# _load_latest_checkpoint.
GC_EVERY = 8
GC_KEEP = 4
# adaptive skew: salt the fold when the previous batch's hottest key held
# at least this share of a table's mods. The measured crossover at
# local[16] (BENCH_SCALING.md skew table: salted wins at ~79% on one key,
# loses at ~49%) sits around 2/3. At local[4] (same file) salted/fused
# throughput was 0.95 at a 49% hot key and 0.92 at 79%: salting won at
# neither.
SKEW_THRESHOLD = 0.6
# S1 scan pruning: above this many active tokens the literal IN-list
# predicate is skipped and token filtering rides the (already present)
# broadcast offsets equi-join — dynamic partition pruning then prunes
# token dirs at runtime instead of plan time. Literal IN-lists are faster
# to plan and prune statically at Spanner-scale token counts (hundreds)
# but blow up expression-tree size/analysis time at 10^5+ tokens.
TOKEN_INLIST_MAX = 4096


@dataclass
class TokenState:
    token: str
    parents: list[str]
    start_us: int
    state: str = CREATED
    offset_us: int | None = None  # exclusive low bound of the next scan


@dataclass
class TableState:
    """Per-table sink state (schema registry entry + lake table)."""

    schema: TableSchema
    table: LakeTable


@dataclass
class _Batch:
    """One replay batch's state, filled in by its stages in order."""

    id: int
    end_us: int = 0
    active: list[str] = field(default_factory=list)
    per_token: list[str] = field(default_factory=list)  # lineage-observed
    timings: dict[str, float] = field(default_factory=dict)
    snapshot_ids: dict[str, int] = field(default_factory=dict)
    merge_tables: list[str] = field(default_factory=list)  # D10 keeps these
    salted: list[str] = field(default_factory=list)
    data_scan: DataFrame | None = None  # None: no active partition
    obs: Observation | None = None
    seen: dict | None = None  # the observation's result, once merges ran
    attempts: dict[str, tuple] = field(default_factory=dict)  # (sid, fold_obs)
    events: int = 0
    mods: int = 0
    lineage: list[dict] = field(default_factory=list)
    finished: list[str] = field(default_factory=list)
    new_children: dict[str, tuple[list[str], int]] = field(default_factory=dict)
    stuck: list[str] = field(default_factory=list)
    requeried: list[str] = field(default_factory=list)


_WIDTH = {"INT64": 1, "FLOAT32": 2, "FLOAT64": 3}


def merge_schemas(a: TableSchema, b: TableSchema) -> TableSchema:
    """Additive union of columns (SchemaMerger.java:24-53); on a type
    conflict the WIDER numeric type wins (INT64 -> FLOAT64 widening), so
    the merge is order-insensitive when a batch observes several schema
    epochs at once."""
    cols = {c.name: c for c in a.columns}
    for c in b.columns:
        prev = cols.get(c.name)
        if prev is None:
            cols[c.name] = c
        elif prev.type_code != c.type_code:
            pw, cw = _WIDTH.get(prev.type_code), _WIDTH.get(c.type_code)
            if pw is not None and cw is not None:
                cols[c.name] = c if cw > pw else prev
            else:
                cols[c.name] = c  # non-numeric conflict: newest wins
    ordered = sorted(cols.values(), key=lambda c: c.ordinal_position)
    return TableSchema(table=b.table, columns=tuple(ordered))


class CdcReplayEngine:
    def __init__(
        self,
        spark: SparkSession,
        events_path: str,
        table_root: str,
        checkpoint_dir: str,
        start_us: int,
        end_us: int,
        *,
        initial_schema: TableSchema | None = None,
        base_df: DataFrame | None = None,
        tables: dict[str, tuple[TableSchema, DataFrame | None]] | None = None,
        **options,
    ):
        """``options`` are the remaining ``EngineConfig`` fields (see
        config.py for each one's default and reason). ``initial_schema`` +
        ``base_df`` is the single-table shorthand for
        ``tables={schema.table: (schema, base_df)}``."""
        self.spark = spark
        self.cfg = EngineConfig(
            events_path, table_root, checkpoint_dir, start_us, end_us, **options
        )
        # async-compaction maintenance lane: one driver thread runs
        # compact_prepare's Spark job (the commit stays in the loop); made
        # lazily (only mor uses it), shut down when run() ends.
        self._maint_pool: ThreadPoolExecutor | None = None
        self._compact_futures: dict[str, object] = {}
        self._b: _Batch | None = None  # the batch in flight (see _stage)
        # adaptive-skew state: per-table hottest-key share of the LAST
        # batch's mods (drives this batch's fused-vs-salted choice,
        # one-batch reaction lag like the reference's rebalancer). Derived
        # from the fold's own _n_mods output (post-aggregation rows), not
        # a per-raw-row histogram — zero cost on the 4M-row decode path.
        self._hot_share: dict[str, float] = {}
        # O7/O8 stuck-partition watchdog (PartitionQueryingMonitor.java:33-120,
        # FinishPartitionWatchDog): an active partition that emits nothing
        # (no data, no heartbeat) for max_stale_batches consecutive batches
        # is flagged; the ACTION follows cfg.stuck_policy —
        #   'metric'  record only (default);
        #   'requery' hold the token's offset so the next batch re-scans
        #             the same window (the reference's re-query), then
        #             escalate-advance after 2x the threshold so the run
        #             stays bounded;
        #   'fail'    raise after 2x the threshold (the reference's
        #             watchdog escalation).
        self.max_stale_batches = 3
        self._stale_counts: dict[str, int] = {}
        # K3 sizing rate model: EMA of observed change events per µs of
        # window, checkpointed so a resumed engine keeps its calibration
        self._rate_ev_per_us: float | None = None
        # how many ways the salted fold shards a hot key: one per core (a
        # spread past the core count only adds combine work)
        self._salt_width = spark.sparkContext.defaultParallelism

        # normalize the single-table legacy shape to the multi-table one
        if tables is None and initial_schema is not None:
            tables = {initial_schema.table: (initial_schema, base_df)}
        tables = tables or {}

        ckpt = self._load_latest_checkpoint()
        # collected-errors validation BEFORE any side effect (table
        # create / checkpoint write): every violation reported at once
        # (config/validation/ConfigurationValidator.java:33-59)
        cfg_errors = self.cfg.validate(tables, ckpt)
        if cfg_errors:
            raise ConfigValidationError(cfg_errors)
        os.makedirs(checkpoint_dir, exist_ok=True)
        if ckpt is None:
            self._bootstrap(tables)
        else:
            self._restore(ckpt)
        self.metrics_path = os.path.join(checkpoint_dir, "metrics.jsonl")
        # M1-M3 counter/gauge/sketch surface (SpannerMeter.java:298-384);
        # snapshots ride every metrics jsonl line
        from debezium_connector_spanner_spark.streaming.meter import EngineMeter

        self.meter = EngineMeter()
        self.meter.event_queue_total_capacity = self.cfg.max_events_per_batch
        self._scan_split_bytes = self._split_bytes()
        self._prev_confs: dict[str, str | None] | None = None

    def _bootstrap(self, tables: dict[str, tuple[TableSchema, DataFrame | None]]) -> None:
        """First start: create every table and write checkpoint 0."""
        self._primary = next(iter(tables))
        self.start_us, self.end_us = self.cfg.start_us, self.cfg.end_us
        self.n_batches = self.cfg.n_batches
        self.batch_id = -1
        self.frontier_us = self.start_us
        self.tokens: dict[str, TokenState] = {
            INITIAL_PARTITION_TOKEN: TokenState(
                INITIAL_PARTITION_TOKEN, [], self.start_us, READY, None
            )
        }
        self.tables: dict[str, TableState] = {}
        for name, (schema, bdf) in tables.items():
            self.tables[name] = TableState(
                schema,
                LakeTable.create(
                    self.spark,
                    self._table_path(name),
                    schema.spark_struct(),
                    schema.key_columns,
                    n_buckets=self.cfg.n_buckets,
                    initial_df=bdf,
                    overwrite=False,
                ),
            )
        self.watermark_us = self.start_us
        self._checkpoint(self._snapshot_ids())

    def _restore(self, ckpt: dict) -> None:
        """Resume from a checkpoint, rolling each table back to it."""
        self.start_us, self.end_us = ckpt["start_us"], ckpt["end_us"]
        self.n_batches = ckpt["n_batches"]
        self.batch_id = ckpt["batch_id"]
        self.frontier_us = ckpt["frontier_us"]
        self.tokens = {
            t: TokenState(t, s["parents"], s["start_us"], s["state"], s["offset_us"])
            for t, s in ckpt["tokens"].items()
        }
        self._primary = next(iter(ckpt["tables"]))
        self.tables = {}
        for name, ts in ckpt["tables"].items():
            lake = LakeTable(self.spark, self._table_path(name))
            # exactly-once resume: discard any snapshot not covered by
            # the checkpoint (crash between data and state commits)
            if lake.current_snapshot_id() != ts["snapshot_id"]:
                lake.rollback(ts["snapshot_id"])
            self.tables[name] = TableState(
                TableSchema.from_column_types_json(name, ts["schema_cols"]), lake
            )
        self.watermark_us = ckpt["watermark_us"]
        self._rate_ev_per_us = ckpt.get("rate_ev_per_us")
        self._hot_share = ckpt.get("hot_share", {})

    def _split_bytes(self) -> int | None:
        """Scale-adaptive scan split size (guide §2.2/§6.1): a fixed split
        size cannot serve both ends — a batch window scans ~log_bytes/
        n_batches, and the split size should put ~4 task waves on the
        cores working on THAT volume. At sf0.1 (1.3GB log, 8 batches)
        this lands on the session's 2MB floor (the swept local optimum);
        at sf1 (13.4GB) a 2MB split spawns ~6,600 tasks per scan of
        which >90% own no row group — measured 6.8s vs 0.4s for the SAME
        pruned window at 13/32MB splits (the split-size sweep recorded
        in OPTIMIZATION_r06.md). The value is derived from input size
        and core count, never a constant tuned to one scale; _run() sets
        it for the replay's jobs and close() restores the session
        default. Validation guarantees the log dir exists; an empty log
        keeps the session default (None)."""
        ev_dir = os.path.join(self.cfg.events_path, WIRE_LOG_DIR[self.cfg.wire_format])
        total = sum(
            os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(ev_dir) for f in fs
        )
        if not total:
            return None
        cores = max(1, self.spark.sparkContext.defaultParallelism)
        per_batch = total / max(1, self.n_batches)
        return int(min(max(per_batch / (4 * cores), 2 * 1024 * 1024), 64 * 1024 * 1024))

    # ------------------------------------------------------------- layout
    def _table_path(self, name: str) -> str:
        # the primary (first-configured) table keeps the legacy flat layout
        # (the table IS table_root); additional tables nest under it
        return (
            self.cfg.table_root
            if name == self._primary
            else os.path.join(self.cfg.table_root, f"table={name}")
        )

    # ------------------------------------------------------------- ckpt
    def _snapshot_ids(self) -> dict[str, int]:
        return {n: st.table.current_snapshot_id() for n, st in self.tables.items()}

    def _ckpt_path(self, batch_id: int) -> str:
        return os.path.join(self.cfg.checkpoint_dir, f"ckpt-{batch_id + 1:06d}.json")

    def _load_latest_checkpoint(self) -> dict | None:
        """Newest READABLE checkpoint. Checkpoints are written with
        atomic_write (temp file, fsync, rename, directory fsync), but a
        file can still be truncated or corrupted on disk; the fallback
        walks ckpt-*.json newest-first and resumes from the most recent
        parseable state — that is precisely what GC_KEEP >= 2 preserves.
        Resuming one batch earlier is exactly-once-safe: the constructor
        rolls each table back to the checkpointed snapshot and the
        skipped batch re-applies idempotently."""
        latest = os.path.join(self.cfg.checkpoint_dir, "LATEST")
        if not os.path.exists(latest):
            return None
        candidates: list[str] = []
        try:
            with open(latest) as f:
                candidates.append(f.read().strip())
        except OSError:
            pass
        candidates += sorted(
            (
                n
                for n in os.listdir(self.cfg.checkpoint_dir)
                if n.startswith("ckpt-") and n.endswith(".json")
            ),
            reverse=True,  # zero-padded batch ids: lexicographic == numeric
        )
        seen = set()
        tried = 0
        for name in candidates:
            if not name or name in seen:
                continue
            seen.add(name)
            tried += 1
            try:
                with open(os.path.join(self.cfg.checkpoint_dir, name)) as f:
                    return json.load(f)
            except (OSError, json.JSONDecodeError):
                continue  # truncated/missing: fall back to the previous one
        if tried:
            # checkpoints existed but none parsed: refusing to silently
            # restart from scratch over committed table state
            raise RuntimeError(
                f"all {tried} checkpoint file(s) in {self.cfg.checkpoint_dir!r} "
                "are unreadable; refusing to re-bootstrap over existing state"
            )
        return None

    def close(self) -> None:
        """Stop the maintenance lane and restore the session confs. Safe
        to call repeatedly; run() calls it on every exit path."""
        if self._maint_pool is not None:
            self._maint_pool.shutdown(wait=True, cancel_futures=True)
            self._maint_pool = None
        self._compact_futures.clear()
        # restore the session confs _run() scoped to this replay's jobs;
        # queries after run() see the session defaults again
        if self._prev_confs is not None:
            for key, value in self._prev_confs.items():
                if value is None:
                    self.spark.conf.unset(key)
                else:
                    self.spark.conf.set(key, value)
            self._prev_confs = None

    def _checkpoint(self, snapshot_ids: dict[str, int]) -> None:
        state = {
            "batch_id": self.batch_id,
            "wire_format": self.cfg.wire_format,
            "start_us": self.start_us,
            "end_us": self.end_us,
            "n_batches": self.n_batches,
            "frontier_us": self.frontier_us,
            "watermark_us": self.watermark_us,
            "rate_ev_per_us": self._rate_ev_per_us,
            "hot_share": self._hot_share,
            "tables": {
                n: {
                    "schema_cols": st.schema.column_types_json(),
                    "snapshot_id": snapshot_ids[n],
                }
                for n, st in self.tables.items()
            },
            "tokens": {
                t: {
                    "parents": s.parents,
                    "start_us": s.start_us,
                    "state": s.state,
                    "offset_us": s.offset_us,
                }
                for t, s in self.tokens.items()
            },
        }
        self._write_checkpoint(state, self._ckpt_path(self.batch_id))

    def _write_checkpoint(self, state: dict, path: str) -> None:
        # the checkpoint is durable before LATEST names it, so LATEST
        # never points at a file a power loss could surface empty
        atomic_write(path, json.dumps(state))
        atomic_write(
            os.path.join(self.cfg.checkpoint_dir, "LATEST"), os.path.basename(path)
        )

    # ------------------------------------------------------------- plan
    def _boundaries(self) -> list[int]:
        span = self.end_us - self.start_us
        return [
            self.start_us + span * (i + 1) // self.n_batches for i in range(self.n_batches)
        ]

    def _next_boundary(self) -> int:
        for b in self._boundaries():
            if b > self.frontier_us:
                return b
        return self.end_us

    def _gate(self) -> list[str]:
        """O1: CREATED -> READY when every parent is FINISHED (or unknown =
        GC'd, 'no parent exists anymore')."""
        for s in self.tokens.values():
            if s.state == CREATED and all(
                self.tokens[p].state == FINISHED for p in s.parents if p in self.tokens
            ):
                s.state = READY
        return [t for t, s in self.tokens.items() if s.state == READY]

    def _probe_count(self, active: list[str], batch_end_us: int) -> int:
        """Cheap row-count probe of the would-be batch window (row-group
        pruned; reads no mod payloads). One row per record in every wire
        layout, so the proto path counts the RAW pruned log — no Python
        decode just to count."""
        return self._active_scan(active, batch_end_us, decode=False).count()

    def _size_batch(self, active: list[str], target_end_us: int) -> int:
        """K3 batch sizing: pick a window whose expected event count fits
        max_events_per_batch. Keeps the fold shuffle bounded when the same
        n_batches faces 100x the input.

        Steady state costs ZERO extra Spark jobs: the window is sized from
        the EMA of observed events/µs (updated every batch, checkpointed),
        self-correcting within a batch if the rate drifts. Only the cold
        start (no rate yet) pays count-probe bisection — and only until
        the first non-empty batch calibrates the model."""
        if self.cfg.max_events_per_batch is None or not active:
            return target_end_us
        lo = self.frontier_us
        hi = target_end_us
        if self._rate_ev_per_us:
            est_span = int(self.cfg.max_events_per_batch / self._rate_ev_per_us)
            return min(hi, max(lo + 1, lo + est_span))
        while hi - lo > 1 and self._probe_count(active, hi) > self.cfg.max_events_per_batch:
            hi = lo + (hi - lo) // 2
        return hi

    def _observe_rate(self, events: int, window_lo_us: int, window_hi_us: int) -> None:
        span = window_hi_us - window_lo_us
        if span <= 0 or events <= 0:
            return
        rate = events / span
        self._rate_ev_per_us = (
            rate
            if self._rate_ev_per_us is None
            else 0.5 * self._rate_ev_per_us + 0.5 * rate
        )

    # -------------------------------------------------------------- run
    def run(self, max_batches: int | None = None) -> dict:
        try:
            return self._run(max_batches)
        finally:
            # stop the maintenance lane on EVERY exit path (incl. raise
            # with a compact_prepare in flight) — no leaked threads, no
            # unjoined background job
            self.close()

    def _run(self, max_batches: int | None = None) -> dict:
        if self._prev_confs is None:
            # AQE replaces a query stage whose output is empty with an
            # empty relation, and the batch scan's progress Observation
            # inside that stage is then never reported (a window holding
            # only control rows feeds the merge an empty slice)
            rules = "spark.sql.adaptive.optimizer.excludedRules"
            keep_obs = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
            excluded = self.spark.conf.get(rules, None)
            confs = {rules: f"{excluded},{keep_obs}" if excluded else keep_obs}
            if self._scan_split_bytes is not None:
                confs["spark.sql.files.maxPartitionBytes"] = str(self._scan_split_bytes)
            self._prev_confs = {k: self.spark.conf.get(k, None) for k in confs}
            for key, value in confs.items():
                self.spark.conf.set(key, value)
        done = 0
        totals = {"events": 0, "mods": 0, "wall_s": 0.0}

        def step(target_end_us: int) -> None:
            nonlocal done
            m = self._batch(target_end_us)
            totals["events"] += m["events"]
            totals["mods"] += m["mods"]
            totals["wall_s"] += m["wall_s"]
            done += 1

        while self.frontier_us < self.end_us:
            if max_batches is not None and done >= max_batches:
                break
            step(self._next_boundary())

        # Drain: a child gated open by a parent finishing in the LAST
        # scheduled batch still has to stream its window (the reference
        # polls until every partition finishes; our windowed loop needs
        # explicit end-of-stream drain batches). Each drain pass scans
        # (offset, end_us] for newly-READY tokens; terminates when no
        # READY token has unscanned range (O14 end-time detection).
        while max_batches is None or done < max_batches:
            if self.frontier_us < self.end_us:
                break  # stopped early by max_batches; resume continues later
            self._gate()
            pending = [
                t
                for t, s in self.tokens.items()
                if s.state == READY and (s.offset_us or s.start_us - 1) < self.end_us
            ]
            if not pending:
                break
            step(self.end_us)

        # settle the maintenance lane: apply any in-flight/ready async
        # compaction so the run ends with bounded delta depth (the wait is
        # usually zero — the prepare job overlapped with earlier batches)
        if self._compact_futures:
            sids = self._snapshot_ids()
            changed = False
            for name, fut in list(self._compact_futures.items()):
                prep = fut.result()
                del self._compact_futures[name]
                if prep is not None:
                    sids[name] = self.tables[name].table.compact_apply(
                        prep, summary={"batch_id": self.batch_id, "at": "drain"}
                    )
                    changed = True
            if changed:
                self._checkpoint(sids)

        totals["batches"] = done
        totals["events_per_sec"] = (
            totals["events"] / totals["wall_s"] if totals["wall_s"] else 0.0
        )
        return totals

    def _events_df(self) -> DataFrame:
        if not hasattr(self, "_events_cached"):
            from debezium_connector_spanner_spark.sources.event_schema import (
                EVENT_LOG_SCHEMA,
            )

            if self.cfg.wire_format == "pg_json":
                from debezium_connector_spanner_spark.sources.pg_json import (
                    PG_LOG_SCHEMA,
                    decode_pg_json,
                )

                # same pruning layers: token dirs + commit_ts row-group
                # stats push through the projection; the Variant decode
                # runs post-filter on the pruned slice only
                log = self.spark.read.schema(PG_LOG_SCHEMA).parquet(
                    os.path.join(self.cfg.events_path, "events_pg")
                )
                self._events_cached = decode_pg_json(log)
            elif self.cfg.wire_format == "proto":
                from debezium_connector_spanner_spark.sources.proto_wire import (
                    PROTO_LOG_SCHEMA,
                    decode_proto_wire,
                )

                # Catalyst cannot push predicates through mapInPandas, so
                # the RAW log is cached separately: _active_scan applies
                # every pruning layer to it FIRST (token dirs, ts
                # row-group stats, per-token offset join) and only then
                # decodes the pruned slice. This decoded view exists for
                # whole-log consumers (envelope_stream).
                self._proto_log_cached = self.spark.read.schema(
                    PROTO_LOG_SCHEMA
                ).parquet(os.path.join(self.cfg.events_path, "events_proto"))
                self._events_cached = decode_proto_wire(self._proto_log_cached)
            else:
                # pin the schema: no per-batch footer/partition inference
                self._events_cached = self.spark.read.schema(EVENT_LOG_SCHEMA).parquet(
                    os.path.join(self.cfg.events_path, "events")
                )
        return self._events_cached

    def _active_scan(
        self, active: list[str], batch_end_us: int, decode: bool = True
    ) -> DataFrame:
        # the per-token offsets are a small driver-side table. As a
        # LocalRelation its broadcast took 0.02-0.04 s and no Python worker;
        # from a Python list it planned a PythonRDD, and its broadcast job
        # started a Python worker per core every window (0.3-1.7 s)
        offsets = local_frame(
            self.spark,
            [(t, self.tokens[t].offset_us or self.tokens[t].start_us - 1) for t in active],
            "partition_token string, _offset_us long",
        )
        # Three-layer pruning:
        # 1. token partition-dir pruning (isin on the partition column)
        # 2. GLOBAL commit_ts window as literal timestamp comparisons ->
        #    pushed into parquet row-group stats (files are ts-sorted);
        #    the lower bound is min over active offsets, exact per-token
        #    bounds can't push down because they arrive via the join
        # 3. exact per-token offset window via broadcast join (tiny table)
        lo_us = min(
            (self.tokens[t].offset_us or self.tokens[t].start_us - 1) for t in active
        )
        # Token filter: a literal IN-list prunes token dirs at PLAN time
        # and is the fast path for Spanner-scale token counts (hundreds).
        # Past TOKEN_INLIST_MAX the literal list itself becomes the cost
        # (expression-tree size, analysis time), so filtering instead
        # rides the broadcast offsets equi-join below — correctness is
        # identical (inner join on partition_token keeps exactly the
        # active tokens) and dynamic partition pruning recovers the dir
        # pruning at runtime from the broadcast side.
        # Proto wire: prune the RAW log (filters on plain log columns push
        # to the parquet scan) and decode only the surviving slice —
        # filters placed above the mapInPandas decode would not push
        # through it, and every batch would Python-decode the full log.
        decoder = None
        ev = self._events_df()
        if self.cfg.wire_format == "proto":
            from debezium_connector_spanner_spark.sources.proto_wire import (
                decode_proto_wire,
            )

            ev = self._proto_log_cached
            decoder = decode_proto_wire
        if len(active) <= TOKEN_INLIST_MAX:
            ev = ev.where(F.col("partition_token").isin(active))
        ev = ev.where(
            (F.col("commit_ts") > F.timestamp_micros(F.lit(lo_us)))
            & (F.col("commit_ts") <= F.timestamp_micros(F.lit(batch_end_us)))
        )
        ev = ev.join(F.broadcast(offsets), "partition_token")
        ev = ev.where(F.unix_micros("commit_ts") > F.col("_offset_us"))
        if decoder is not None and decode:
            ev = decoder(ev.drop("_offset_us"))
        return ev

    def _data_scan(self, scan: DataFrame) -> DataFrame:
        """D10: include/exclude table routing applied before dispatch
        (config/SpannerTableFilter.java:23-38)."""
        return table_filter(
            scan, include_regex=self.cfg.table_include, exclude_regex=self.cfg.table_exclude
        )

    def _table_allowed(self, name: str) -> bool:
        """Driver-side mirror of the D10 regex filter (include wins)."""
        import re

        if self.cfg.table_include:
            return re.search(self.cfg.table_include, name) is not None
        if self.cfg.table_exclude:
            return re.search(self.cfg.table_exclude, name) is None
        return True

    # ------------------------------------------------------------ batch
    def _batch(self, target_end_us: int) -> dict:
        """One micro-batch, stage by stage (the module docstring's steps)."""
        t0 = time.monotonic()
        b = self._b = _Batch(self.batch_id + 1, snapshot_ids=self._snapshot_ids())
        with self._scan(b, target_end_us):
            if b.data_scan is not None:
                self._merge(b)
                self._resolve(b)
        if b.seen is not None:
            self._harvest(b)
            self._maintain(b)
        self._advance(b)
        self._commit(b)
        return self._metrics_line(b, time.monotonic() - t0)

    @contextmanager
    def _stage(self, name: str, table: str | None = None):
        """Run the block as stage ``name`` of the batch in flight: the Spark
        jobs this thread submits in it are tagged ``b<id>:<name>[:<table>]``
        and run in the FAIR pool ``maint`` (the maintenance lane's
        ``compact`` stage) or ``ingest``. PySpark pins each Python thread to
        a JVM thread that inherits no local property, so every thread that
        submits jobs enters its own stage; both properties are restored on
        exit. The block's wall time adds to the batch's timings as
        ``<name>[_<table>]_s``, except in the lane, which runs beside later
        batches."""
        b = self._b
        lane = name == "compact"
        sc = self.spark.sparkContext
        props = {
            "spark.scheduler.pool": "maint" if lane else "ingest",
            "spark.job.description": f"b{b.id}:{name}" + (f":{table}" if table else ""),
        }
        prev = {k: sc.getLocalProperty(k) for k in props}
        for k, v in props.items():
            sc.setLocalProperty(k, v)
        t0 = time.monotonic()
        try:
            yield
        finally:
            for k, v in prev.items():
                sc.setLocalProperty(k, v)
            if not lane:
                key = f"{name}_{table}_s" if table else f"{name}_s"
                b.timings[key] = round(b.timings.get(key, 0.0) + time.monotonic() - t0, 3)

    @contextmanager
    def _scan(self, b: _Batch, target_end_us: int):
        """Gate, size and scan the window (b.data_scan stays None when no
        partition is active). While the block runs, the query gauge counts
        the scan in flight; on exit, raised or not, the gauge is balanced
        and the shared multi-table slice released (the session outlives
        the batch)."""
        with self._stage("scan"):
            b.active = self._gate()
            b.end_us = self._size_batch(b.active, target_end_us)
            if b.active:
                b.merge_tables = [n for n in self.tables if self._table_allowed(n)]
                b.data_scan = self._data_scan(self._observed_scan(b))
                if len(self.tables) > 1:
                    # one physical scan for N tables: persist the slim decode
                    # projection (bounded by max_events_per_batch) instead of
                    # re-reading the log once per table — table_name row-group
                    # stats can't prune (tables interleave within a token file)
                    b.data_scan = b.data_scan.where(
                        F.col("record_type") == DATA_CHANGE
                    ).select(
                        "partition_token", "commit_ts", "record_sequence",
                        "server_txn_id", "table_name", "mod_type",
                        "value_capture_type", "column_types", "mods",
                    ).persist()
        if b.data_scan is None:
            yield
            return
        self.meter.on_query()  # one change-stream query per batch window
        try:
            yield
        finally:
            if b.data_scan.is_cached:
                b.data_scan.unpersist()
            self.meter.on_query_done()

    def _observed_scan(self, b: _Batch) -> DataFrame:
        """The window's scan with the batch's one progress Observation.

        It sits below the D10 filter, the per-table filters and the
        DATA_CHANGE filter (Catalyst does not push filters through
        CollectMetrics), so it sees every row of the window: the control
        rows (heartbeats / child partitions / end markers, ~2% of
        records), the distinct data-row (table, column_types) pairs, and
        the data records of the tables this batch merges, counted in
        total and, with max commit ts, per token. Each merge's first
        action is a whole-scan write (merge_into takes every bucket), so
        the observation is complete when the merges return (an empty slice
        included: _run turns off AQE's empty-stage pruning)."""
        is_data = F.col("record_type") == DATA_CHANGE
        merged = (
            is_data & F.col("table_name").isin(b.merge_tables)
            if b.merge_tables
            else F.lit(False)  # D10 kept no table, and IN () is not valid SQL
        )
        ts_us = F.unix_micros("commit_ts")
        ctrl = F.struct(
            "partition_token", "record_type", ts_us.alias("ts_us"), "child_partitions"
        )
        cols = F.struct(F.col("table_name").alias("tbl"), F.col("column_types").alias("cols"))
        aggs = [
            F.collect_list(F.when(~is_data, ctrl)).alias("ctrl"),
            F.collect_set(F.when(is_data, cols)).alias("schemas"),
            F.count(F.when(merged, 1)).alias("_n_rec_total"),
        ]
        # per-token lineage rides along when the active set is small;
        # beyond the cap only the global counters are observed
        b.per_token = b.active if len(b.active) <= 64 else []
        for i, tok in enumerate(b.per_token):
            mine = merged & (F.col("partition_token") == tok)
            aggs.append(F.count(F.when(mine, 1)).alias(f"_n_{i}"))
            aggs.append(F.max(F.when(mine, ts_us)).alias(f"_ts_{i}"))
        b.obs = Observation(f"scan-{b.id}")
        return self._active_scan(b.active, b.end_us).observe(b.obs, *aggs)

    def _merge(self, b: _Batch) -> None:
        """OPTIMISTIC decode: every table D10 keeps is merged concurrently
        with its CURRENT schema; _resolve then retries a table whose
        observed schema evolved — the reference's
        cache-invalidate-and-retry (db/metadata/SchemaRegistry.java:78-86),
        paid only on the rare schema-change batch."""
        with self._stage("overlap"):
            if b.data_scan.is_cached or not b.merge_tables:
                # one whole-scan action completes the observation: it
                # builds the shared cache before the concurrent merges read
                # it (a merge could otherwise finish on a partition another
                # merge cached but has not yet reported), or, when D10
                # leaves no table to merge, it is the batch's only read
                b.data_scan.write.format("noop").mode("overwrite").save()
            # C3 adaptive skew: choose this batch's fold shape per table
            # from the key-hash histogram the PREVIOUS batch observed
            b.salted = sorted(
                n
                for n in self.tables
                if self.cfg.skew_mode == "salted"
                or (
                    self.cfg.skew_mode == "adaptive"
                    and self._hot_share.get(n, 0.0) >= SKEW_THRESHOLD
                )
            )
            with ThreadPoolExecutor(max_workers=max(1, len(b.merge_tables))) as ex:
                futures = {n: ex.submit(self._merge_table, b, n) for n in b.merge_tables}
                b.attempts = {n: fut.result() for n, fut in futures.items()}
            b.seen = b.obs.get

    def _merge_table(self, b: _Batch, name: str, attempt: int = 0) -> tuple:
        """One table's merge, for the optimistic attempt and the schema
        retry alike: the table's slice of the batch scan, decoded with the
        table's schema as of now."""
        with self._stage("merge", name):
            return self._merge_attempt(
                b.data_scan.where(F.col("table_name") == name),
                name,
                self.tables[name].schema,
                b.id,
                attempt,
                name in b.salted,
            )

    def _resolve(self, b: _Batch) -> None:
        """Merge each table's observed schemas into its registry entry
        (additive, widening), then settle its optimistic attempt: an empty
        slice's snapshot is rolled back (a pointer flip; orphan files are
        inert), and a table whose schema evolved mid-batch is rolled back
        and merged again so the new columns are decoded."""
        with self._stage("resolve"):
            observed: dict[str, set] = {}
            for s in b.seen["schemas"]:
                if s["tbl"] in b.attempts and s["cols"]:
                    observed.setdefault(s["tbl"], set()).add(s["cols"])
            retried = False
            for name in b.merge_tables:
                st = self.tables[name]
                used = st.schema.column_types_json()
                for s_json in sorted(observed.get(name, ())):
                    incoming = TableSchema.from_column_types_json(name, s_json)
                    st.schema = merge_schemas(st.schema, incoming)
                prev = b.snapshot_ids[name]
                if name not in observed:
                    if b.attempts[name][0] != prev:
                        st.table.rollback(prev)
                    b.attempts[name] = (prev, None)
                elif st.schema.column_types_json() != used:
                    self.meter.schema_retries_total += 1
                    retried = True
                    with self._stage("schema_retry"):
                        st.table.rollback(prev)
                        b.attempts[name] = self._merge_table(b, name, attempt=1)
                b.snapshot_ids[name] = b.attempts[name][0]
            if retried:
                self.meter.on_error()  # a batch's retries count as one error

    def _harvest(self, b: _Batch) -> None:
        """Per-token progress, lineage and counters from the scan
        observation, and each table's hot-key share from its fold. Set
        semantics for end markers and child announcements: a duplicated
        control row cannot change DAG state."""
        with self._stage("harvest"):
            seen = b.seen
            n_ctrl: dict[str, int] = {}
            n_hb: dict[str, int] = {}
            ctrl_max_ts: dict[str, int] = {}
            ended: set[str] = set()
            announced: set[tuple] = set()
            for r in seen["ctrl"]:
                tok, rt = r["partition_token"], r["record_type"]
                n_ctrl[tok] = n_ctrl.get(tok, 0) + 1
                n_hb[tok] = n_hb.get(tok, 0) + (rt == HEARTBEAT)
                ctrl_max_ts[tok] = max(ctrl_max_ts.get(tok, 0), r["ts_us"])
                if rt == PARTITION_END:
                    ended.add(tok)
                elif rt == CHILD_PARTITIONS:
                    for cp in r["child_partitions"]:
                        announced.add(
                            (r["ts_us"], cp["token"], tuple(cp["parent_partition_tokens"]))
                        )
            b.finished = sorted(ended)
            # O3 dedup: register each child once, whichever parent
            # announced it (O2 merge-owner collapses under one driver)
            for start_us, tok, parents in sorted(announced):
                if tok not in self.tokens and tok not in b.new_children:
                    b.new_children[tok] = (list(parents), start_us)
            data = {
                tok: (seen[f"_n_{i}"], seen[f"_ts_{i}"])
                for i, tok in enumerate(b.per_token)
                if seen[f"_n_{i}"]
            }
            for tok in b.active:
                n_c = n_ctrl.get(tok, 0)
                n_d, ts_d = data.get(tok, (0, 0))
                if n_c or n_d:
                    b.lineage.append(
                        {
                            "token": tok,
                            "events": n_c + n_d,
                            "data": n_d,
                            "heartbeats": n_hb.get(tok, 0),
                            "max_ts_us": max(ctrl_max_ts.get(tok, 0), ts_d),
                        }
                    )
            # global counters stay exact even past the per-token
            # observation cap (lineage is then control-rows-only)
            b.mods = seen["_n_rec_total"]
            b.events = sum(n_ctrl.values()) + b.mods
            if data:
                # getDelayChangeStreamEvents analogue: how far behind the
                # batch window's end the freshest observed event sits
                self.meter.delay_change_stream_events_s.add(
                    max(0.0, (b.end_us - max(ts for _, ts in data.values())) / 1e6)
                )
            for name, (_, fold_obs) in b.attempts.items():
                fg = fold_obs.get if fold_obs is not None else {}
                if fg.get("_sum_key_mods"):
                    self._hot_share[name] = round(
                        (fg.get("_max_key_mods") or 0) / fg["_sum_key_mods"], 4
                    )

    def _maintain(self, b: _Batch) -> None:
        """MOR compaction bounds read-time delta depth and amortizes the
        rewrite across COMPACT_EVERY batches (O13-adjacent state bounding
        for the data files themselves). The fold + file write runs in the
        maintenance lane, a driver thread whose Spark job reads an
        immutable snapshot beside later batches; only the metadata
        rebase-commit happens here in the batch loop, so the ingest path
        never stalls on a table rewrite — like Iceberg rewrite_data_files
        or Delta OPTIMIZE running beside the stream."""
        if self.cfg.sink_mode != "mor":
            return
        with self._stage("maintenance"):
            for name, st in self.tables.items():
                fut = self._compact_futures.get(name)
                if fut is not None and fut.done():
                    del self._compact_futures[name]
                    prep = fut.result()  # surfaces worker errors
                    if prep is not None:
                        with self._stage("compact_apply"):
                            b.snapshot_ids[name] = st.table.compact_apply(
                                prep, summary={"batch_id": b.id}
                            )
                elif fut is None and st.table.delta_depth() >= COMPACT_EVERY:
                    if self._maint_pool is None:
                        self._maint_pool = ThreadPoolExecutor(
                            max_workers=1, thread_name_prefix="cdc-maint"
                        )
                    self._compact_futures[name] = self._maint_pool.submit(
                        self._compact, name, st.table.current_snapshot_id()
                    )

    def _compact(self, name: str, base_sid: int) -> dict | None:
        # the maintenance lane's one job, in the low-weight 'maint' pool so
        # the compaction fold backfills stage-tail idle cores instead of
        # competing with batch jobs
        with self._stage("compact", name):
            return self.tables[name].table.compact_prepare(base_sid)

    def _advance(self, b: _Batch) -> None:
        """After the data commit (O6 happens-before): the O7/O8 watchdog,
        DAG transitions and offsets, the O9 low watermark, the O13 GC of
        finished tokens, and the frontier."""
        with self._stage("advance"):
            progressed = {ln["token"] for ln in b.lineage}
            for tok in b.active:
                if tok in progressed or tok in b.finished:
                    self._stale_counts.pop(tok, None)
                else:
                    n = self._stale_counts.get(tok, 0) + 1
                    self._stale_counts[tok] = n
                    if n >= self.max_stale_batches:
                        b.stuck.append(tok)
            self.meter.stuck_heartbeat_intervals += len(b.stuck)
            limit = 2 * self.max_stale_batches
            if b.stuck and self.cfg.stuck_policy == "fail":
                over = [t for t in b.stuck if self._stale_counts[t] >= limit]
                if over:
                    self.meter.on_error()
                    raise RuntimeError(
                        f"stuck partitions exceeded watchdog threshold: {sorted(over)}"
                    )
            for tok, (parents, start_us) in b.new_children.items():
                self.tokens[tok] = TokenState(tok, parents, start_us, CREATED, None)
            for t in b.active:
                if (
                    self.cfg.stuck_policy == "requery"
                    and t in b.stuck
                    and self._stale_counts.get(t, 0) < limit
                ):
                    b.requeried.append(t)  # hold offset: re-scan the window
                    continue
                self.tokens[t].offset_us = b.end_us
            for t in b.finished:
                self.tokens[t].state = FINISHED
            # O9 low watermark: min over non-finished of coalesce(offset, start)
            live = [s for s in self.tokens.values() if s.state != FINISHED]
            self.watermark_us = (
                min((s.offset_us if s.offset_us is not None else s.start_us) for s in live)
                if live
                else b.end_us
            )
            # O13 GC: drop FINISHED tokens no live token references; safe
            # because the gate treats unknown parents as finished ("no
            # parent exists anymore"), and bounded at 10^10 scale
            referenced = {
                p for s in self.tokens.values() for p in s.parents if s.state != FINISHED
            }
            for t in [
                t
                for t, s in self.tokens.items()
                if s.state == FINISHED and t not in referenced and t != INITIAL_PARTITION_TOKEN
            ]:
                del self.tokens[t]
            self.batch_id = b.id
            self._observe_rate(b.events, self.frontier_us, b.end_us)
            self.frontier_us = max(self.frontier_us, b.end_us)

    def _commit(self, b: _Batch) -> None:
        """The checkpoint, after every snapshot it names; every GC_EVERY
        batches, the metadata GC."""
        with self._stage("commit"):
            self._checkpoint(b.snapshot_ids)
            if b.id > 0 and b.id % GC_EVERY == 0:
                with self._stage("gc"):
                    self._gc_metadata(b.snapshot_ids)

    def _metrics_line(self, b: _Batch, wall: float) -> dict:
        """Update the meter and append the batch's metrics.jsonl line."""
        self.meter.detected_partition_count += len(b.new_children)
        self.meter.requeried_tokens_total += len(b.requeried)
        if self.cfg.max_events_per_batch is not None:
            self.meter.event_queue_remaining_capacity = max(
                0, self.cfg.max_events_per_batch - b.events
            )
        self.meter.maintenance_queue_remaining_capacity = len(self.tables) - len(
            self._compact_futures
        )
        self.meter.batch_wall_s.add(wall)
        self.meter.watermark_lag_s.add(max(0.0, (b.end_us - self.watermark_us) / 1e6))
        metric = {
            "batch_id": b.id,
            "batch_end_us": b.end_us,
            "events": b.events,
            "mods": b.mods,
            "active_tokens": len(b.active),
            "finished": b.finished,
            "new_tokens": sorted(b.new_children),
            "watermark_us": self.watermark_us,
            "stuck_tokens": b.stuck,
            "requeried_tokens": b.requeried,
            "salted_tables": b.salted,
            "hot_share": dict(self._hot_share),
            "snapshot_id": b.snapshot_ids.get(next(iter(self.tables), None)),
            "snapshot_ids": b.snapshot_ids,
            "wall_s": round(wall, 4),
            "events_per_sec": round(b.events / wall, 2) if wall > 0 else 0.0,
            "timings": b.timings,
            "lineage": b.lineage,
            "meter": self.meter.snapshot(),
        }
        with open(self.metrics_path, "a") as f:
            f.write(json.dumps(metric) + "\n")
        return metric

    def _gc_metadata(self, snapshot_ids: dict[str, int]) -> None:
        """Bound engine checkpoints + table snapshots/files (see GC_EVERY).
        Deletes only state strictly older than the GC_KEEP horizon below
        the just-committed ids, so resume (rollback to the latest DURABLE
        checkpoint) is always satisfiable."""
        names = sorted(
            n
            for n in os.listdir(self.cfg.checkpoint_dir)
            if n.startswith("ckpt-") and n.endswith(".json")
        )
        for n in names[: -GC_KEEP]:
            os.remove(os.path.join(self.cfg.checkpoint_dir, n))
        for name, st in self.tables.items():
            floor = snapshot_ids.get(name, 0) - GC_KEEP
            if floor > 0:
                st.table.expire_snapshots(floor)

    def _merge_attempt(
        self,
        scan: DataFrame,
        name: str,
        schema: TableSchema,
        batch_id: int,
        attempt: int,
        use_salted: bool = False,
    ):
        """decode -> fold -> MERGE one table.

        Returns (snapshot_id, fold_obs). Commits a snapshot; the caller may
        roll it back (schema retry / empty slice). Building the decode and
        fold plan is its own stage, ``plan``: driver time that starts no
        Spark job.
        """
        table = self.tables[name].table
        with self._stage("plan", name):
            decoded = decode_mods(scan, schema)
            if use_salted:
                folded = fold_changes_salted(
                    decoded,
                    schema.key_columns,
                    schema.value_columns,
                    n_salts=self._salt_width,
                )
            else:
                folded = fold_changes(decoded, schema.key_columns, schema.value_columns)
            # adaptive-skew probe rides the POST-fold rows (one per key, ~10x
            # fewer than raw mods, already being written): hot share is the
            # hottest single key's fraction of the batch's mods, read straight
            # from the fold's own _n_mods aggregate — no per-raw-row work.
            fold_obs = None
            if self.cfg.skew_mode == "adaptive":
                fold_obs = Observation(f"fold-{batch_id}-{name}-a{attempt}")
                folded = folded.observe(
                    fold_obs,
                    F.max("_n_mods").alias("_max_key_mods"),
                    F.sum("_n_mods").alias("_sum_key_mods"),
                )
        sid = merge_into(
            table,
            folded,
            target_schema=schema.spark_struct(),
            summary={"batch_id": batch_id, "attempt": attempt, "table": name},
            mode=self.cfg.sink_mode,
        )
        return sid, fold_obs

    # ------------------------------------------------------------ views
    @property
    def table(self) -> LakeTable:
        """Primary (first-configured) table — single-table compatibility."""
        return self.tables[next(iter(self.tables))].table

    @property
    def schema(self) -> TableSchema:
        return self.tables[next(iter(self.tables))].schema

    def final_state(self, table: str | None = None) -> DataFrame:
        name = table or next(iter(self.tables))
        return self.tables[name].table.read().drop(CDC_TS_COL)

    def envelope_stream(self, table: str | None = None) -> DataFrame:
        """O10(a): the Debezium-envelope change stream with each record
        stamped with the engine's low watermark AS OF ITS BATCH's emission
        (the watermark computed at the END of the PREVIOUS batch, i.e. the
        value the stamp publisher held while this batch's records were
        emitted — task/LowWatermarkStampPublisher.java:23-126). Guarantees
        low_watermark_us <= commit_ts per record and monotone stamps in
        emission order (LowWatermarkRecordIT.java:49-88 invariants).

        Replays nothing: derives (batch window -> stamp) from the metrics
        journal and broadcast-joins it onto the decoded stream.
        """
        name = table or next(iter(self.tables))
        windows = []
        prev_end, prev_wm = self.start_us, self.start_us
        for m in self.metrics():
            if m["batch_end_us"] > prev_end:
                windows.append((prev_end, m["batch_end_us"], prev_wm))
            prev_end = max(prev_end, m["batch_end_us"])
            prev_wm = m["watermark_us"]
        if not windows:
            windows = [(self.start_us, self.end_us, self.start_us)]
        wdf = local_frame(self.spark, windows, "w_lo long, w_hi long, w_stamp long")
        ev = self._events_df().where(F.col("table_name") == name)
        decoded = decode_mods(ev, self.tables[name].schema, include_old=True)
        ts = F.unix_micros("commit_ts")
        joined = decoded.join(
            F.broadcast(wdf), (ts > F.col("w_lo")) & (ts <= F.col("w_hi")), "left"
        )
        from debezium_connector_spanner_spark.operators.envelope import to_envelope

        return to_envelope(
            joined,
            table_name=name,
            low_watermark_us=F.col("w_stamp"),
            read_at_timestamp_us=F.col("w_hi"),
        ).drop("w_lo", "w_hi", "w_stamp")

    def metrics(self) -> list[dict]:
        if not os.path.exists(self.metrics_path):
            return []
        with open(self.metrics_path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def metrics_summary(self) -> dict:
        """M1/M2 parity (metrics/latency/QuantileMeter.java:30-60): batch
        latency + throughput quantiles over the run."""
        ms = self.metrics()
        if not ms:
            return {}

        def q(vals, p):
            vals = sorted(vals)
            return vals[min(len(vals) - 1, int(p * len(vals)))]

        walls = [m["wall_s"] for m in ms]
        tputs = [m["events_per_sec"] for m in ms if m["events"]]
        return {
            "batches": len(ms),
            "events": sum(m["events"] for m in ms),
            "batch_wall_p50_s": q(walls, 0.50),
            "batch_wall_p95_s": q(walls, 0.95),
            "batch_tput_p50": q(tputs, 0.50) if tputs else 0,
            "batch_tput_p95": q(tputs, 0.95) if tputs else 0,
            "watermark_final_us": ms[-1]["watermark_us"],
            "stuck_token_batches": sum(1 for m in ms if m.get("stuck_tokens")),
            # M3: the full counter/gauge/sketch surface as of now
            # (SpannerMeter field list; sketch quantiles at 0.5/0.95/0.99)
            "meter": self.meter.snapshot(),
        }
