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
   partitions, end markers) and the distinct data-row schemas while the
   merges consume the scan — one log scan per batch, like the
   reference's single change-stream query (db/dao/ChangeStreamDao.java:
   65-84). The driver derives per-token progress from it, which drives
   offsets, heartbeat handling (K2) and per-partition lineage (M1/M3).
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
   (offsets, DAG state, per-table schema version + snapshot id), each
   metadata file via ``atomic_write`` (temp file, fsync, rename, directory
   fsync). On resume, any snapshot newer than the checkpoint is rolled
   back -> exactly-once (replaces FinishingPartitionManager.java:55-114).
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

Every caller-facing option is declared once, with its default and reason,
in ``config.EngineConfig``; tuning numbers no caller sets are the module
constants below.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
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
# orphans + pre-compaction deltas). GC_KEEP >= 2 guarantees the resume
# target always survives a crash with the newest checkpoint write still
# in flight.
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
        # async-compaction maintenance lane: one background driver thread
        # runs compact_prepare's Spark job; the commit stays in the loop.
        # Created lazily (only mor uses it) and shut down at the end of
        # run() so no non-daemon thread outlives the engine.
        self._maint_pool = None
        self._compact_futures: dict[str, object] = {}
        # serial checkpoint writer: the JSON dump + renames happen off the
        # batch loop; single worker preserves write order, run() joins it
        self._ckpt_pool = None
        self._ckpt_future = None
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
        if tables is None:
            if initial_schema is not None:
                tables = {initial_schema.table: (initial_schema, base_df)}
            else:
                tables = {}

        ckpt = self._load_latest_checkpoint()
        # collected-errors validation BEFORE any side effect (table
        # create / checkpoint write): every violation reported at once
        # (config/validation/ConfigurationValidator.java:33-59)
        cfg_errors = self.cfg.validate(tables, ckpt)
        if cfg_errors:
            raise ConfigValidationError(cfg_errors)
        os.makedirs(checkpoint_dir, exist_ok=True)
        if ckpt is None:
            self._primary = next(iter(tables))
            self.start_us, self.end_us = start_us, end_us
            self.n_batches = self.cfg.n_batches
            self.batch_id = -1
            self.frontier_us = start_us
            self.tokens: dict[str, TokenState] = {
                INITIAL_PARTITION_TOKEN: TokenState(
                    INITIAL_PARTITION_TOKEN, [], start_us, READY, None
                )
            }
            self.tables: dict[str, TableState] = {}
            for name, (schema, bdf) in tables.items():
                self.tables[name] = TableState(
                    schema,
                    LakeTable.create(
                        spark,
                        self._table_path(name),
                        schema.spark_struct(),
                        schema.key_columns,
                        n_buckets=self.cfg.n_buckets,
                        initial_df=bdf,
                        overwrite=False,
                    ),
                )
            self.watermark_us = start_us
            self._checkpoint(self._snapshot_ids())
        else:
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
                lake = LakeTable(spark, self._table_path(name))
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
        self.metrics_path = os.path.join(checkpoint_dir, "metrics.jsonl")
        # M1-M3 counter/gauge/sketch surface (SpannerMeter.java:298-384);
        # snapshots ride every metrics jsonl line
        from debezium_connector_spanner_spark.streaming.meter import EngineMeter

        self.meter = EngineMeter()
        self.meter.event_queue_total_capacity = self.cfg.max_events_per_batch
        # Scale-adaptive scan split size (guide §2.2/§6.1): a fixed split
        # size cannot serve both ends — a batch window scans ~log_bytes/
        # n_batches, and the split size should put ~4 task waves on the
        # cores working on THAT volume. At sf0.1 (1.3GB log, 8 batches)
        # this lands on the session's 2MB floor (the swept local optimum);
        # at sf1 (13.4GB) a 2MB split spawns ~6,600 tasks per scan of
        # which >90% own no row group — measured 6.8s vs 0.4s for the SAME
        # pruned window at 13/32MB splits (the split-size sweep recorded
        # in OPTIMIZATION_r06.md). The value is derived from input size
        # and core count, never a constant tuned to one scale; _run() sets
        # it for the replay's jobs and close() restores the session
        # default. Validation guarantees the log dir exists; an empty log
        # keeps the session default.
        ev_dir = os.path.join(self.cfg.events_path, WIRE_LOG_DIR[self.cfg.wire_format])
        total = sum(
            os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(ev_dir) for f in fs
        )
        self._scan_split_bytes = None
        if total:
            cores = max(1, spark.sparkContext.defaultParallelism)
            per_batch = total / max(1, self.n_batches)
            self._scan_split_bytes = int(
                min(max(per_batch / (4 * cores), 2 * 1024 * 1024), 64 * 1024 * 1024)
            )
        self._prev_confs: dict[str, str | None] | None = None

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

    def _maint_compact_prepare(self, table, base_sid):
        # Runs on the maintenance-lane thread. That thread was spawned from
        # the batch loop, so it INHERITED the 'ingest' scheduler pool
        # (InheritableThreadLocal) — override to the low-weight 'maint'
        # pool so the compaction fold backfills stage-tail idle cores
        # instead of competing with batch jobs (see fair_pools.xml).
        self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", "maint")
        return table.compact_prepare(base_sid)

    def _pool(self, attr: str, prefix: str):
        pool = getattr(self, attr)
        if pool is None:
            from concurrent.futures import ThreadPoolExecutor

            pool = ThreadPoolExecutor(max_workers=1, thread_name_prefix=prefix)
            setattr(self, attr, pool)
        return pool

    def close(self) -> None:
        """Join the checkpoint writer and stop the maintenance lane. Safe
        to call repeatedly; run() calls it on every exit path."""
        if self._ckpt_future is not None:
            self._ckpt_future.result()
            self._ckpt_future = None
        for attr in ("_ckpt_pool", "_maint_pool"):
            pool = getattr(self, attr)
            if pool is not None:
                pool.shutdown(wait=True, cancel_futures=True)
                setattr(self, attr, None)
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
        path = self._ckpt_path(self.batch_id)
        # the state dict is fully materialized here (no shared mutable
        # refs), so the serialization + atomic renames can run on the
        # writer thread. Exactly-once is unaffected: data commits still
        # strictly precede their checkpoint; a crash before the write
        # lands just resumes one batch earlier (rollback + idempotent
        # re-apply). run()/close() join the writer, so by the time a
        # caller can construct a resumed engine the file is durable.
        if self._ckpt_future is not None:
            self._ckpt_future.result()  # keep ordering + surface errors
        self._ckpt_future = self._pool("_ckpt_pool", "cdc-ckpt").submit(
            self._write_checkpoint, state, path
        )

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
            # join the checkpoint writer + stop the maintenance lane on
            # EVERY exit path (incl. raise with a compact_prepare in
            # flight) — no leaked threads, no unjoined background job
            self.close()

    def _run(self, max_batches: int | None = None) -> dict:
        # batch jobs (the per-table merges) run in the high-weight ingest pool;
        # per-batch worker threads inherit this via InheritableThreadLocal.
        # The maintenance lane overrides to 'maint' in its own thread.
        self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", "ingest")
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

        def step(batch_end_us: int) -> None:
            nonlocal done
            m = self._run_batch(self.batch_id + 1, batch_end_us)
            totals["events"] += m["events"]
            totals["mods"] += m["mods"]
            totals["wall_s"] += m["wall_s"]
            done += 1

        while self.frontier_us < self.end_us:
            if max_batches is not None and done >= max_batches:
                break
            active = self._gate()
            step(self._size_batch(active, self._next_boundary()))

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

    def _run_batch(self, batch_id: int, batch_end_us: int) -> dict:
        # Balance the M3 active-queries gauge when the batch aborts
        # between on_query() and on_query_done() (stuck_policy='fail'
        # raise, failed schema retry, merge error): the gauge is a
        # per-batch 0/1, so an abort mid-window must decrement it or the
        # final metrics line reports a phantom in-flight query.
        issued0 = self.meter.queries_issued_total
        try:
            return self._run_batch_impl(batch_id, batch_end_us)
        except BaseException:
            if self.meter.active_queries and self.meter.queries_issued_total > issued0:
                self.meter.on_query_done()
            raise

    def _run_batch_impl(self, batch_id: int, batch_end_us: int) -> dict:
        t0 = time.monotonic()
        timings: dict[str, float] = {}
        active = self._gate()
        scan = self._active_scan(active, batch_end_us) if active else None
        if scan is not None:
            self.meter.on_query()  # one change-stream query per batch window

        events = 0
        mods = 0
        lineage = []
        new_children: dict[str, tuple[list[str], int]] = {}
        finished: list[str] = []
        salted_used: list[str] = []
        snapshot_ids = self._snapshot_ids()

        if scan is not None:
            from concurrent.futures import ThreadPoolExecutor

            from pyspark.sql import Observation

            t_stage = time.monotonic()
            # --- progress + schema observation, riding the merge scan.
            # It sits below the D10 filter, the per-table filters and the
            # DATA_CHANGE filter (Catalyst does not push filters through
            # CollectMetrics), so it sees every row of the pruned window:
            # the control rows (heartbeats / child partitions / end
            # markers, ~2% of records) and the distinct data-row
            # (table, column_types) pairs. Each merge's first action is a
            # whole-scan write (merge_into takes every bucket), so the
            # observation is complete when the merges return (an empty
            # slice included: _run turns off AQE's empty-stage pruning). ---
            is_data = F.col("record_type") == DATA_CHANGE
            scan_obs = Observation(f"scan-{batch_id}")
            scan = scan.observe(
                scan_obs,
                F.collect_list(
                    F.when(
                        ~is_data,
                        F.struct(
                            "partition_token",
                            "record_type",
                            F.unix_micros("commit_ts").alias("ts_us"),
                            "child_partitions",
                        ),
                    )
                ).alias("ctrl"),
                F.collect_set(
                    F.when(
                        is_data,
                        F.struct(
                            F.col("table_name").alias("tbl"),
                            F.col("column_types").alias("cols"),
                        ),
                    )
                ).alias("schemas"),
            )
            # OPTIMISTIC decode: each per-table merge decodes with the
            # table's CURRENT schema; if the observation then reveals new
            # column_types for a table, that table's optimistic snapshot is
            # rolled back and re-merged with the evolved schema — exactly
            # the reference's cache-invalidate-and-retry
            # (db/metadata/SchemaRegistry.java:78-86), paid only on the
            # rare schema-change batch.
            data_scan = self._data_scan(scan)
            cached = None
            if len(self.tables) > 1:
                # one physical scan for N tables: persist the slim decode
                # projection (bounded by max_events_per_batch) instead of
                # re-reading the log once per table — table_name row-group
                # stats can't prune (tables interleave within a token file)
                cached = data_scan.where(
                    F.col("record_type") == DATA_CHANGE
                ).select(
                    "partition_token",
                    "commit_ts",
                    "record_sequence",
                    "server_txn_id",
                    "table_name",
                    "mod_type",
                    "value_capture_type",
                    "column_types",
                    "mods",
                ).persist()
                data_scan = cached
            try:
                merge_tables = [n for n in self.tables if self._table_allowed(n)]
                if cached is not None or not merge_tables:
                    # one whole-scan action completes the observation: it
                    # builds the shared cache before the concurrent merges read
                    # it (a merge could otherwise finish on a partition another
                    # merge cached but has not yet reported), or, when D10
                    # leaves no table to merge, it is the batch's only read
                    data_scan.write.format("noop").mode("overwrite").save()
                prev_sids = dict(snapshot_ids)
                schemas_used = {n: st.schema for n, st in self.tables.items()}
                # C3 adaptive skew: choose this batch's fold shape per table
                # from the key-hash histogram the PREVIOUS batch observed
                salted_tables = {
                    n: (
                        self.cfg.skew_mode == "salted"
                        or (
                            self.cfg.skew_mode == "adaptive"
                            and self._hot_share.get(n, 0.0) >= SKEW_THRESHOLD
                        )
                    )
                    for n in self.tables
                }
                salted_used = sorted(n for n, v in salted_tables.items() if v)
                attempts: dict[str, tuple] = {}
                with ThreadPoolExecutor(max_workers=max(1, len(merge_tables))) as ex:
                    def _timed(fn, *a):
                        s0 = time.monotonic()
                        out = fn(*a)
                        return out, round(time.monotonic() - s0, 3)

                    merge_futures = {
                        n: ex.submit(
                            _timed,
                            self._merge_attempt,
                            data_scan.where(F.col("table_name") == n),
                            n,
                            schemas_used[n],
                            batch_id,
                            active,
                            0,
                            salted_tables[n],
                        )
                        for n in merge_tables
                    }
                    for n, fut in merge_futures.items():
                        attempts[n], t_merge = fut.result()
                        timings[f"merge_{n}_s"] = t_merge
                timings["overlap_s"] = round(time.monotonic() - t_stage, 3)
                seen = scan_obs.get

                # merge observed schemas per table (additive, widening)
                observed: dict[str, set] = {}
                for s in seen["schemas"]:
                    if s["tbl"] in self.tables and s["cols"] and self._table_allowed(s["tbl"]):
                        observed.setdefault(s["tbl"], set()).add(s["cols"])
                for name, col_jsons in sorted(observed.items()):
                    st = self.tables[name]
                    for s_json in sorted(col_jsons):
                        incoming = TableSchema.from_column_types_json(name, s_json)
                        st.schema = merge_schemas(st.schema, incoming)

                # resolve each table's optimistic attempt
                tables_with_data = set(observed)
                for name, st in self.tables.items():
                    if name not in attempts:  # filtered out by D10: untouched
                        continue
                    opt_sid, opt_obs, per_token, _fold_obs = attempts[name]
                    if name not in tables_with_data:
                        # optimistic merge ran on an empty slice: discard the
                        # empty snapshot (pointer flip; orphan files are inert)
                        if opt_sid != prev_sids[name]:
                            st.table.rollback(prev_sids[name])
                        attempts[name] = (prev_sids[name], None, per_token, None)
                    elif (
                        st.schema.column_types_json()
                        != schemas_used[name].column_types_json()
                    ):
                        # schema evolved mid-batch: invalidate and retry with
                        # the merged schema so the new columns are decoded
                        self.meter.schema_retries_total += 1
                        st.table.rollback(prev_sids[name])
                        t_retry = time.monotonic()
                        attempts[name] = self._merge_attempt(
                            data_scan.where(F.col("table_name") == name),
                            name,
                            st.schema,
                            batch_id,
                            active,
                            attempt=1,
                            use_salted=salted_tables[name],
                        )
                        timings["schema_retry_s"] = round(time.monotonic() - t_retry, 3)
                    snapshot_ids[name] = attempts[name][0]
            finally:
                # release the shared slice also when a merge or a schema
                # retry raises: the session outlives the batch
                if cached is not None:
                    cached.unpersist()

            # per-token progress from the control rows. Set semantics for
            # end markers and child announcements: a duplicated control
            # row cannot change DAG state.
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
            finished = sorted(ended)
            # O3 dedup: register each child once, whichever parent
            # announced it (O2 merge-owner collapses under one driver)
            for start_us, tok, parents in sorted(announced):
                if tok not in self.tokens and tok not in new_children:
                    new_children[tok] = (list(parents), start_us)

            # --- harvest the data-pass observations (per-token lineage
            # rode along with the merge jobs; no extra Spark job) ---
            data_counts: dict[str, int] = {}
            data_max_ts: dict[str, int] = {}
            for name in attempts:
                opt_sid, opt_obs, per_token, fold_obs = attempts[name]
                if opt_obs is None:
                    continue
                got = opt_obs.get
                mods += got["_n_rec_total"]
                if fold_obs is not None:
                    fg = fold_obs.get
                    if fg.get("_sum_key_mods"):
                        self._hot_share[name] = round(
                            (fg.get("_max_key_mods") or 0)
                            / fg["_sum_key_mods"],
                            4,
                        )
                for i, tok in enumerate(per_token):
                    if got[f"_n_{i}"]:
                        data_counts[tok] = data_counts.get(tok, 0) + got[f"_n_{i}"]
                        data_max_ts[tok] = max(
                            data_max_ts.get(tok, 0), got[f"_ts_{i}"] or 0
                        )
            self.meter.on_query_done()
            if data_max_ts:
                # getDelayChangeStreamEvents analogue: how far behind the
                # batch window's end the freshest observed event sits
                self.meter.delay_change_stream_events_s.add(
                    max(0.0, (batch_end_us - max(data_max_ts.values())) / 1e6)
                )
            # MOR compaction: bound read-time delta depth; amortizes the
            # rewrite across COMPACT_EVERY batches (O13-adjacent state
            # bounding for the data files themselves). Maintenance-lane
            # shape: the fold + file write runs as a concurrent Spark job
            # in a driver maintenance thread against an immutable
            # snapshot, and only the metadata rebase-commit happens here
            # in the (single-threaded) batch loop — the ingest path never
            # stalls on a table rewrite, exactly like Iceberg
            # rewrite_data_files / Delta OPTIMIZE running beside the stream.
            if self.cfg.sink_mode == "mor":
                for name, st in self.tables.items():
                    fut = self._compact_futures.get(name)
                    if fut is not None and fut.done():
                        del self._compact_futures[name]
                        prep = fut.result()  # surfaces worker errors
                        if prep is not None:
                            t_stage = time.monotonic()
                            snapshot_ids[name] = st.table.compact_apply(
                                prep, summary={"batch_id": batch_id}
                            )
                            timings["compact_apply_s"] = round(
                                time.monotonic() - t_stage, 3
                            )
                    elif fut is None and st.table.delta_depth() >= COMPACT_EVERY:
                        self._compact_futures[name] = self._pool(
                            "_maint_pool", "cdc-maint"
                        ).submit(
                            self._maint_compact_prepare,
                            st.table,
                            st.table.current_snapshot_id(),
                        )
                        timings["compact_submitted"] = 1.0

            for tok in active:
                n_c = n_ctrl.get(tok, 0)
                n_d = data_counts.get(tok, 0)
                if n_c or n_d:
                    lineage.append(
                        {
                            "token": tok,
                            "events": n_c + n_d,
                            "data": n_d,
                            "heartbeats": n_hb.get(tok, 0),
                            "max_ts_us": max(
                                ctrl_max_ts.get(tok, 0), data_max_ts.get(tok, 0)
                            ),
                        }
                    )
            # global counters stay exact even past the per-token
            # observation cap (lineage is then control-rows-only)
            events = sum(n_ctrl.values()) + mods

        # O7/O8 liveness: flag active partitions with no progress
        progressed = {ln["token"] for ln in lineage}
        stuck = []
        for tok in active:
            if tok in progressed or tok in finished:
                self._stale_counts.pop(tok, None)
            else:
                n = self._stale_counts.get(tok, 0) + 1
                self._stale_counts[tok] = n
                if n >= self.max_stale_batches:
                    stuck.append(tok)

        # watchdog actions (O7/O8)
        requeried: list[str] = []
        self.meter.stuck_heartbeat_intervals += len(stuck)
        if stuck and self.cfg.stuck_policy == "fail":
            over = [t for t in stuck if self._stale_counts[t] >= 2 * self.max_stale_batches]
            if over:
                self.meter.on_error()
                raise RuntimeError(
                    f"stuck partitions exceeded watchdog threshold: {sorted(over)}"
                )

        # state transitions AFTER the data commit (O6 happens-before)
        for tok, (parents, start_us) in new_children.items():
            self.tokens[tok] = TokenState(tok, parents, start_us, CREATED, None)
        for t in active:
            if (
                self.cfg.stuck_policy == "requery"
                and t in stuck
                and self._stale_counts.get(t, 0) < 2 * self.max_stale_batches
            ):
                requeried.append(t)  # hold offset: re-scan the window
                continue
            self.tokens[t].offset_us = batch_end_us
        for t in finished:
            self.tokens[t].state = FINISHED

        # O9 low watermark: min over non-finished of coalesce(offset, start)
        live = [s for s in self.tokens.values() if s.state != FINISHED]
        self.watermark_us = (
            min((s.offset_us if s.offset_us is not None else s.start_us) for s in live)
            if live
            else batch_end_us
        )
        # O13 GC: drop FINISHED tokens none of whose live tokens reference
        referenced = {p for s in self.tokens.values() for p in s.parents if s.state != FINISHED}
        for t in [
            t
            for t, s in self.tokens.items()
            if s.state == FINISHED and t not in referenced and t != INITIAL_PARTITION_TOKEN
        ]:
            # keep bounded at 10^10 scale; safe because gate treats unknown
            # parents as finished ("no parent exists anymore")
            del self.tokens[t]

        self.batch_id = batch_id
        self._observe_rate(events, self.frontier_us, batch_end_us)
        self.frontier_us = max(self.frontier_us, batch_end_us)
        self._checkpoint(snapshot_ids)
        if batch_id > 0 and batch_id % GC_EVERY == 0:
            t_stage = time.monotonic()
            self._gc_metadata(snapshot_ids)
            timings["gc_s"] = round(time.monotonic() - t_stage, 3)

        wall = time.monotonic() - t0
        self.meter.detected_partition_count += len(new_children)
        self.meter.requeried_tokens_total += len(requeried)
        if self.meter.schema_retries_total and "schema_retry_s" in timings:
            self.meter.on_error()  # retried attempt counts as one error
        if self.cfg.max_events_per_batch is not None:
            self.meter.event_queue_remaining_capacity = max(
                0, self.cfg.max_events_per_batch - events
            )
        self.meter.maintenance_queue_remaining_capacity = len(self.tables) - len(
            self._compact_futures
        )
        self.meter.batch_wall_s.add(wall)
        self.meter.watermark_lag_s.add(
            max(0.0, (batch_end_us - self.watermark_us) / 1e6)
        )
        primary = next(iter(self.tables), None)
        metric = {
            "batch_id": batch_id,
            "batch_end_us": batch_end_us,
            "events": events,
            "mods": mods,
            "active_tokens": len(active),
            "finished": finished,
            "new_tokens": sorted(new_children),
            "watermark_us": self.watermark_us,
            "stuck_tokens": stuck,
            "requeried_tokens": requeried,
            "salted_tables": salted_used,
            "hot_share": dict(self._hot_share),
            "snapshot_id": snapshot_ids.get(primary),
            "snapshot_ids": snapshot_ids,
            "wall_s": round(wall, 4),
            "events_per_sec": round(events / wall, 2) if wall > 0 else 0.0,
            "timings": timings,
            "lineage": lineage,
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
        active: list[str],
        attempt: int,
        use_salted: bool = False,
    ):
        """decode -> fold -> MERGE one table with per-token lineage
        Observation.

        Returns (snapshot_id, observation, per_token_list, fold_obs).
        Commits a snapshot; the caller may roll it back (schema retry /
        empty slice).
        """
        from pyspark.sql import Observation

        table = self.tables[name].table
        decoded = decode_mods(scan, schema)
        obs = Observation(f"batch-{batch_id}-{name}-a{attempt}")
        is_rec = F.col("mod_number") == 0  # 1 per record, not per mod
        obs_aggs = [
            F.count(F.lit(1)).alias("_n_mods_total"),
            F.sum(F.when(is_rec, 1).otherwise(0)).alias("_n_rec_total"),
        ]
        # per-token lineage rides along when the active set is small;
        # beyond the cap only global counters are observed
        per_token = active if len(active) <= 64 else []
        for i, tok in enumerate(per_token):
            cond = F.col("partition_token") == tok
            obs_aggs.append(F.sum(F.when(cond & is_rec, 1).otherwise(0)).alias(f"_n_{i}"))
            obs_aggs.append(F.max(F.when(cond, F.col("seq.ts"))).alias(f"_ts_{i}"))
        decoded = decoded.observe(obs, *obs_aggs)

        if use_salted:
            from debezium_connector_spanner_spark.operators.merge import (
                fold_changes_salted,
            )

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
        return sid, obs, per_token, fold_obs

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
