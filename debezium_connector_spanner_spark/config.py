"""Engine configuration validation (collected errors, not fail-fast).

Mirrors the reference's up-front validation layer
(/root/reference config/validation/ConfigurationValidator.java:33-59,
StartEndTimeValidator.java:21-66, FieldValidator.java:40-160,
ChangeStreamValidator.java): every rule runs, every violation is
collected with its field name + offending value, and construction fails
ONCE with the full list — misconfiguration is the first thing a real
user hits, and one-error-per-restart debugging is the failure mode this
layer exists to prevent.

The reference validates Kafka-Connect properties (connection JSON,
heartbeat interval bounds, capture mode, start/end instants, table
regexes, change-stream existence); the Spark engine's analogues are the
constructor parameters validated here (log path + wire-format stream
presence, replay window, fold/sink/sizing knobs, table filters,
checkpoint-resume compatibility), all declared once in ``EngineConfig``.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

# FieldValidator.java message constants, kept verbatim where the rule
# maps one-to-one
FIELD_NOT_SPECIFIED_MSG = "The field is not specified"
PATH_FIELD_INCORRECT_MSG = "path field is incorrect"
END_AFTER_START_MSG = "End time must be after start time"

WIRE_FORMATS = ("struct", "pg_json", "proto")
WIRE_LOG_DIR = {"struct": "events", "pg_json": "events_pg", "proto": "events_proto"}
SINK_MODES = ("mor", "cow")
SKEW_MODES = ("adaptive", "fused", "salted")
STUCK_POLICIES = ("metric", "requery", "fail")


@dataclass(frozen=True)
class ConfigError:
    field: str
    value: object
    message: str

    def __str__(self) -> str:  # the line format users read in the raise
        return f"{self.field}={self.value!r}: {self.message}"


class ConfigValidationError(ValueError):
    """All violations at once (ConfigurationValidator collects results
    per field into one Config object rather than raising on the first)."""

    def __init__(self, errors: list[ConfigError]):
        self.errors = errors
        lines = "\n  ".join(str(e) for e in errors)
        super().__init__(f"{len(errors)} invalid engine config value(s):\n  {lines}")


def _enum(errors, field, value, allowed):
    if value not in allowed:
        errors.append(ConfigError(field, value, f"must be one of {allowed}"))


def _at_least(errors, field, value, floor, allow_none=False):
    if value is None:
        if not allow_none:
            errors.append(ConfigError(field, value, FIELD_NOT_SPECIFIED_MSG))
        return
    if not isinstance(value, int) or isinstance(value, bool) or value < floor:
        errors.append(ConfigError(field, value, f"must be an integer >= {floor}"))


def _regex(errors, field, value):
    if value is None:
        return
    try:
        re.compile(value)
    except re.error as e:
        errors.append(ConfigError(field, value, f"not a valid regex: {e}"))


@dataclass(frozen=True)
class EngineConfig:
    """Every ``CdcReplayEngine`` option, declared once: name, default and
    the reason it exists. ``validate`` holds every rule."""

    events_path: str
    table_root: str
    checkpoint_dir: str
    start_us: int
    end_us: int
    # fixed replay windows over [start_us, end_us] (K3 sizing may split
    # them further, see max_events_per_batch)
    n_batches: int = 8
    # key-hash buckets of each new sink table, fixed when the table is
    # created
    n_buckets: int = 16
    # 'mor' appends folded delta files and compacts them in the
    # maintenance lane; 'cow' rewrites every bucket per batch. Each is
    # the other's check in the tests.
    sink_mode: str = "mor"
    # 'adaptive': per batch per table, pick the fused single-shuffle fold
    # unless the previous batch OBSERVED a hot key (one key holding >=
    # engine.SKEW_THRESHOLD of the records), in which case the two-phase
    # salted fold runs. 'fused' / 'salted' pin the strategy; 'fused' is
    # the tests' reference fold. Reference parity: dynamic load
    # rebalancing, task/leader/rebalancer/TaskPartitionEqualSharingRebalancer.java:40-80.
    skew_mode: str = "adaptive"
    # D10 table routing regexes (config/SpannerTableFilter.java:23-38);
    # include wins over exclude
    table_include: str | None = None
    table_exclude: str | None = None
    # K3 batch sizing: windows sized from a checkpointed events/µs rate
    # model so batch cost stays bounded as the input grows. None = the
    # fixed n_batches windows.
    max_events_per_batch: int | None = None
    # O7/O8 action on a stuck partition: 'metric' records only,
    # 'requery' re-scans the window, 'fail' raises (the reference's
    # watchdog escalation)
    stuck_policy: str = "metric"
    # D1/D2 wire shape: 'struct' (canonical columnar log), 'pg_json'
    # (PostgreSQL-dialect one-JSON-document-per-record log under
    # events_pg/, decoded via sources/pg_json.py), or 'proto'
    # (serialized proto3 records under events_proto/, decoded via
    # sources/proto_wire.py). Everything past the wire decode is
    # format-independent.
    wire_format: str = "struct"

    def validate(self, tables: dict | None, checkpoint: dict | None) -> list[ConfigError]:
        """Every rule, every violation; [] means the config is valid.

        ``tables`` is the engine's table map (None/empty on a resume that
        takes its schemas from the checkpoint); ``checkpoint`` is the
        latest persisted engine state if the checkpoint_dir already holds
        one (resume), else None (fresh start).
        """
        errors: list[ConfigError] = []

        # --- paths / stream existence (ConnectionValidator +
        # ChangeStreamValidator: the stream must exist before streaming) ---
        ev = self.events_path
        if not ev:
            errors.append(ConfigError("events_path", ev, FIELD_NOT_SPECIFIED_MSG))
        elif not os.path.isdir(ev):
            errors.append(ConfigError("events_path", ev, PATH_FIELD_INCORRECT_MSG))
        if not self.checkpoint_dir:
            errors.append(
                ConfigError("checkpoint_dir", self.checkpoint_dir, FIELD_NOT_SPECIFIED_MSG)
            )

        wire = self.wire_format
        _enum(errors, "wire_format", wire, WIRE_FORMATS)
        if (
            ev
            and os.path.isdir(ev)
            and wire in WIRE_LOG_DIR
            and not os.path.isdir(os.path.join(ev, WIRE_LOG_DIR[wire]))
        ):
            errors.append(
                ConfigError(
                    "events_path",
                    ev,
                    f"no '{WIRE_LOG_DIR[wire]}/' log for "
                    f"wire_format={wire!r} (change stream does not exist)",
                )
            )

        # --- replay window (StartEndTimeValidator.java:44) ---
        start_us, end_us = self.start_us, self.end_us
        for f, v in (("start_us", start_us), ("end_us", end_us)):
            if not isinstance(v, int) or isinstance(v, bool):
                errors.append(ConfigError(f, v, "must be an integer epoch-microseconds"))
            elif v < 0:
                errors.append(ConfigError(f, v, "must be >= 0 (pre-1970 not supported)"))
        if isinstance(start_us, int) and isinstance(end_us, int) and end_us <= start_us:
            errors.append(ConfigError("end_us", end_us, END_AFTER_START_MSG))

        # --- enums ---
        _enum(errors, "sink_mode", self.sink_mode, SINK_MODES)
        _enum(errors, "skew_mode", self.skew_mode, SKEW_MODES)
        _enum(errors, "stuck_policy", self.stuck_policy, STUCK_POLICIES)

        # --- numeric bounds ---
        _at_least(errors, "n_batches", self.n_batches, 1)
        _at_least(errors, "n_buckets", self.n_buckets, 1)
        _at_least(
            errors, "max_events_per_batch", self.max_events_per_batch, 1, allow_none=True
        )

        # --- table filters (SpannerTableFilter regex config) ---
        _regex(errors, "table_include", self.table_include)
        _regex(errors, "table_exclude", self.table_exclude)

        # --- fresh vs resume ---
        if checkpoint is None:
            if not tables:
                errors.append(
                    ConfigError(
                        "tables",
                        tables,
                        "initial_schema or tables required for a fresh engine",
                    )
                )
        else:
            # checkpoint-dir compatibility: resuming under a different wire
            # dialect would replay different byte logs against committed
            # offsets; refuse up front (older checkpoints lack the field)
            ck_wire = checkpoint.get("wire_format")
            if ck_wire is not None and ck_wire != wire:
                errors.append(
                    ConfigError(
                        "wire_format",
                        wire,
                        f"checkpoint at {self.checkpoint_dir!r} was written with "
                        f"wire_format={ck_wire!r}",
                    )
                )
            if tables:
                ck_tables = set(checkpoint.get("tables", {}))
                extra = sorted(set(tables) - ck_tables)
                if extra:
                    errors.append(
                        ConfigError(
                            "tables",
                            extra,
                            "not present in the resumed checkpoint "
                            f"(checkpointed tables: {sorted(ck_tables)})",
                        )
                    )
        return errors
