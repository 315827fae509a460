"""LakeTable — a minimal snapshot-versioned, bucketed parquet table.

The sandbox has no Iceberg/Delta jars, so we implement the subset of
lake-table semantics the CDC sink needs, with the same scale properties:

- **Atomic snapshot commits**: data files are written under unique
  snapshot dirs; a snapshot manifest (JSON) lists base files per
  key-bucket and merge-on-read delta files once, in one top-level list;
  the manifest and then the CURRENT pointer are each written with
  ``atomic_write`` (temp file, fsync, ``os.replace``, directory fsync). A
  crashed writer leaves orphan files that are never referenced
  (exactly-once).
- **Bucketed copy-on-write MERGE**: rows are hash-bucketed on the primary
  key, and a copy-on-write commit rewrites every bucket: O(table) per
  batch, where a merge-on-read delta costs O(delta).
- **Unbucketed merge-on-read deltas**: a delta commit writes one file per
  fold output partition and names each file once, in the manifest's
  ``deltas`` list, as Iceberg lists a data file once with its partition
  tuple. Base files, written by create, copy-on-write and compaction,
  stay one file per bucket; ``n_buckets`` is fixed when the table is
  created. Every read takes the whole table.
- **Additive schema evolution with cast-on-read**: each data file group
  records its schema id; reads group files by schema id and cast-union to
  the current schema (add column -> null backfill, INT64->FLOAT64 widen),
  mirroring Iceberg metadata-only evolution and the reference's additive
  SchemaMerger semantics (/root/reference
  db/metadata/SchemaMerger.java:24-53).
- **Snapshot rollback** for resume-from-checkpoint: the engine records
  the committed snapshot id in its checkpoint; on restart any newer
  (uncheckpointed) snapshot is discarded.
- **Cheap, reused merge-on-read plans**: ``read()`` builds its plan from
  SQL strings, a few hundred JVM calls rather than one per column
  expression node, and launches no Spark job; the plan is reused while
  its snapshot's manifest stays cached (see ``read()``).

Parity notes: replaces the reference's Kafka sink + Connect offset
storage (processor/SpannerEventDispatcher.java:45-87,
context/offset/PartitionOffset.java:19-53) with lake-native equivalents.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_connector_spanner_spark.session import local_frame

BUCKET_COL = "__bucket"
CDC_TS_COL = "__cdc_ts"
_LONG_MIN = -(1 << 63)
# manifests (and the read plans built on them) kept per LakeTable
_CACHE_MAX = 16
# paths per parquet() call. Spark lists more root paths than
# spark.sql.sources.parallelPartitionDiscovery.threshold (default 32) with
# a Spark job: a 64-bucket table's read built in 1.4-1.7 s with one
# listing job per file group, 0.4-0.55 s in 32-path chunks (local[4],
# local disk)
_SCAN_PATHS_MAX = 32

# fold flags carried by merge-on-read delta files (see commit_delta)
DELTA_FLAG_FIELDS = [
    T.StructField("_is_delete", T.BooleanType(), True),
    T.StructField("_had_delete", T.BooleanType(), True),
]


def _set_flag_fields(schema: T.StructType, key_cols: list[str]) -> list[T.StructField]:
    """Per-value-column written flags persisted with each delta row: True
    when the batch wrote the column (possibly to an explicit NULL). Old
    delta files without them read as NULL and fall back to value-non-null."""
    return [
        T.StructField(f"__set_{f.name}", T.BooleanType(), True)
        for f in schema.fields
        if f.name not in key_cols and f.name != CDC_TS_COL
    ]


def _normalize(snap: dict) -> dict:
    """A manifest in the current layout: ``buckets`` maps a bucket to its
    base files ``[path, schema_id, 0, "base", commit_sid]`` and ``deltas``
    lists each merge-on-read delta file once as ``[path, schema_id, rank,
    commit_sid]``. Old manifests may carry a sixth field, ``n_write``, the
    bucket count a file was written under, and may list a base file under
    several buckets after a bucket-count doubling; reads ignore the field
    and dedup the paths.

    Older manifests listed deltas under ``buckets``, each file under every
    bucket (6 fields, ``n_write`` 1) or, before that, under its own key
    bucket (5 fields); they move to ``deltas``, deduplicated by path. A
    manifest with nothing to move is returned as is; otherwise a new dict
    is returned, so a cached manifest is never mutated."""
    moved = [e for fs in snap["buckets"].values() for e in fs if e[3] == "delta"]
    if not moved and "deltas" in snap:
        return snap
    deltas = list(snap.get("deltas", []))
    seen = {d[0] for d in deltas}
    for rel, sch_id, rank, _kind, csid, *_ in moved:
        if rel not in seen:
            seen.add(rel)
            deltas.append([rel, sch_id, rank, csid])
    buckets = {b: [e for e in fs if e[3] != "delta"] for b, fs in snap["buckets"].items()}
    return {**snap, "buckets": buckets, "deltas": deltas}


def atomic_write(path: str, data: str) -> None:
    """Durably replace ``path`` with ``data``: write a temp file beside it,
    fsync it, rename it over ``path``, then fsync the directory so the
    rename itself survives a power loss. A crash leaves the old file or
    the new one, never a torn one; the temp name (dot-prefixed) matches
    no metadata pattern, so a leftover is inert."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "w") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    dfd = os.open(d or ".", os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def bucket_sql(key_cols: list[str], n_buckets: int) -> str:
    """Stable key->bucket hash as SQL. xxhash64 is deterministic across
    sessions and executors; the NUL separator (chr(0)) avoids ('ab','c')
    vs ('a','bc') collisions."""
    keys = ", ".join(_q(c) for c in key_cols)
    return f"CAST(pmod(xxhash64(concat_ws(chr(0), {keys})), {n_buckets}) AS INT)"


class LakeTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # committed snapshot manifests are immutable -> cache the parsed
        # JSON per sid so the per-batch bookkeeping (delta_depth, commit,
        # read) costs a dict lookup, not a reparse that grows with the
        # table's files. Bounded: the lowest sids fall out.
        self._snap_cache: dict[int, dict] = {}
        # read() plans: sid -> (manifest, DataFrame); an entry lives no
        # longer than its manifest's cache entry (see read())
        self._plans: dict[int, tuple[dict, DataFrame]] = {}
        # the maintenance lane reads from its own thread
        self._lock = threading.Lock()

    # ------------------------------------------------------------- meta
    @property
    def _meta_dir(self) -> str:
        return os.path.join(self.root, "_meta")

    def _snap_path(self, sid: int) -> str:
        return os.path.join(self._meta_dir, f"snap-{sid:08d}.json")

    def current_snapshot_id(self) -> int:
        with open(os.path.join(self._meta_dir, "CURRENT")) as f:
            return int(f.read().strip())

    def snapshot(self, sid: int | None = None) -> dict:
        if sid is None:
            sid = self.current_snapshot_id()
        with self._lock:
            snap = self._snap_cache.get(sid)
        if snap is None:
            with open(self._snap_path(sid)) as f:
                snap = _normalize(json.load(f))
            self._cache_snap(sid, snap)
        return snap

    def _cache_snap(self, sid: int, snap: dict) -> None:
        with self._lock:
            self._forget(sid)
            self._snap_cache[sid] = snap
            while len(self._snap_cache) > _CACHE_MAX:
                self._forget(min(self._snap_cache))

    def _forget(self, sid: int) -> None:
        """Drop a manifest and its read plan; the caller holds the lock."""
        self._snap_cache.pop(sid, None)
        self._plans.pop(sid, None)

    def _set_current(self, sid: int) -> None:
        atomic_write(os.path.join(self._meta_dir, "CURRENT"), str(sid))

    def rollback(self, sid: int) -> None:
        """Point CURRENT at an older committed snapshot (resume path)."""
        if not os.path.exists(self._snap_path(sid)):
            raise ValueError(f"unknown snapshot {sid}")
        self._set_current(sid)

    # ------------------------------------------------------------ create
    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_cols: list[str],
        n_buckets: int = 16,
        initial_df: DataFrame | None = None,
        overwrite: bool = False,
    ) -> "LakeTable":
        if os.path.exists(root):
            if not overwrite:
                raise FileExistsError(root)
            shutil.rmtree(root)
        os.makedirs(os.path.join(root, "_meta"))
        t = LakeTable(spark, root)
        snap = {
            "id": 0,
            "parent": None,
            "key_cols": key_cols,
            "n_buckets": n_buckets,
            "schema_id": 0,
            "schemas": {"0": schema.json()},
            "buckets": {},
            "deltas": [],
            "summary": {"op": "create"},
        }
        if initial_df is not None:
            files = t._write_data_files(initial_df, schema, key_cols, n_buckets, 0)
            snap["buckets"] = {
                str(b): [[p, 0, 0, "base", 0] for p in ps] for b, ps in files.items()
            }
            snap["summary"]["rows_written"] = initial_df.count()
        atomic_write(t._snap_path(0), json.dumps(snap))
        t._set_current(0)
        return t

    # ------------------------------------------------------------- write
    def _write_files(
        self, w: DataFrame, snapshot_id: int, partition_by: str | None = None
    ) -> list[str]:
        """Write ``w`` as parquet into a fresh dir of ``snapshot_id``;
        returns the written files' paths relative to the table root."""
        out = os.path.join(self.root, "data", f"snap-{snapshot_id:08d}-{uuid.uuid4().hex[:8]}")
        writer = w.write if partition_by is None else w.write.partitionBy(partition_by)
        writer.parquet(out)
        return sorted(
            os.path.relpath(os.path.join(d, fn), self.root)
            for d, _dirs, fs in os.walk(out)
            for fn in fs
            if fn.endswith(".parquet")
        )

    def _write_data_files(
        self,
        df: DataFrame,
        schema: T.StructType,
        key_cols: list[str],
        n_buckets: int,
        snapshot_id: int,
    ) -> dict[int, list[str]]:
        """Write df partitioned by key bucket, each file's rows clustered by
        key; returns bucket -> rel paths."""
        w = df.selectExpr(
            *_cast_list(schema), f"{bucket_sql(key_cols, n_buckets)} AS {_q(BUCKET_COL)}"
        )
        # co-locate each bucket into one task -> one file per touched
        # bucket; explicit numPartitions so AQE can't coalesce the write
        # into a few serial tasks. At cluster scale raise n_buckets rather
        # than files/bucket.
        w = w.repartition(n_buckets, F.col(BUCKET_COL)).sortWithinPartitions(*key_cols)
        files: dict[int, list[str]] = {}
        for rel in self._write_files(w, snapshot_id, BUCKET_COL):
            b = int(os.path.basename(os.path.dirname(rel)).split("=", 1)[1])
            files.setdefault(b, []).append(rel)
        return files

    def _next_snapshot(self, schema: T.StructType | None):
        prev = self.snapshot()
        new_id = prev["id"] + 1
        schema = schema or self.schema()
        schema_id = prev["schema_id"]
        schemas = dict(prev["schemas"])
        if schemas[str(schema_id)] != schema.json():
            schema_id += 1
            while str(schema_id) in schemas:
                schema_id += 1
            schemas[str(schema_id)] = schema.json()
        return prev, new_id, schema, schema_id, schemas

    def _finish_snapshot(self, prev, new_id, schema_id, schemas, buckets, summary, deltas=None):
        """Commit: the snapshot file is durable before CURRENT names it.
        ``deltas`` defaults to ``prev``'s."""
        snap = _normalize({
            "id": new_id,
            "parent": prev["id"],
            "key_cols": prev["key_cols"],
            "n_buckets": prev["n_buckets"],
            "schema_id": schema_id,
            "schemas": schemas,
            "buckets": buckets,
            "deltas": prev["deltas"] if deltas is None else deltas,
            "summary": summary or {},
        })
        atomic_write(self._snap_path(new_id), json.dumps(snap))
        self._cache_snap(new_id, snap)
        self._set_current(new_id)
        return new_id

    def commit_merge(
        self,
        merged_df: DataFrame,
        schema: T.StructType | None = None,
        summary: dict | None = None,
    ) -> int:
        """Copy-on-write commit: rewrite every bucket from merged_df."""
        prev, new_id, schema, schema_id, schemas = self._next_snapshot(schema)
        new_files = self._write_data_files(
            merged_df, schema, prev["key_cols"], prev["n_buckets"], new_id
        )
        buckets = {
            str(b): [[p, schema_id, 0, "base", new_id] for p in new_files.get(b, [])]
            for b in range(prev["n_buckets"])
        }
        return self._finish_snapshot(
            prev, new_id, schema_id, schemas, buckets, summary, deltas=[]
        )

    def commit_delta(
        self,
        delta_df: DataFrame,
        schema: T.StructType | None = None,
        summary: dict | None = None,
    ) -> int:
        """Merge-on-read commit: APPEND folded delta files (including
        tombstones and fold flags) to the manifest's ``deltas`` — O(delta)
        bytes written, zero existing-data reads, and one manifest entry
        per file whatever the bucket count. ``read()`` folds base + deltas
        in rank order; ``compact_prepare`` + ``compact_apply`` collapse
        them back to base files.

        The delta is written as it comes, one file per input partition
        (the fold's AQE-sized shuffle output), with no bucket exchange.
        Splitting it per bucket would buy nothing: every read takes the
        whole table, a sizable batch touches every bucket, and compaction
        re-buckets what it folds.

        This is the write path that survives 10^10-event scale: per-batch
        cost is proportional to the batch, and rewrite amplification is
        paid only at compaction cadence.
        """
        prev, new_id, schema, schema_id, schemas = self._next_snapshot(schema)
        extra = [f for f in DELTA_FLAG_FIELDS if f.name not in schema.names]
        extra += [
            f
            for f in _set_flag_fields(schema, prev["key_cols"])
            if f.name not in schema.names and f.name in delta_df.columns
        ]
        delta_schema = T.StructType(list(schema.fields) + extra)
        new_files = self._write_files(delta_df.selectExpr(*_cast_list(delta_schema)), new_id)
        deltas = prev["deltas"] + [[p, schema_id, new_id, new_id] for p in new_files]
        return self._finish_snapshot(
            prev, new_id, schema_id, schemas, prev["buckets"], summary, deltas=deltas
        )

    def delta_depth(self) -> int:
        """Number of delta commits stacked on the base (a commit may write
        several files)."""
        return len({d[2] for d in self.snapshot()["deltas"]})

    def compact_prepare(self, sid: int | None = None) -> dict | None:
        """Phase 1 of ASYNC compaction (the maintenance-lane shape real
        lakehouses use: Iceberg rewrite_data_files / Delta OPTIMIZE run
        beside the ingest path, not inside it). Folds base+deltas AS OF
        snapshot ``sid`` and writes the replacement base files of every
        bucket, at the table's ``n_buckets``. No metadata is touched, so
        this may run concurrently with further delta commits — it only
        reads the immutable files of ``sid``. Returns a prep dict for
        :meth:`compact_apply` (or None if there is no delta)."""
        snap = self.snapshot(sid)
        if not snap["deltas"]:
            return None
        folded = self.read(sid=snap["id"])
        schema = self.schema(snap["id"])
        new_files = self._write_data_files(
            folded, schema, snap["key_cols"], snap["n_buckets"], snap["id"]
        )
        return {"base_sid": snap["id"], "files": new_files, "schema_id": snap["schema_id"]}

    def compact_apply(self, prep: dict, summary: dict | None = None) -> int:
        """Phase 2: rebase-commit a prepared compaction onto the CURRENT
        snapshot. Every bucket's base is replaced by the new base files,
        and the deltas committed at or before ``base_sid`` (folded into
        it) are dropped; deltas appended after ``base_sid`` are kept — the
        read fold orders rows by (__cdc_ts, rank), and the new base
        carries its true per-row __cdc_ts, so later deltas still apply on
        top. Must be called from the single-threaded commit path (the
        engine batch loop).

        Precondition guard: if the base holds a file committed AFTER
        ``base_sid`` (a commit_merge / concurrent compaction landed
        between prepare and apply), applying the stale prepared base would
        silently drop that rewrite — raise instead of losing data."""
        base_sid = prep["base_sid"]
        prev, new_id, schema, schema_id, schemas = self._next_snapshot(None)
        newer = [e[4] for fs in prev["buckets"].values() for e in fs if e[4] > base_sid]
        if newer:
            raise RuntimeError(
                f"compact_apply: the base was rewritten at snapshot {max(newer)} > "
                f"prepared base {base_sid}; discard the prepared compaction and re-prepare"
            )
        buckets = {
            str(b): [[p, prep["schema_id"], 0, "base", new_id] for p in ps]
            for b, ps in prep["files"].items()
        }
        deltas = [d for d in prev["deltas"] if d[2] > base_sid]
        s = dict(summary or {})
        s["op"] = "compact"
        s["base_sid"] = base_sid
        return self._finish_snapshot(
            prev, new_id, schema_id, schemas, buckets, s, deltas=deltas
        )

    # ---------------------------------------------------------------- gc
    def expire_snapshots(self, older_than_sid: int) -> dict:
        """Expire snapshot manifests with id < ``older_than_sid`` and
        delete data files no RETAINED snapshot references — the Iceberg
        ``expire_snapshots`` + ``remove_orphan_files`` pair rolled into
        one bounded sweep (reference parity: finished-partition cleanup
        after a deletion delay, /root/reference
        task/operation/RemoveFinishedPartitionOperation.java:45-135).

        Covers all three leak classes: manifests of superseded snapshots,
        delta/base files replaced by compaction, and orphans from
        rolled-back (uncheckpointed) commits. Files are only deleted from
        write-dirs whose writing snapshot id is ALSO below the floor, so
        an in-flight maintenance write (async compact_prepare against a
        recent snapshot) is never touched. Without this, metadata and
        dead files grow linearly with batch count — untenable at 10^10
        events."""
        current = self.current_snapshot_id()
        older_than_sid = min(older_than_sid, current)
        sids = sorted(
            int(f[5:13])
            for f in os.listdir(self._meta_dir)
            if f.startswith("snap-") and f.endswith(".json")
        )
        retained = [s for s in sids if s >= older_than_sid]
        expired = [s for s in sids if s < older_than_sid]
        referenced: set[str] = set()
        for s in retained:
            snap = self.snapshot(s)
            referenced.update(os.path.normpath(d[0]) for d in snap["deltas"])
            for fs in snap["buckets"].values():
                referenced.update(os.path.normpath(e[0]) for e in fs)
        removed_files = 0
        data_dir = os.path.join(self.root, "data")
        if os.path.isdir(data_dir):
            for d in os.listdir(data_dir):
                try:
                    wsid = int(d.split("-")[1])
                except (IndexError, ValueError):
                    continue
                if wsid >= older_than_sid:
                    continue
                for sub, _dirs, files in os.walk(os.path.join(data_dir, d), topdown=False):
                    for fn in files:
                        full = os.path.join(sub, fn)
                        if os.path.normpath(os.path.relpath(full, self.root)) not in referenced:
                            os.remove(full)
                            removed_files += 1
                    if not os.listdir(sub):
                        os.rmdir(sub)
        for s in expired:
            os.remove(self._snap_path(s))
            with self._lock:
                self._forget(s)
        return {"expired_snapshots": len(expired), "removed_files": removed_files}

    def data_file_count(self) -> int:
        """Physical parquet files on disk (referenced or not) — GC tests."""
        n = 0
        for _sub, _dirs, files in os.walk(os.path.join(self.root, "data")):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    # -------------------------------------------------------------- read
    def schema(self, sid: int | None = None) -> T.StructType:
        snap = self.snapshot(sid)
        return T.StructType.fromJson(json.loads(snap["schemas"][str(snap["schema_id"])]))

    def key_cols(self) -> list[str]:
        return self.snapshot()["key_cols"]

    def read(self, sid: int | None = None) -> DataFrame:
        """Read the whole state of snapshot ``sid`` (default: current).
        Files are grouped by (schema id, rank, kind), cast-unioned to the
        snapshot schema (add-column null backfill, type widening), then,
        if any merge-on-read deltas are present, folded per key in (commit
        ts, rank) order by :func:`fold_ranked`.

        The plan is built from SQL strings (one ``selectExpr`` per file
        group, one ``agg`` for the fold): 287 JVM calls for a 16-bucket
        table of one base and four deltas, where per-column ``Column``
        nests took ~4,100. Building it launches no Spark job. Each group
        stays its own ``parquet()`` scan of at most ``_SCAN_PATHS_MAX``
        paths, Spark's parallel-listing threshold, so files are listed on
        the driver; one scan over every file would start a listing job on
        each uncached read.

        The built DataFrame is kept per sid while the sid's manifest is
        cached, so repeated reads of a live snapshot reuse one plan. A
        kept plan is served only for the very manifest object it was
        built from: after a rollback the next commit reuses the sid with a
        new manifest, and a reader still holding the old one rebuilds.
        Callers derive from the returned DataFrame and must not persist
        it."""
        snap = self.snapshot(sid)
        sid = snap["id"]
        with self._lock:
            hit = self._plans.get(sid)
        if hit is not None and hit[0] is snap:
            return hit[1]
        df = self._build_read(snap)
        with self._lock:
            if self._snap_cache.get(sid) is snap:
                self._plans[sid] = (snap, df)
                while len(self._plans) > _CACHE_MAX:
                    del self._plans[min(self._plans)]
        return df

    def _build_read(self, snap: dict) -> DataFrame:
        target = T.StructType.fromJson(json.loads(snap["schemas"][str(snap["schema_id"])]))
        key_cols = snap["key_cols"]
        # group by (schema, rank, kind); paths are deduped because an old
        # manifest may list a base file under several buckets
        groups: dict[tuple[int, int, str], set[str]] = {}
        for fs in snap["buckets"].values():
            for e in fs:
                groups.setdefault((int(e[1]), 0, "base"), set()).add(os.path.join(self.root, e[0]))
        for rel, sch_id, rank, _csid in snap["deltas"]:
            groups.setdefault((int(sch_id), int(rank), "delta"), set()).add(
                os.path.join(self.root, rel)
            )
        if not groups:
            return local_frame(self.spark, [], target)
        fold = bool(snap["deltas"])
        parts = []
        for (sch_id, rank, kind), pathset in sorted(groups.items()):
            file_schema = T.StructType.fromJson(json.loads(snap["schemas"][str(sch_id)]))
            read_schema = file_schema
            if kind == "delta":
                read_schema = T.StructType(
                    list(file_schema.fields)
                    + [f for f in DELTA_FLAG_FIELDS if f.name not in file_schema.names]
                    + [
                        f
                        for f in _set_flag_fields(target, key_cols)
                        if f.name not in file_schema.names
                    ]
                )
            proj = _rank_projection(set(read_schema.names), target, key_cols, rank, kind, fold)
            paths = sorted(pathset)
            for i in range(0, len(paths), _SCAN_PATHS_MAX):
                df = self.spark.read.schema(read_schema).parquet(*paths[i : i + _SCAN_PATHS_MAX])
                parts.append(df.selectExpr(*proj))
        out = parts[0]
        for p in parts[1:]:
            out = out.union(p)  # every part has the same columns in order
        return fold_ranked(out, key_cols, target) if fold else out


def _q(name: str) -> str:
    """Backtick-quote a column name for a SQL expression string."""
    return "`" + name.replace("`", "``") + "`"


def _str(text: str) -> str:
    """Quote ``text`` as a SQL string literal (Spark's default parser,
    which reads backslash escapes)."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _cast_list(schema: T.StructType) -> list[str]:
    """SQL select list casting each field of ``schema`` to its type: one
    ``selectExpr``, where per-field Column chains (col, cast, alias) cost
    three JVM calls a column on every write."""
    return [
        f"CAST({_q(f.name)} AS {f.dataType.simpleString()}) AS {_q(f.name)}"
        for f in schema.fields
    ]


def _rank_projection(
    names: set[str], target: T.StructType, key_cols: list[str], rank: int, kind: str, fold: bool
) -> list[str]:
    """SQL select list casting one file group (columns ``names``) to
    ``target``; when the read folds, it adds the fold inputs: a ``__w_<c>``
    written flag per value column, the ``_is_delete`` / ``_had_delete``
    barriers and the ``_o`` = (commit ts, rank) order."""
    cols = [
        f"CAST({_q(f.name) if f.name in names else 'NULL'} AS {f.dataType.simpleString()})"
        f" AS {_q(f.name)}"
        for f in target.fields
    ]
    if not fold:
        return cols
    value_names = [f.name for f in target.fields if f.name not in key_cols]
    if kind == "delta":
        # written flag per value column: persisted __set_ flag when present
        # (explicit-null-aware), else value-non-null
        for c in value_names:
            w = f"{_q(c)} IS NOT NULL" if c in names else "false"
            if f"__set_{c}" in names:
                w = f"COALESCE({_q(f'__set_{c}')}, {w})"
            cols.append(f"{w} AS {_q(f'__w_{c}')}")
        cols += [
            "COALESCE(_is_delete, false) AS _is_delete",
            "COALESCE(_had_delete, false) AS _had_delete",
        ]
    else:
        # a base row IS the authoritative state: every column is 'written'
        # (including genuine NULLs) at the base order
        cols += [f"true AS {_q(f'__w_{c}')}" for c in value_names]
        cols += ["false AS _is_delete", "false AS _had_delete"]
    # per-row apply order: (commit-ts lineage, snapshot rank). The ts
    # component applies a key's rows in commit order whatever order their
    # files were committed in; rank breaks ties for same-ts rows (base <
    # any delta).
    ts = f"{_LONG_MIN}L"
    if CDC_TS_COL in names:
        ts = f"COALESCE(CAST({_q(CDC_TS_COL)} AS BIGINT), {ts})"
    cols.append(f"named_struct('ts', {ts}, 'rank', CAST({rank} AS BIGINT)) AS _o")
    return cols


def lww_aggs(value_cols: list[str]) -> list[str]:
    """The last-writer-wins fold as SQL aggregates, one row per group.

    Input rows carry ``_o`` (a struct ordering the rows; a larger one is
    applied later), ``_is_delete`` (the row leaves the key deleted),
    ``_had_delete`` (the row holds a delete: a barrier) and, per value
    column ``c``, the value ``c`` and its written flag ``__w_c`` (True
    for an explicit-NULL write too). ``_top`` is the last row (does it
    delete?), ``_barrier`` the last delete and ``_m_c`` the last write of
    ``c``; :func:`lww_survives` says whether that write outlives the
    barrier. max-only aggregates: associative and idempotent, so they
    pre-reduce map-side, combine across partial folds and absorb exact
    duplicates."""
    return [
        "max(named_struct('o', _o, '_is_delete', _is_delete)) AS _top",
        "max(CASE WHEN _had_delete THEN _o END) AS _barrier",
    ] + [
        f"max(CASE WHEN {_q(f'__w_{c}')} THEN named_struct('o', _o, 'v', {_q(c)}) END)"
        f" AS {_q(f'_m_{c}')}"
        for c in value_cols
    ]


def lww_survives(c: str) -> str:
    """SQL predicate over :func:`lww_aggs` output: column ``c`` was
    written at or after the last delete (a row's own delete writes no
    value)."""
    m = _q(f"_m_{c}")
    return f"{m} IS NOT NULL AND (_barrier IS NULL OR {m}.o >= _barrier)"


def fold_ranked(df: DataFrame, key_cols: list[str], target: T.StructType) -> DataFrame:
    """Merge-on-read fold: one hash aggregation per key over ordered rows
    (order ``_o`` = (commit-ts lineage, snapshot rank); base rows sort
    first). It is the event-level LWW fold of operators/merge.py, the
    same :func:`lww_aggs`, one level up: each delta row is itself a
    folded batch, with ``_had_delete`` acting as the delete barrier,
    ``_is_delete`` of the top row deciding existence, and ``__w_c``
    written flags applying explicit-NULL column writes.

    max-only aggregates -> map-side partial aggregation -> hot-key safe.
    """
    value_cols = [f.name for f in target.fields if f.name not in key_cols]
    aggs = lww_aggs(value_cols)
    g = df.groupBy(*key_cols).agg(*[F.expr(a) for a in aggs]).where("NOT _top._is_delete")
    return g.selectExpr(
        *[_q(c) for c in key_cols],
        *[
            f"CASE WHEN {lww_survives(c)} THEN {_q(f'_m_{c}')}.v END AS {_q(c)}"
            for c in value_cols
        ],
    )
