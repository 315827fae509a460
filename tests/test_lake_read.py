"""LakeTable.read() plan building and reuse:

- the read plan is reused while its snapshot manifest is cached, and a
  snapshot id reused after a rollback never serves a plan built from
  another manifest
- expire_snapshots drops the plans of the snapshots it expires
- building a read launches no Spark job: no schema inference, and no
  parallel file listing, also when a file group holds more paths than
  Spark's listing threshold (a 64-bucket table)
- a merge-on-read delta's files are each named once in the manifest's
  ``deltas`` list, and count as one delta commit
"""

import json
import os
import sys
import threading
import time

from pyspark.sql import functions as F

from debezium_connector_spanner_spark.sources import lake
from debezium_connector_spanner_spark.sources.event_schema import REPOS_SCHEMA_V1
from debezium_connector_spanner_spark.sources.lake import LakeTable

KEYS = ["repo", "path"]
SCHEMA = REPOS_SCHEMA_V1.spark_struct()


def _commit(t, spark, rows, partitions=None):
    """One merge-on-read delta upserting ``rows`` [(repo, path, commit)],
    written from ``partitions`` input partitions when given; it carries
    no commit ts, so it folds over earlier ones by rank."""
    df = spark.createDataFrame(rows, ["repo", "path", "commit"])
    if partitions is not None:
        df = df.repartition(partitions)
    df = df.select(
        "repo",
        "path",
        "commit",
        F.lit("go").alias("lang"),
        F.lit("c").alias("content"),
        F.lit(False).alias("_is_delete"),
        F.lit(False).alias("_had_delete"),
    )
    return t.commit_delta(df)


def _commits(df):
    return sorted((r["repo"], r["path"], r["commit"]) for r in df.collect())


def _build_jobs(spark, build):
    """(result of ``build()``, ids of the Spark jobs it launched). A control
    action runs after the build in its own job group; once the tracker
    shows that job, it has seen every earlier one (listener events are
    delivered in order)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    df = build()
    group = f"read-control-{time.monotonic_ns()}"
    sc.setJobGroup(group, "control action")
    try:
        df.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group):
        assert time.monotonic() < deadline, "control job never reported"
        time.sleep(0.05)
    control = min(tracker.getJobIdsForGroup(group))
    return df, {j for j in set(tracker.getJobIdsForGroup(None)) - before if j < control}


def test_read_plan_reused_until_rollback_reuses_sid(spark, tmp_root, monkeypatch):
    t = LakeTable.create(spark, os.path.join(tmp_root, "t"), SCHEMA, KEYS, n_buckets=2)
    sid = _commit(t, spark, [("r1", "p1", "a")])
    assert t.read() is t.read()  # one plan per live snapshot
    assert t.read(sid=sid) is t.read()
    assert _commits(t.read()) == [("r1", "p1", "a")]
    rolled_back = t.snapshot(sid)

    t.rollback(sid - 1)
    assert _commits(t.read()) == []
    # the next commit reuses the rolled-back sid with a new manifest
    assert _commit(t, spark, [("r2", "p2", "b")]) == sid
    assert _commits(t.read()) == [("r2", "p2", "b")]
    assert _commits(t.read(sid=sid)) == [("r2", "p2", "b")]
    # a reader that resolved the rolled-back manifest before the commit
    # replaced it gets a plan of that manifest, not the kept one
    monkeypatch.setattr(t, "snapshot", lambda sid=None: rolled_back)
    assert _commits(t.read(sid=sid)) == [("r1", "p1", "a")]


def test_expire_snapshots_drops_their_read_plans(spark, tmp_root):
    t = LakeTable.create(spark, os.path.join(tmp_root, "t"), SCHEMA, KEYS, n_buckets=2)
    sids = [_commit(t, spark, [("r1", "p1", f"c{i}")]) for i in range(3)]
    for s in sids:
        t.read(sid=s)
    assert set(t._plans) == set(sids)
    t.expire_snapshots(sids[-1])
    assert set(t._plans) == {sids[-1]}
    assert _commits(t.read()) == [("r1", "p1", "c2")]


def test_mor_commit_names_each_delta_file_once(spark, tmp_root):
    """A merge-on-read delta is written unbucketed: each of its files is
    named once in the manifest's ``deltas``, no bucket lists a delta, the
    commit raises delta_depth() by exactly one however many files it
    wrote, a read returns each key once, and a copy-on-write commit leaves
    no delta."""
    t = LakeTable.create(spark, os.path.join(tmp_root, "t"), SCHEMA, KEYS, n_buckets=4)
    _commit(t, spark, [("r0", "p0", "a")])
    depth = t.delta_depth()
    rows = [(f"r{i}", f"p{i}", "d") for i in range(40)]
    sid = _commit(t, spark, rows, partitions=3)
    snap = t.snapshot()
    files = [d[0] for d in snap["deltas"] if d[2] == sid]
    assert len(files) >= 2
    assert len(set(files)) == len(files)
    assert all(d[3] == sid for d in snap["deltas"] if d[2] == sid)
    assert all(e[3] == "base" for fs in snap["buckets"].values() for e in fs)
    with open(t._snap_path(sid)) as f:
        assert json.load(f)["deltas"] == snap["deltas"]
    assert t.delta_depth() == depth + 1
    assert _commits(t.read()) == sorted(rows)

    t.commit_merge(t.read())
    assert t.snapshot()["deltas"] == []
    assert t.delta_depth() == 0
    assert _commits(t.read()) == sorted(rows)


def test_read_build_launches_no_spark_job(spark, tmp_root):
    root = os.path.join(tmp_root, "t")
    base = spark.createDataFrame(
        [(f"r{i}", f"p{i}", "b", "go", "c") for i in range(200)], SCHEMA
    )
    t = LakeTable.create(spark, root, SCHEMA, KEYS, n_buckets=16, initial_df=base)
    for k in range(2):
        _commit(t, spark, [(f"r{i}", f"p{i}", f"d{k}") for i in range(0, 200, 3)])
    fresh = LakeTable(spark, root)  # nothing memoized
    full, jobs = _build_jobs(spark, fresh.read)
    assert jobs == set()
    assert full.count() == 200
    older, jobs = _build_jobs(spark, lambda: fresh.read(sid=fresh.current_snapshot_id() - 1))
    assert jobs == set()
    assert older.count() == 200


def test_64_bucket_read_launches_no_listing_job(spark, tmp_root):
    """The base file group of a 64-bucket table passes 64 paths, above
    Spark's parallel-listing threshold (32); read() must still list on the
    driver."""
    root = os.path.join(tmp_root, "t")
    base = spark.createDataFrame(
        [(f"r{i}", f"p{i}", "b", "go", "c") for i in range(2_000)], SCHEMA
    )
    t = LakeTable.create(spark, root, SCHEMA, KEYS, n_buckets=64, initial_df=base)
    _commit(t, spark, [(f"r{i}", f"p{i}", "d") for i in range(2_000)])
    snap = t.snapshot()
    assert len({e[0] for fs in snap["buckets"].values() for e in fs if e[3] == "base"}) == 64
    df, jobs = _build_jobs(spark, LakeTable(spark, root).read)
    assert jobs == set()
    assert df.where(F.col("commit") == "d").count() == 2_000


def test_snapshot_and_plan_caches_under_concurrent_readers(spark, tmp_root, monkeypatch):
    """More reader threads than cores, over more snapshots than the caches
    hold, while one thread keeps replacing manifests (as a commit that
    reuses a sid does): no thread fails, every read gets a plan of the sid
    it asked for, and whenever an auditor holding the caches' lock looks,
    both caches are within bounds and every kept plan belongs to the
    cached manifest of its sid."""
    t = LakeTable.create(spark, os.path.join(tmp_root, "t"), SCHEMA, KEYS, n_buckets=2)
    for _ in range(2 * lake._CACHE_MAX):
        prev, new_id, _schema, schema_id, schemas = t._next_snapshot(None)
        t._finish_snapshot(prev, new_id, schema_id, schemas, {}, {})
    n_sids = t.current_snapshot_id() + 1
    monkeypatch.setattr(LakeTable, "_build_read", lambda self, snap: snap)
    errors = []
    stop = time.monotonic() + 1.5

    def reader(k):
        try:
            i = k
            while time.monotonic() < stop:
                sid = i % n_sids
                assert t.read(sid=sid)["id"] == sid
                i += 7
        except Exception as e:  # reported below
            errors.append(e)

    def audit():
        assert len(t._snap_cache) <= lake._CACHE_MAX and len(t._plans) <= lake._CACHE_MAX
        for sid, (snap, _df) in t._plans.items():
            assert t._snap_cache.get(sid) is snap, sid

    def auditor():
        try:
            while time.monotonic() < stop:
                with t._lock:
                    audit()
        except Exception as e:  # reported below
            errors.append(e)

    def replacer():
        try:
            i = 0
            while time.monotonic() < stop:
                sid = i % n_sids
                t._cache_snap(sid, dict(t.snapshot(sid)))
                i += 1
        except Exception as e:  # reported below
            errors.append(e)

    workers = [threading.Thread(target=reader, args=(k,)) for k in range(2 * os.cpu_count())]
    workers += [threading.Thread(target=replacer), threading.Thread(target=auditor)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for w in workers:
            w.start()
        for w in workers:
            w.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(w.is_alive() for w in workers)
    assert errors == []
    audit()
