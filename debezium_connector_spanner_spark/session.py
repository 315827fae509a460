"""SparkSession factory tuned for the CDC engine.

Defaults are sized for the sandbox (local[N], single JVM) but every knob
is the one you would set on a 1000-executor cluster too: AQE on (runtime
re-plan + skew-join splitting), Arrow on (vectorized pandas UDF decode),
modest shuffle partitions locally (cluster: ~2-3x total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _cores(master: str) -> int:
    """Worker-thread count implied by the master URL (local[N] / local[*]);
    cluster masters fall back to the machine's count — the split-size rule
    below is per-executor there anyway."""
    import re

    m = re.match(r"local\[(\d+|\*)\]", master or "")
    if m:
        return os.cpu_count() or 8 if m.group(1) == "*" else int(m.group(1))
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "spanner-cdc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus.isdigit() else os.cpu_count() or 8
        shuffle_partitions = max(8, int(n))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # default 64MB advisory size coalesces our ~100MB per-batch
        # shuffles down to 1-2 partitions, serializing fold/merge stages;
        # 4MB keeps all local cores busy at micro-batch scale (measured:
        # local[32] 159s -> 88s on the 4M-event replay). On a real cluster
        # with TB shuffles, raise this back toward 64MB.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        # FAIR pools: ingest (weight 8) vs maint (weight 1) — the async
        # compaction lane backfills ingest's stage-tail idle cores rather
        # than fighting the batch jobs for slots (see fair_pools.xml)
        .config("spark.scheduler.mode", "FAIR")
        .config(
            "spark.scheduler.allocation.file",
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "fair_pools.xml"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # With DataFrame debugging on (the default), every functions/Column
        # call reads a conf, sets and clears PySparkCurrentOrigin in the
        # JVM, walks the Python stack for its call site and tries to import
        # IPython (the first try took 0.4 s on a 4-vCPU VM). A warm proto
        # replay made 7.4k py4j calls with it and 4.2k without. All it buys
        # is the DataFrame call-site lines in an error's context; the error
        # message itself (say, which column is missing) is unchanged. A
        # static conf: it only takes effect when the session is created.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: the driver JVM hosts all executor threads. Measured
        # on this VM: an 8g heap beats 32g by >3x (GC geometry + cold huge
        # heap page faults under contended vCPUs) — keep it modest.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Scan split size scales INVERSELY with core count so the scan
        # stage always packs >=3-4 task waves per core regardless of
        # parallelism (the wave-quantization fix: a micro-batch's pruned
        # slice at 8MB splits is ~40 tasks — 5 clean waves on 8 cores but
        # 1.2 ragged waves on 32, idling most of the machine through the
        # stage tail). Swept on the 4.1M-event fold job
        # (tools/sweep_scaling.py, best-of-3): local[32] 12.6s@8MB ->
        # 9.5s@2MB; local[8] prefers 8MB (14.6s vs 15.6s@2MB). Rule:
        # 64MB/cores clamped to [2MB, 8MB] locally. On a real cluster the
        # same rule applies against per-executor cores (~128MB/4 cores).
        .config(
            "spark.sql.files.maxPartitionBytes",
            str(max(2, min(8, 64 // _cores(master))) * 1024 * 1024),
        )
        # commit protocol: task-side renames (v2) + no _SUCCESS markers —
        # the v1 job-commit does one serial driver-side rename per file,
        # a real per-batch serial cost with bucketed writes
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: T.StructType | str
) -> DataFrame:
    """DataFrame over driver-side ``rows`` (tuples in ``schema`` field
    order; ``schema`` may be a DDL string), planned as a JVM
    ``LocalRelation``.

    ``createDataFrame`` of a Python list plans a ``LogicalRDD`` over a
    ``PythonRDD``: every action or broadcast of it is a job of
    ``defaultParallelism`` tasks, each starting a Python worker to unpickle
    a few rows. An Arrow table is handed to the JVM whole instead: a
    broadcast of it runs at most one task per row, and no Python worker.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)], schema=arrow_schema
    )
    return spark.createDataFrame(table, schema)
