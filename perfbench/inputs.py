"""Seeded inputs for the benchmark, generated once per seed and cached.

CDC workloads replay a change-event log built by the repo's own fixture
generator (``fixtures.generator.write_fixture``), which also writes the
expected final state the correctness gate compares against, plus the same
records in the proto wire (``write_proto_log``).

The query suite reads TPC-H-style tables plus ``events`` and
``documents``, drawn from the seed with NumPy to match the sf0.1 test
tables of TESTDATA.md: the same columns and types, row counts, value
domains, date ranges, key correlations and duplicate rates (the measured
comparison is in DESIGN.md). The benchmark reads nothing outside its
checkout, so it cannot read those tables themselves.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from debezium_connector_spanner_spark.fixtures.generator import (
    GeneratorConfig,
    write_fixture,
    write_proto_log,
)

# ~89k change events on ~21.8k keys (over the generator's 20k-key threshold,
# so it builds in parallel); two scheduled windows plus the partition-DAG
# drain windows make four windows per replay.
BACKFILL_CONFIG = dict(
    n_repos=2600,
    paths_per_repo=8,
    hot_repos=26,
    events_per_key_mean=4,
    duration_s=3600,
    heartbeats_per_token=16,
)
QUERY_TABLE_ROWS = dict(
    region=5,
    nation=25,
    customer=15_000,
    supplier=1_000,
    orders=150_000,
    lineitem=600_000,
    events=100_000,
    documents=5_000,
)
_DONE = "_COMPLETE"


def cdc_fixture(work: str, name: str, cfg: GeneratorConfig) -> tuple[str, dict]:
    """Generate (or reuse) a fixture dir with its proto log; returns
    (dir, manifest). A run cut short while writing the proto log leaves it
    partial; the next replay then fails its event-count check."""
    out = os.path.join(work, "fixtures", name)
    manifest = write_fixture(out, cfg)  # rewrites the dir if cfg changed
    write_proto_log(out)  # a no-op once the dir has one
    return out, manifest


# ------------------------------------------------------------ query tables
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    d = rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + d, type=pa.timestamp("us"))


def _query_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = QUERY_TABLE_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": segs[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    no = n["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000, 500000, no),
            "o_orderdate": _days(rng, "1995-01-01", 2405, no),
            "o_orderpriority": prio[rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20_000, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, "1995-01-02", 2499, nl),
        }
    )
    ne = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, ne)) + np.datetime64("2024-01-01", "us")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, ne), pa.int64()),
            "event_type": np.array(["view", "click", "purchase", "signup", "error"])[
                rng.integers(0, 5, ne)
            ],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    words = np.array(_WORDS)
    texts = []
    for i in range(nd):
        if i and rng.random() < 0.05:  # near-duplicates; two of one are exact
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))]))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": np.array(["en", "de", "es", "fr", "zh"])[
                rng.choice(5, nd, p=[0.4, 0.15, 0.15, 0.15, 0.15])
            ],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    return t


def query_tables(work: str, seed: int) -> str:
    """Write (or reuse) the seed's query tables; returns their directory."""
    out = os.path.join(work, "tables", f"s{seed}")
    if os.path.exists(os.path.join(out, _DONE)):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _query_tables(seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, _DONE), "w") as f:
        json.dump({"rows": QUERY_TABLE_ROWS, "at": time.time()}, f)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out
