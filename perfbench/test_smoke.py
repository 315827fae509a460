"""Smoke test of the benchmark harness at tiny scale.

    python3 -m pytest perfbench/test_smoke.py -q

The end-to-end case starts Spark four times (two workloads, traced and
untraced) and takes a few minutes.
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import cdc  # noqa: E402
import harness  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import suite  # noqa: E402

TINY_BACKFILL = dict(n_repos=20, paths_per_repo=4, hot_repos=1, events_per_key_mean=3)
TINY_TABLES = dict(
    region=5, nation=25, customer=150, supplier=10, orders=1500, lineitem=6000,
    events=1000, documents=50,
)


def _expected() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "repo": ["r1", "r1", "r2"],
            "path": ["a", "b", "a"],
            "commit": ["c1", "c2", "c3"],
            "lang": ["go", None, "c"],
            "content": ["x", "y", "z"],
        }
    )


def test_gate_rejects_corrupted_final_state_row():
    want = _expected()
    got = want.sample(frac=1, random_state=1)  # row order does not matter
    assert cdc.final_state_matches(got, want)[0]
    bad = got.copy()
    bad.loc[bad["path"] == "b", "content"] = "y!"
    assert not cdc.final_state_matches(bad, want)[0]
    assert not cdc.final_state_matches(got.iloc[:2], want)[0]


def test_gate_rejects_wrong_query_row_count():
    cols = ["k", "n"]
    rows = [(1, 10), (2, 20), (3, 30)]
    assert suite.result_matches(["n", "k"], [(10, 1), (30, 3), (20, 2)], cols, rows)[0]
    ok, detail = suite.result_matches(cols, rows[:2], cols, rows)
    assert not ok and "rows" in detail
    assert not suite.result_matches(cols, [(1, 10), (2, 20), (3, 31)], cols, rows)[0]


@pytest.fixture()
def tiny(tmp_path, monkeypatch):
    monkeypatch.setattr(harness, "WORK", str(tmp_path / "work"))
    monkeypatch.setattr(inputs, "BACKFILL_CONFIG", TINY_BACKFILL)
    monkeypatch.setattr(inputs, "QUERY_TABLE_ROWS", TINY_TABLES)
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_metric_prints_with_its_unit(tiny, capsys):
    spec = tiny
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            assert run.main(
                ["--workload", w["name"], "--seed", "5", "--seconds", "1", "--trace", str(trace)]
            ) == 0
            out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
            assert set(out) == {"correct", "attempted", "failed", "metrics"}
            assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, out
            want = {m["name"]: m["unit"] for m in spec[key]}
            assert {k: v["unit"] for k, v in out["metrics"].items()} == want
            assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
