"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ``proto_backfill`` (perfbench/cdc.py) and ``query_suite``
(perfbench/suite.py). With ``--trace 0`` the last stdout
line carries every end-to-end metric of BENCHMARK.json; with ``--trace 1``
every per-layer metric. Lines before it are ``{"detail": ...}`` records.
Run from the root of a checkout; all files go under perfbench/_work/.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import harness

WORKLOADS = ("proto_backfill", "query_suite")
# per-layer metrics a workload does not exercise, by prefix, and why; they
# print as 0 (the prediction for a workload that bypasses the layer)
BYPASSED = {
    "proto_backfill": {"plans.": "no analytics queries"},
    "query_suite": {
        "engine.": "no replay",
        "proto_wire.": "no replay",
        "merge.": "no replay",
        "lake.": "no replay",
        "spark.scaling_1to4": "no replay",
        "trace.unattributed_s": "no replay",
    },
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(harness.ROOT, harness.PACKAGE)):
        print(f"{harness.PACKAGE}/ not found under {harness.ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    harness.prepare_environment()
    sys.path.insert(0, harness.ROOT)
    if args.workload == "query_suite":
        import suite

        ops, e2e, layers = suite.run(args)
    else:
        import cdc

        ops, e2e, layers = cdc.run(args)

    if args.trace:
        metrics, unmeasured = {}, {}
        for m in spec["per_layer"]:
            name = m["name"]
            if name not in layers:
                why = next(
                    (w for p, w in BYPASSED[args.workload].items() if name.startswith(p)), None
                )
                if why is None:
                    raise RuntimeError(f"per-layer metric {name} was not measured")
                unmeasured[name] = why
            metrics[name] = {"value": layers.get(name, 0), "unit": m["unit"]}
        print(json.dumps({"detail": {"bypassed_layers": unmeasured}}))
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    if ops.failures:
        print(json.dumps({"detail": {"failures": ops.failures[:20]}}))
    result = {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
