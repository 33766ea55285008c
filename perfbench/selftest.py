"""Self-test of the benchmark's seeding, without Spark:

    python3 perfbench/selftest.py

The same seed must give identical op lists and input fingerprints, and a
different seed different ones. ``dashboard`` inputs are fixed by design
(the seed only draws its query mix), so only its op list must change.
Also checks that ``BENCHMARK.json`` declares exactly the per-layer
metrics a traced run prints.
"""

from __future__ import annotations

import json
import os
import sys

import inputs
import spans
from ops import plan


def _state(workload: str, seed: int):
    tables, _ = inputs.generate(workload, seed)
    n_vecs = tables["embeddings"].num_rows if "embeddings" in tables else 0
    ops = [op.signature() for op in plan(workload, seed, n_vecs)]
    return ops, inputs.fingerprint(tables)


def main() -> int:
    failures = []
    for workload in ("dashboard", "corpus"):
        ops_a, fp_a = _state(workload, 7)
        ops_b, fp_b = _state(workload, 7)
        ops_c, fp_c = _state(workload, 8)
        if ops_a != ops_b or fp_a != fp_b:
            failures.append(f"{workload}: seed 7 is not reproducible")
        if ops_a == ops_c:
            failures.append(f"{workload}: seeds 7 and 8 give the same op list")
        if workload != "dashboard" and fp_a == fp_c:
            failures.append(f"{workload}: seeds 7 and 8 give the same inputs")
        print(f"{workload}: {len(ops_a)} ops, inputs {fp_a} (seed 7) / {fp_c} (seed 8)")
    bench = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                         "BENCHMARK.json")
    with open(bench) as f:
        declared = [(m["name"], m["unit"], m["better"])
                    for m in json.load(f)["per_layer"]]
    if declared != spans.metric_names():
        failures.append("BENCHMARK.json per_layer differs from spans.metric_names()")
    for f in failures:
        print("FAIL", f)
    print("selftest", "failed" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
