"""Smoke test of the benchmark: every workload at sf0.001, traced.

    python3 perfbench/selftest.py [workload ...]

Runs ``run.py --trace 1`` once per workload on a hundredth of its data
(the sf0.001 test data; the 10x workloads on ten replicas of it), with
the fewest measured passes. It asserts that:

- the run is correct;
- every end-to-end and per-layer metric named in ``BENCHMARK.json`` is
  emitted with its unit;
- each traced op's layer self times add up to its wall time within 5%;
- every layer the workload goes through recorded calls, so a call that
  bypasses a wrapped module attribute shows;
- the ops whose work all runs in ``versioned`` and Spark jobs (the
  orders loads, merge, delete and optimize) spend at most 10% of their
  wall time outside a named layer span and a Spark job.

Exits non-zero on the first failed workload.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["interactive_sf0.1", "warehouse_load_sf0.1", "headline_sf0.1",
             "relational_sf1", "curation_sf0.1", "warehouse_load_sf1"]
TOLERANCE = 0.05
UNCOVERED_MAX = 0.10
# per-layer metrics that must be non-zero, by workload name prefix
LAYERS_USED = {
    "interactive": ["catalog.calls", "spark.jobs", "caching.persists"],
    "headline": ["catalog.calls", "spark.jobs", "caching.persists"],
    "relational": ["catalog.calls", "spark.jobs"],
    "curation": ["catalog.calls", "spark.jobs", "plans.build_jobs", "caching.persists"],
    "warehouse": ["catalog.calls", "spark.jobs", "sources.read_s", "versioned.commit_s",
                  "versioned.merge_s", "versioned.delete_s", "versioned.read_s",
                  "versioned.optimize_s"],
}
# warehouse ops that run only versioned calls over plain scans
VERSIONED_OPS = ("backfill_", "append_", "merge", "delete", "optimize")


def check(workload: str, spec: dict) -> list[str]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", "1", "--scale", "0.01"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        return [f"exit code {out.returncode}: {out.stderr[-2000:]}"]
    detail, result = (json.loads(line) for line in out.stdout.strip().splitlines()[-2:])
    errors = [f"failed check {k}: {v}" for k, v in detail["failures"].items()]
    if not result["correct"] or result["failed"]:
        errors.append(f"result not correct: {result['failed']} of {result['attempted']} failed")
    for kind, metrics in (("end_to_end", detail["end_to_end"]), ("per_layer", result["metrics"])):
        for m in spec[kind]:
            got = metrics.get(m["name"])
            if got is None:
                errors.append(f"{kind} metric {m['name']} missing")
            elif got["unit"] != m["unit"]:
                errors.append(f"{m['name']}: unit {got['unit']} != {m['unit']}")
    for op, share in detail["per_op_unattributed"].items():
        if share > TOLERANCE:
            errors.append(f"{op}: layer self times miss {share:.1%} of its wall time")
    for name in LAYERS_USED[workload.split("_")[0]]:
        if not result["metrics"].get(name, {}).get("value"):
            errors.append(f"layer metric {name} is 0: the layer's calls were not traced")
    for op, share in detail["per_op_uncovered"].items():
        if op.startswith(VERSIONED_OPS) and share > UNCOVERED_MAX:
            errors.append(f"{op}: {share:.1%} of its wall time is in no layer span or Spark job")
    return errors


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for wl in argv or WORKLOADS:
        errors = check(wl, spec)
        print(f"{'FAIL' if errors else 'ok'} {wl}", *errors, sep="\n  ", flush=True)
        if errors:
            return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
