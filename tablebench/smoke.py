"""Smoke test of the benchmark itself, at TPC-H scale 0.001 with a few ops.

For every workload it checks that an untraced run verifies clean and
emits every end-to-end metric of ``BENCHMARK.json`` with its unit, and
that a traced run emits every per-layer metric, records spans for the
layers the workload drives, and reports a deliberately corrupted result
as a failed op. Run from the repository root::

    python3 tablebench/smoke.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# layer metrics each workload must move (a zero means a layer was missed)
LAYERS_DRIVEN = {
    "point_lookup": (
        "catalog.load_table.calls", "metadata.read.ms", "manifests.read_list.ms", "manifests.read.calls",
        "manifests.read.entries", "expr.bind.ms", "expr.metrics_eval.calls", "plan.ms", "plan.files_considered",
        "plan.files_matched", "scan.to_df.ms", "exec.ms", "fileio.read_bytes.calls",
    ),
    "analytic_scan": ("catalog.load_table.calls", "plan.ms", "scan.to_df.ms", "exec.ms", "exec.rows_out"),
    "write_mix": (
        "catalog.load_table.calls", "catalog.commit.ms", "metadata.write.ms", "metadata.bytes_per_commit",
        "manifests.write.ms", "manifests.write.bytes", "write.data_files.ms", "write.data_files.files",
        "write.data_files.bytes", "write.file_stats.ms", "fileio.write_bytes.calls", "fileio.list_files.calls",
        "commit.ms", "maint.expire.ms", "maint.compact.ms", "maint.bytes_rewritten", "upsert.self_ms",
    ),
}
SECONDS = {"point_lookup": 2.0, "analytic_scan": 3.0, "write_mix": 6.0}


def check(cond: bool, msg: str, problems: list) -> None:
    print(("ok   " if cond else "FAIL ") + msg)
    if not cond:
        problems.append(msg)


def main() -> int:
    sys.path.insert(0, ROOT)
    from tablebench import workloads
    from tablebench.run import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems: list = []
    for name in workloads.WORKLOADS:
        plain = run(name, seed=1, seconds=SECONDS[name], trace=False, scale=workloads.SMOKE)["result"]
        check(plain["correct"] and plain["failed"] == 0, f"{name}: untraced run verifies clean", problems)
        for m in spec["end_to_end"]:
            got = plain["metrics"].get(m["name"])
            check(
                got is not None and got["unit"] == m["unit"] and got["value"] > 0,
                f"{name}: end-to-end {m['name']} emitted in {m['unit']}",
                problems,
            )
        traced = run(name, seed=2, seconds=SECONDS[name], trace=True, scale=workloads.SMOKE, corrupt=True)["result"]
        check(not traced["correct"] and traced["failed"] >= 1, f"{name}: corrupted result is caught", problems)
        for m in spec["per_layer"]:
            got = traced["metrics"].get(m["name"])
            check(got is not None and got["unit"] == m["unit"], f"{name}: per-layer {m['name']} emitted", problems)
        for key in LAYERS_DRIVEN[name]:
            got = traced["metrics"].get(key, {}).get("value", 0)
            check(got > 0, f"{name}: span data for {key}", problems)
    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
