"""Self-test of the benchmark at tiny input sizes.

    python3 dggsbench/selftest.py

Runs every workload untraced and traced with ``--tiny`` and fails if a run
exits non-zero, reports a failed op, or leaves out any metric named in
BENCHMARK.json or listed below; then checks that the benchmark refuses to
run, printing no result, from a directory holding only BENCHMARK.json and
the benchmark's own files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = ["setup_s", "docs_per_s", "op_p50_s", "op_tail_s", "mix_pass_s", "peak_rss_mb"]
PER_LAYER = [
    "dggs.cellkey_pts_per_s", "dggs.projection_share",
    "encode.py_init_s", "encode.py_run_s", "encode.bytes_to_py_per_doc",
    "encode.bytes_from_py_per_doc",
    "queries.build_s", "spark.plan_s", "spark.jobs_per_op",
    "queries.cell_counts_expr_s", "queries.cell_trends_s", "queries.kring_xface_s",
    "spark.scan_s", "spark.scan_bytes_per_doc", "spark.agg_build_s",
    "spark.shuffle_bytes", "spark.spill_bytes", "spark.non_wscg_ops",
    "cells_io.write_s", "cells_io.bytes_per_cell", "cells_io.files_written",
    "cells_io.read_s", "cells_io.rows_scanned_per_row_returned",
    "lineage.run_batches_s", "lineage.resume_s", "lineage.batches_rewritten_frac",
    "synth.generate_s", "session.start_s", "trace.overhead_s",
]


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "dggsbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_run(spec: dict, workload: str, trace: int) -> list[str]:
    p = run(ROOT, workload, trace)
    where = f"{workload} --trace {trace}"
    if p.returncode != 0:
        return [f"{where}: exit {p.returncode}\n{p.stderr[-2000:]}"]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        errors.append(f"{where}: {result['failed']} of {result['attempted']} ops failed")
    kind = "per_layer" if trace else "end_to_end"
    listed = [m["name"] for m in spec[kind]]
    wanted = set(listed) | set(PER_LAYER if trace else END_TO_END)
    if set(result["metrics"]) != wanted:
        errors.append(f"{where}: metrics differ from BENCHMARK.json: missing "
                      f"{sorted(wanted - set(result['metrics']))}, extra "
                      f"{sorted(set(result['metrics']) - wanted)}")
    if not trace:
        errors += [f"{where}: {k} is {v['value']}" for k, v in result["metrics"].items()
                   if not v["value"] > 0]
        if not any(line.split()[:1] == ["failed_ops_frac"] for line in lines):
            errors.append(f"{where}: failed_ops_frac not printed")
    return errors


def check_bare_dir() -> list[str]:
    """Only BENCHMARK.json and the benchmark's files: must fail, no result."""
    bare = os.path.join(ROOT, ".dggsbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(bare, "dggsbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p = run(bare, "tile_store", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or "{" in p.stdout:
        return [f"bare directory: exit {p.returncode}, stdout {p.stdout[-200:]!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = check_bare_dir()
    for w in spec["workloads"]:
        for trace in (0, 1):
            errors += check_run(spec, w["name"], trace)
    for e in errors:
        print("FAIL", e)
    print("selftest:", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
