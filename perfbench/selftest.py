#!/usr/bin/env python3
"""Self-test: every count-type metric repeats exactly for the same seed.

    python3 perfbench/selftest.py

Runs ``run.py`` twice per workload and trace mode with the same seed and
fails unless both runs are correct and every count-type metric (record,
task, job, file and partition counts and the ratios built only from them)
is identical. Takes about ten minutes on a 4-core machine.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
SEED = 7
# run.py measures a fixed number of cycles whatever --seconds says
SECONDS = 1
WORKLOADS = ("bootstrap_fine", "repair_drift")
OPS = ("sync", "info", "resync")
EXACT = {
    0: ["dest_bytes_per_src_byte"],
    1: [
        "sources.dest_files",
        "sources.listing_tasks",
        *[f"sources.rows_read_per_src_row.{op}" for op in OPS],
        "sync.files_per_written_partition",
        "sync.rows_written_per_drifted_row",
        "sync.partitions_rewritten",
        *[f"spark.jobs_per_op.{op}" for op in OPS],
        *[f"spark.tasks_per_op.{op}" for op in OPS],
    ],
}


def run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, str(HERE / "run.py"), "--workload", workload,
        "--seed", str(SEED), "--seconds", str(SECONDS), "--trace", str(trace),
    ]
    out = subprocess.run(cmd, cwd=HERE.parent, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    bad = []
    for workload in WORKLOADS:
        for trace, names in EXACT.items():
            a, b = (run(workload, trace) for _ in range(2))
            for r in (a, b):
                if not r["correct"] or r["failed"]:
                    bad.append(f"{workload} trace={trace}: {r['failed']}/{r['attempted']} ops failed")
            for name in names:
                va, vb = a["metrics"][name]["value"], b["metrics"][name]["value"]
                status = "ok" if va == vb else "DIFFERS"
                print(f"{workload:15s} {name:40s} {va!r:>22} {vb!r:>22} {status}")
                if va != vb:
                    bad.append(f"{workload} {name}: {va!r} != {vb!r}")
    for line in bad:
        print("FAIL", line)
    print("selftest:", "FAIL" if bad else "ok")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
