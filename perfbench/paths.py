"""Where the benchmark reads and writes: everything stays inside the
checkout, under perfbench/.work (ignored by git)."""

from __future__ import annotations

import os

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
INPUTS = os.path.join(WORK, "inputs")
RESULTS = os.path.join(WORK, "results")


def run_dir(workload: str, seed: int, trace: int) -> str:
    """Scratch space of one run (sinks, checkpoints, event log)."""
    return os.path.join(WORK, "runs", f"{workload}-s{seed}-t{trace}-p{os.getpid()}")
