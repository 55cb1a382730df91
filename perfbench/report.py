"""Readings that take longer than one benchmark run may, recorded but not
gated (``python3 perfbench/run.py --report --seed N``):

- ``scaling_1to4`` = rows_per_s@local[4] / (4 x rows_per_s@local[1]) on
  batch_kg: the paper's N -> 4N throughput efficiency as far as a 4-core
  machine can measure it;
- ``stream_over_batch`` = wall per turn of stream_kg / wall per turn of
  batch_kg, both on local[4] (ROADMAP item 4 targets <= 1.25).

Each reading is one untraced run in its own process.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from perfbench import run


def _rows_per_s(workload: str, seed: int, cores: int) -> float:
    proc = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "0",
         "--cores", str(cores)],
        cwd=run.ROOT, capture_output=True, text=True, timeout=900,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload}@{cores}: {proc.stderr[-2000:]}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        raise RuntimeError(f"{workload}@{cores} failed its check: {proc.stdout}")
    return res["metrics"]["rows_per_s"]["value"]


def main(seed: int) -> int:
    batch4 = _rows_per_s("batch_kg", seed, 4)
    batch1 = _rows_per_s("batch_kg", seed, 1)
    stream4 = _rows_per_s("stream_kg", seed, 4)
    readings = {
        "seed": seed,
        "batch_kg_rows_per_s@4": batch4,
        "batch_kg_rows_per_s@1": batch1,
        "stream_kg_rows_per_s@4": stream4,
        "scaling_1to4": batch4 / (4 * batch1),
        "stream_over_batch": batch4 / stream4,
    }
    for k, v in readings.items():
        print(f"{k} = {v:.4f}" if isinstance(v, float) else f"{k} = {v}")
    print(json.dumps(readings))
    return 0
