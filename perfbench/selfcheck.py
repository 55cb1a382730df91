"""The benchmark's own checks (``python3 perfbench/run.py --selfcheck``):

1. each generator gives byte-identical output for one seed and different
   output for different seeds;
2. each prepared input lands on its intended side of each cutover;
3. the self-time arithmetic on a hand-built span tree;
4. BENCHMARK.json names exactly the metrics run.py emits, and a real
   invocation of each mode prints every one of them with its unit.

Prints one line per check and exits non-zero on the first failure.
"""

from __future__ import annotations

import io
import json
import os
import re
import subprocess
import sys
import tempfile

import pyarrow.parquet as pq

from perfbench import inputs, run, tracing
from perfbench.workloads import WORKLOADS


def _bytes(table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def check_generators() -> None:
    gens = {
        "transcripts": lambda s: _bytes(inputs.transcripts(s, 300)),
        "documents": lambda s: _bytes(inputs.documents(s)[0])
        + json.dumps(inputs.documents(s)[1]).encode(),
    }
    for name, gen in gens.items():
        a, b, c = gen(7), gen(7), gen(8)
        if a != b:
            raise AssertionError(f"{name}: seed 7 gave two different outputs")
        if a == c:
            raise AssertionError(f"{name}: seeds 7 and 8 gave the same output")
        print(f"ok generator {name}: deterministic per seed, differs across seeds")


def check_cutovers(seed: int) -> None:
    for name, cls in WORKLOADS.items():
        with tempfile.TemporaryDirectory(dir=run.STATE) as tmp:
            props = cls().prepare(seed, tmp)
        inputs.check_cutovers(name, props)
        print(f"ok cutovers {name} seed={seed}: {json.dumps(props, sort_keys=True)}")
    # and the check really fails on the wrong side
    try:
        inputs.check_cutovers("curate_dedup", {
            "families_over_band_cap": 0, "exact_duplicate_rows": 1,
        })
    except RuntimeError:
        print("ok cutovers: an input without an oversized family is refused")
    else:
        raise AssertionError("check_cutovers accepted a family-free input")


def check_self_time() -> None:
    """root(0-10) > extract_job(1-9) > icelite write documents(2-5) and
    markerstore.commit(6-7). The write launched one stage 2.5-4.5 (->
    assemble) and one MapInPandas stage 3-4 (-> extract); extract_job
    launched a stage 7.5-8.5 of its own layer."""
    spans = [
        {"id": 0, "name": "bench.x", "layer": "bench", "table": None,
         "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "pipeline.extract_job", "layer": "pipeline",
         "table": None, "parent": 0, "start": 1.0, "end": 9.0},
        {"id": 2, "name": "icelite.overwrite_partitions", "layer": "icelite",
         "table": "documents", "parent": 1, "start": 2.0, "end": 5.0},
        {"id": 3, "name": "markerstore.commit", "layer": "metrics",
         "table": None, "parent": 1, "start": 6.0, "end": 7.0},
    ]
    stages = [
        {"span": "2", "start": 2.5, "end": 4.5, "scopes": {"Exchange"}, "tasks": []},
        {"span": "2", "start": 3.0, "end": 4.0, "scopes": {"MapInPandas"}, "tasks": []},
        {"span": "1", "start": 7.5, "end": 8.5, "scopes": {"Exchange"}, "tasks": []},
    ]
    got = tracing.attribute(spans, stages)
    want_layers = {
        "bench": 2.0,  # 0-1 and 9-10
        "pipeline": 4.0,  # 1-2, 5-6, 7-9
        "icelite": 1.0,  # 3 s write minus the 2 s of stage intervals it launched
        "assemble": 2.0 * (2 / 3),  # the 2 s union split 2:1 over the two layers
        "extract": 2.0 * (1 / 3),
        "metrics": 1.0,
    }
    for layer, want in want_layers.items():
        if abs(got["layers"].get(layer, 0.0) - want) > 1e-9:
            raise AssertionError(f"self time of {layer}: {got['layers']} != {want_layers}")
    if abs(sum(got["layers"].values()) - 10.0) > 1e-9:
        raise AssertionError("layer times do not add up to the root span")
    if got["stage_layers"] != ["assemble", "extract", "pipeline"]:
        raise AssertionError(f"stage layers {got['stage_layers']}")
    print("ok self-time arithmetic on a hand-built span tree")


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def check_metric_names() -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    if e2e != run.END_TO_END or layer != run.PER_LAYER:
        raise AssertionError("BENCHMARK.json metrics differ from run.py's")
    names = {w["name"] for w in bench["workloads"]}
    if not names <= set(WORKLOADS):
        raise AssertionError(f"BENCHMARK.json workloads {names} not in {set(WORKLOADS)}")
    for trace, want in ((0, e2e), (1, layer)):
        proc = subprocess.run(
            [sys.executable, os.path.join(run.ROOT, "perfbench", "run.py"),
             "--workload", "curate_dedup", "--seed", "1", "--seconds", "0",
             "--trace", str(trace)],
            cwd=run.ROOT, capture_output=True, text=True, timeout=170,
        )
        if proc.returncode != 0:
            raise AssertionError(f"--trace {trace} exited {proc.returncode}: {proc.stderr[-2000:]}")
        res = _last_json(proc.stdout)
        if set(res) != {"correct", "attempted", "failed", "metrics"}:
            raise AssertionError(f"result keys {sorted(res)}")
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != want:
            raise AssertionError(f"--trace {trace} metrics {got} != {want}")
        printed = "\n".join(proc.stdout.splitlines()[:-1])
        missing = [
            k for k, u in want.items()
            if not re.search(rf"^{re.escape(k)} = \S+ {re.escape(u)}\b", printed, re.M)
        ]
        if missing:
            raise AssertionError(f"--trace {trace} did not print {missing}")
        print(f"ok --trace {trace}: every BENCHMARK.json metric printed with its unit")


def main() -> int:
    os.makedirs(run.STATE, exist_ok=True)
    check_generators()
    check_self_time()
    check_cutovers(seed=1)
    check_metric_names()
    print("selfcheck passed")
    return 0
