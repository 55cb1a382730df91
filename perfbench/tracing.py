"""Spans around the program's public functions, Spark event-log stage
metrics, and the per-layer self-time arithmetic of the traced run.

The program is not edited: ``Tracer.install`` replaces module attributes
(``link.candidate_pairs``) and class methods (``IceLite.load``) with
wrappers for the life of one traced run, and ``uninstall`` puts the
originals back. Each wrapper records a span (name, layer, start, end,
parent, run id) in memory and sets the Spark local property
``perfbench.span`` to the span id, so every job and stage in the event log
names the span that launched it.

Attribution. Spark is lazy, so a span around a plan builder such as
``extract.extract_turns`` covers only planning; its compute runs later
inside whichever span triggers the action. A stage is therefore given to
a layer by these rules, first match wins:

1. the stage holds a ``MapInPandas`` plan node -> ``extract`` (the model);
2. the stage holds an ``ArrowEvalPython`` node under ``curate`` ->
   ``dedup`` (the MinHash signature UDF);
3. ``curate_corpus`` itself launched it and it holds a ``Generate`` node ->
   ``textops`` (the quality gate's trigram explode);
4. it was launched by an IceLite write of ``documents`` -> ``assemble``
   (the conv_id exchange and the fused assembly);
5. it was launched by an IceLite write of a triples-derived table ->
   ``materialize``;
6. otherwise the layer of the span that launched it.

A span's self time is its duration minus the time its child spans cover,
minus the stage intervals it launched that rules 1-5 gave to another
layer; those intervals are added to that layer instead. Layer times then
add up to the traced wall minus the benchmark's own glue, which is
reported as ``unattributed_s``.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import threading
import time

SPAN_KEY = "perfbench.span"

MATERIALIZED_TABLES = {
    "triples", "vertices", "hub_entities", "triple_partials", "triples_stream",
    "triple_partials_stream",
}

# (module path, attribute, layer): plain functions
FUNCTIONS = [
    ("antnre_spark.pipeline", "extract_job", "pipeline"),
    ("antnre_spark.pipeline", "link_job", "pipeline"),
    ("antnre_spark.assemble", "assemble_documents_fused", "assemble"),
    ("antnre_spark.assemble", "partition_for_extraction", "assemble"),
    ("antnre_spark.assemble", "explode_documents", "assemble"),
    ("antnre_spark.assemble", "filter_extractable", "assemble"),
    ("antnre_spark.extract", "broadcast_model", "extract"),
    ("antnre_spark.extract", "extract_turns", "extract"),
    ("antnre_spark.extract", "explode_mentions", "extract"),
    ("antnre_spark.extract", "explode_relations", "extract"),
    ("antnre_spark.link", "link_entities", "link"),
    ("antnre_spark.link", "link_surfaces", "link"),
    ("antnre_spark.link", "distinct_surfaces", "link"),
    ("antnre_spark.link", "surface_counts", "link"),
    ("antnre_spark.link", "merge_surface_counts", "link"),
    ("antnre_spark.link", "candidate_pairs", "link"),
    ("antnre_spark.link", "connected_components", "link"),
    ("antnre_spark.link", "canonicalize", "link"),
    ("antnre_spark.link", "build_entities", "link"),
    ("antnre_spark.materialize", "build_triples", "materialize"),
    ("antnre_spark.materialize", "build_vertices", "materialize"),
    ("antnre_spark.materialize", "hub_entities", "materialize"),
    ("antnre_spark.materialize", "partition_metrics", "materialize"),
    ("antnre_spark.materialize", "triple_partials", "materialize"),
    ("antnre_spark.materialize", "merge_triple_partials", "materialize"),
    ("antnre_spark.streaming", "start_kg_stream", "streaming"),
    ("antnre_spark.streaming", "process_kg_batch", "streaming"),
    ("antnre_spark.streaming", "materialize_kg_stream", "streaming"),
    ("antnre_spark.dedup", "exact_dedup", "dedup"),
    ("antnre_spark.dedup", "minhash_signed_bands", "dedup"),
    ("antnre_spark.dedup", "minhash_bucket_stats", "dedup"),
    ("antnre_spark.dedup", "minhash_dup_candidates", "dedup"),
    ("antnre_spark.curate", "dup_clusters", "curate"),
    ("antnre_spark.textops", "with_language_id", "textops"),
    ("antnre_spark.textops", "with_trigram_logprob_join", "textops"),
    ("jobs.curate_corpus", "curate_corpus", "curate"),
]

# (module path, class, method, layer): methods, tagged with the table name
METHODS = [
    ("antnre_spark.icelite", "IceLite", "overwrite_partitions", "icelite"),
    ("antnre_spark.icelite", "IceLite", "overwrite", "icelite"),
    ("antnre_spark.icelite", "IceLite", "append", "icelite"),
    ("antnre_spark.icelite", "IceLite", "load", "icelite"),
    ("antnre_spark.icelite", "IceLite", "total_rows", "icelite"),
    ("antnre_spark.metrics", "MarkerStore", "commit", "metrics"),
]


class Tracer:
    """In-memory span recorder. One instance per traced run."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._patches: list[tuple] = []

    # ---- spans ------------------------------------------------------------

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str, table: str | None = None):
        rec = self._open(name, layer, table)
        try:
            yield rec
        finally:
            self._close(rec)

    def _open(self, name: str, layer: str, table: str | None) -> dict:
        stack = self._stack()
        # a callback thread (a foreachBatch micro-batch) hangs under the
        # innermost span the main thread has open, e.g. the stream's run
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[-1] if self._main_stack else None
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid, "name": name, "layer": layer, "table": table,
                "parent": parent, "run": self.run_id, "start": time.time(),
                "end": None,
            }
            self.spans.append(rec)
        rec["_prev"] = self.sc.getLocalProperty(SPAN_KEY)
        self.sc.setLocalProperty(SPAN_KEY, str(sid))
        stack.append(sid)
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = time.time()
        self._stack().pop()
        self.sc.setLocalProperty(SPAN_KEY, rec.pop("_prev"))

    # ---- wrappers -----------------------------------------------------------

    def install(self) -> None:
        import importlib

        for mod_name, attr, layer in FUNCTIONS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            name = f"{mod_name.rsplit('.', 1)[-1]}.{attr}"
            self._patch(mod, attr, orig, self._wrap(orig, name, layer))
        for mod_name, cls_name, attr, layer in METHODS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            orig = cls.__dict__[attr]
            name = f"{cls_name.lower()}.{attr}"
            self._patch(cls, attr, orig, self._wrap(orig, name, layer, True))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def _patch(self, owner, attr, orig, new) -> None:
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, new)

    def _wrap(self, fn, name: str, layer: str, method: bool = False):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            table = os.path.basename(args[0].path) if method and hasattr(
                args[0], "path"
            ) else None
            with tracer.span(name, layer, table):
                return fn(*args, **kwargs)

        return wrapper


# ---- event log ----------------------------------------------------------


def _plan_metric_ids(plan: dict, out: dict) -> None:
    """accumulator id -> (plan node name, metric name), recursively."""
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (plan.get("nodeName", ""), m["name"])
    for child in plan.get("children", []):
        _plan_metric_ids(child, out)


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks of the one application logged in
    ``log_dir`` (uncompressed, not rolled)."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    jobs: dict[int, dict] = {}
    stages: dict[tuple, dict] = {}
    accum_names: dict[int, tuple] = {}
    with open(files[0]) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {
                    "start": e["Submission Time"] / 1000,
                    "end": None,
                    "span": (e.get("Properties") or {}).get(SPAN_KEY),
                }
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
            elif ev == "SparkListenerStageSubmitted":
                si = e["Stage Info"]
                stages[(si["Stage ID"], si["Stage Attempt ID"])] = {
                    "span": (e.get("Properties") or {}).get(SPAN_KEY),
                    "tasks": [],
                }
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                st = stages.setdefault(
                    (si["Stage ID"], si["Stage Attempt ID"]),
                    {"span": None, "tasks": []},
                )
                st["start"] = si.get("Submission Time", 0) / 1000
                st["end"] = si.get("Completion Time", 0) / 1000
                st["n_tasks"] = si["Number of Tasks"]
                st["scopes"] = {
                    json.loads(r["Scope"])["name"]
                    for r in si.get("RDD Info", [])
                    if r.get("Scope")
                }
                st["accums"] = {
                    a["ID"]: a.get("Value") for a in si.get("Accumulables", [])
                }
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                key = (e["Stage ID"], e["Stage Attempt ID"])
                stages.setdefault(key, {"span": None, "tasks": []})[
                    "tasks"
                ].append(
                    {
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    }
                )
            elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metric_ids(e.get("sparkPlanInfo", {}), accum_names)
    for st in stages.values():
        st.setdefault("start", 0.0)
        st.setdefault("end", 0.0)
        st.setdefault("scopes", set())
        named: dict[tuple, float] = {}
        for aid, val in st.pop("accums", {}).items():
            if aid in accum_names:
                try:
                    named[accum_names[aid]] = named.get(accum_names[aid], 0) + float(val)
                except (TypeError, ValueError):
                    pass
        st["plan_metrics"] = named
    return {"jobs": jobs, "stages": list(stages.values())}


# ---- attribution -----------------------------------------------------------


def union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(a: float, b: float, lo: float, hi: float):
    s, e = max(a, lo), min(b, hi)
    return (s, e) if e > s else None


def stage_layer(stage: dict, span: dict | None, spans: list[dict]) -> str:
    """The layer a stage's compute belongs to (rules in the module doc)."""
    if "MapInPandas" in stage["scopes"]:
        return "extract"
    if span is None:
        return "unattributed"
    if "ArrowEvalPython" in stage["scopes"] and _under(span, "curate", spans):
        return "dedup"
    if span["name"] == "curate_corpus.curate_corpus" and "Generate" in stage["scopes"]:
        return "textops"
    if span["name"].startswith("icelite.") and span["table"] == "documents":
        return "assemble"
    if span["name"].startswith("icelite.") and span["table"] in MATERIALIZED_TABLES:
        return "materialize"
    return span["layer"]


def _under(span: dict, layer: str, spans: list[dict]) -> bool:
    while span is not None:
        if span["layer"] == layer:
            return True
        span = spans[span["parent"]] if span["parent"] is not None else None
    return False


def attribute(spans: list[dict], stages: list[dict]) -> dict:
    """Per-layer seconds from closed spans and logged stages.

    Returns ``{"layers": {layer: s}, "self": {span id: s},
    "stage_layers": [layer per stage]}``. The spans' own layer times plus
    moved stage intervals sum to the union of the root spans exactly."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    moved: dict[int, dict[str, list]] = {}
    stage_layers = []
    for st in stages:
        sid = st["span"]
        span = by_id.get(int(sid)) if sid is not None else None
        layer = stage_layer(st, span, spans)
        stage_layers.append(layer)
        if span is None or layer == span["layer"]:
            continue
        iv = _clip(st["start"], st["end"], span["start"], span["end"])
        if iv:
            moved.setdefault(span["id"], {}).setdefault(layer, []).append(iv)
    layers: dict[str, float] = {}
    self_s: dict[int, float] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        kids = [
            iv
            for c in children.get(s["id"], [])
            if (iv := _clip(c["start"], c["end"], s["start"], s["end"]))
        ]
        own = dur - union(kids)
        mv = moved.get(s["id"], {})
        if mv:
            all_iv = [iv for ivs in mv.values() for iv in ivs]
            total_moved = min(union(all_iv), own)
            per = {lay: union(ivs) for lay, ivs in mv.items()}
            scale = total_moved / sum(per.values()) if sum(per.values()) else 0
            for lay, t in per.items():
                layers[lay] = layers.get(lay, 0.0) + t * scale
            own -= total_moved
        self_s[s["id"]] = own
        layers[s["layer"]] = layers.get(s["layer"], 0.0) + own
    return {"layers": layers, "self": self_s, "stage_layers": stage_layers}


def task_skew(stages: list[dict], stage_layers: list[str], layer: str) -> float:
    """max / median task run time over the stages of one layer, the worst
    stage (stages with fewer than 4 tasks are skipped)."""
    worst = 0.0
    for st, lay in zip(stages, stage_layers):
        runs = [t["run_ms"] for t in st["tasks"]]
        if lay != layer or len(runs) < 4:
            continue
        med = statistics.median(runs)
        if med > 0:
            worst = max(worst, max(runs) / med)
    return worst


def stage_sums(stages: list[dict], pick) -> dict:
    """Task-metric totals over the stages ``pick(stage_index)`` accepts."""
    out = {"run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0,
           "spill_bytes": 0, "tasks": 0, "wall": []}
    for i, st in enumerate(stages):
        if not pick(i):
            continue
        for t in st["tasks"]:
            out["run_s"] += t["run_ms"] / 1000
            out["cpu_s"] += t["cpu_ns"] / 1e9
            out["gc_s"] += t["gc_ms"] / 1000
            out["shuffle_bytes"] += t["shuffle_w"]
            out["spill_bytes"] += t["spill"]
        out["tasks"] += len(st["tasks"])
        out["wall"].append((st["start"], st["end"]))
    out["wall"] = union(out["wall"])
    return out


def plan_metric(stages: list[dict], pick, node: str, metric: str) -> float:
    return sum(
        v
        for i, st in enumerate(stages)
        if pick(i)
        for (n, m), v in st["plan_metrics"].items()
        if n == node and m == metric
    )
