"""KG-construction benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload batch_kg --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Per run it

1. prepares the seed's inputs and reference outputs in a child process
   (cached under .perfbench/cache, outside set-up);
2. sets up: starts the Spark session on local[4], broadcasts the model
   and warms the forked Python workers on a slice of the input;
3. repeats the workload's operation set on a fresh output root until
   ``--seconds`` have been measured (at least once);
4. checks every output against the reference;
5. prints the machine settings, the input properties and every metric by
   name with its unit, then one JSON line with exactly ``correct``,
   ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (spans around the program's public functions plus
the Spark event log; see perfbench/tracing.py).

Other modes: ``--prep`` (the child of step 1), ``--selfcheck`` (the
benchmark's own checks) and ``--report`` (the 1-core scaling and
stream/batch readings, which take longer than one run may).
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")

# machine settings, pinned before numpy or Spark load (workers inherit them)
SETTINGS = {
    "SPARK_GRAFT_CPUS": "4",
    "SPARK_GRAFT_DRIVER_MEM": "4g",  # 4 GiB heap on a 15 GiB, 4-core machine
    "SPARK_LOCAL_DIRS": os.path.join(STATE, "spark-local"),
    "OPENBLAS_NUM_THREADS": "1",
    "OMP_NUM_THREADS": "1",
    "PYTHONHASHSEED": "0",
    # keep the JVM's and Python's scratch files inside the checkout
    "TMPDIR": os.path.join(STATE, "tmp"),
    "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(STATE, 'tmp')} -XX:-UsePerfData",
}

import argparse  # noqa: E402
import json  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

REQUIRED = [
    "antnre_spark/pipeline.py",
    "antnre_spark/streaming.py",
    "jobs/curate_corpus.py",
    "oracle/antnre_oracle.py",
    "fixtures/gen_transcripts.py",
    "fixtures/data/weights.npz",
    "fixtures/data/vocab.json",
]

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "driver_peak_rss_mb": "MB",
}

LAYERS = [
    "assemble", "extract", "icelite", "metrics", "pipeline", "link",
    "materialize", "streaming", "dedup", "curate", "textops",
]
TABLES = [
    "documents", "mentions", "relations", "surface_counts", "triple_partials",
    "triples", "entities", "vertices", "hub_entities",
]
PER_LAYER = {
    **{f"layer.{name}_s": "s" for name in LAYERS},
    "extract.task_s": "s",
    "extract.cpu_s": "s",
    "extract.task_skew": "ratio",
    "extract.python_bytes": "B",
    "assemble.task_s": "s",
    "assemble.shuffle_bytes": "B",
    "icelite.write_s": "s",
    **{f"icelite.write_s.{t}": "s" for t in TABLES},
    "icelite.load_s": "s",
    "icelite.files": "count",
    "icelite.bytes": "B",
    "icelite.commits": "count",
    "metrics.commit_s": "s",
    "metrics.commits": "count",
    "pipeline.jobs": "count",
    "pipeline.recount_s": "s",
    "link.link_s": "s",
    "link.band_dropped_ppm": "ppm",
    "link.candidates_s": "s",
    "link.candidates": "count",
    "link.verify_yield": "ratio",
    "link.cc_s": "s",
    "link.cc_jobs": "count",
    "link.canonicalize_s": "s",
    "materialize.triples_s": "s",
    "materialize.shuffle_bytes": "B",
    "streaming.phase1_s": "s",
    "streaming.relink_first_s": "s",
    "streaming.relink_last_s": "s",
    "streaming.trigger_s": "s",
    "streaming.state_rows": "count",
    "dedup.signatures_s": "s",
    "dedup.band_dropped_ppm": "ppm",
    "curate.clusters_s": "s",
    "textops.gate_s": "s",
    "spark.run_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.tasks": "count",
    "spark.jobs": "count",
    "driver.self_s": "s",
    "trace.wall_s": "s",
    "trace.unattributed_s": "s",
    "trace.unattributed_share": "ratio",
    "trace.overhead_s": "s",
}
# printed beside the per-layer metrics but not compared: output sizes and
# the linking path, which a change may move either way without being
# better or worse; they are the bases for ratios
BASES = {
    "extract.sentences": "count",
    "extract.mentions": "count",
    "extract.relations": "count",
    "link.surfaces": "count",
    "link.path": "flag",
    "materialize.triples": "count",
    "curate.survivors_exact": "count",
    "curate.survivors_neardup": "count",
    "curate.survivors_gate": "count",
}


def process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def reset_peak_rss() -> None:
    """Restart VmHWM from the current RSS (Linux clear_refs 5), so the
    peak read later covers the measured window only, not the reference
    computation or set-up before it. Where the kernel refuses, the peak
    covers the whole process."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass


def peak_rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc/self/status")


CONTROL = """
import time
import numpy as np
a = np.fromfunction(lambda i, j: ((i * 37 + j * 11) % 101) / 101.0, (1024, 1024))
t0 = time.perf_counter()
(a @ a) % 1.0
print(time.perf_counter() - t0)
"""


def control_burn() -> float:
    """bench.py's fixed-work CPU control (1024x1024 numpy matmuls), 1 of
    its 24 steps, single BLAS thread: seconds. A slow host window reads
    high before and after the run. Runs in a child, so its arrays never
    count as driver memory."""
    proc = subprocess.run(
        [sys.executable, "-c", CONTROL], capture_output=True, text=True,
        check=True, timeout=60,
    )
    return float(proc.stdout)


def layout_ok() -> bool:
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the program, missing {missing}",
              file=sys.stderr)
    return not missing


def prepare(workload: str, seed: int) -> tuple[str, dict, float]:
    """Cache dir, input properties and seconds spent preparing (0 when
    cached). Preparation runs in a child so its memory never counts as
    driver memory."""
    cache = os.path.join(STATE, "cache", f"{workload}-{seed}")
    props_path = os.path.join(cache, "props.json")
    t0 = time.time()
    if not os.path.exists(props_path):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--prep",
             "--workload", workload, "--seed", str(seed)],
            cwd=ROOT, check=True, timeout=170,
        )
    with open(props_path) as fh:
        props = json.load(fh)
    return cache, props, time.time() - t0


def prep_main(workload: str, seed: int) -> None:
    import shutil

    from perfbench import inputs
    from perfbench.workloads import WORKLOADS

    cache = os.path.join(STATE, "cache", f"{workload}-{seed}")
    tmp = cache + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    props = WORKLOADS[workload]().prepare(seed, tmp)
    inputs.check_cutovers(workload, props)
    with open(os.path.join(tmp, "props.json"), "w") as fh:
        json.dump(props, fh, sort_keys=True)
    shutil.rmtree(cache, ignore_errors=True)
    os.rename(tmp, cache)


def start_spark(cores: int, event_log: str | None):
    from antnre_spark.session import get_spark

    extra = {"spark.ui.showConsoleProgress": "false"}
    if event_log:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", cores=cores, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin (the driver's pipe) closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def walls_path(workload: str) -> str:
    return os.path.join(STATE, "walls", f"{workload}.json")


def record_wall(workload: str, wall: float) -> None:
    path = walls_path(workload)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    walls = []
    if os.path.exists(path):
        with open(path) as fh:
            walls = json.load(fh)
    with open(path, "w") as fh:
        json.dump((walls + [wall])[-50:], fh)


def untraced_median(workload: str) -> float | None:
    if not os.path.exists(walls_path(workload)):
        return None
    with open(walls_path(workload)) as fh:
        walls = json.load(fh)
    return statistics.median(walls) if walls else None


def run_benchmark(args) -> int:
    t_proc = process_start()
    from perfbench.workloads import WORKLOADS, fresh_dir

    wl = WORKLOADS[args.workload]()
    t_excluded = time.time()
    control_pre = control_burn()
    cache, props, prep_s = prepare(args.workload, args.seed)
    excluded = time.time() - t_excluded

    work = fresh_dir(os.path.join(STATE, "work", args.workload))
    event_log = fresh_dir(os.path.join(work, "eventlog")) if args.trace else None
    spark = start_spark(args.cores, event_log)
    stopped = False
    try:
        wl.warm_up(spark, cache)
        setup_s = time.time() - t_proc - excluded
        wl.reference(spark, cache)
        tracer = None
        if args.trace:
            from perfbench.tracing import Tracer

            tracer = Tracer(spark, f"{args.workload}-{args.seed}")
            tracer.install()
        iterations = []
        measured = 0.0
        reset_peak_rss()
        t_window = time.time()
        try:
            while measured < args.seconds or not iterations:
                out = fresh_dir(os.path.join(work, f"iter-{len(iterations)}"))
                if tracer:
                    with tracer.span(f"bench.{args.workload}", "bench"):
                        it = wl.run(spark, cache, out)
                else:
                    it = wl.run(spark, cache, out)
                iterations.append(it)
                measured += it.wall_s
        finally:
            if tracer:
                tracer.uninstall()
        t_window_end = time.time()
        rss_mb = peak_rss_mb()
        for it in iterations:
            wl.check(spark, cache, it)
        check_s = time.time() - t_window_end
        layer = None
        if args.trace:
            layer = traced_counts(spark, args.workload, iterations, cache)
        stop_spark(spark)
        stopped = True
    finally:
        if not stopped:
            stop_spark(spark)
    if args.trace:
        layer = per_layer_metrics(
            args.workload, tracer, event_log, iterations, layer,
            (t_window, t_window_end),
        )
    control_post = control_burn()

    ops = [op for it in iterations for op in it.ops]
    failed = [op for op in ops if not op.ok]
    wall = sum(it.wall_s for it in iterations)
    rows_ok = sum(it.rows_ok for it in iterations)
    end_to_end = {
        "setup_s": setup_s,
        "rows_per_s": rows_ok / wall,
        "batch_p50_s": statistics.median(op.seconds for op in ops),
        "driver_peak_rss_mb": rss_mb,
    }
    if not args.trace and args.cores == 4:
        record_wall(args.workload, statistics.median(it.wall_s for it in iterations))

    print("machine: " + json.dumps(
        {k: os.environ.get(k) for k in SETTINGS} | {
            "nproc": os.cpu_count(), "master": f"local[{args.cores}]",
            "control_pre_s": round(control_pre, 4),
            "control_post_s": round(control_post, 4),
        }, sort_keys=True))
    print(f"input: {args.workload} seed={args.seed} " + json.dumps(props, sort_keys=True))
    print(f"phases: prepare {prep_s:.2f} s (cached when 0), set-up "
          f"{setup_s:.2f} s, measured {wall:.2f} s, check {check_s:.2f} s, "
          f"process {time.time() - t_proc:.2f} s")
    print(f"timed: {len(iterations)} iteration(s), {wall:.3f} s, "
          f"{rows_ok} {wl.rows_label} committed and checked, "
          f"{len(ops)} operations")
    for op in failed:
        print(f"failed: {op.name}: {op.detail}")
    print(f"setup_s = {setup_s:.4f} s")
    print(f"rows_per_s = {end_to_end['rows_per_s']:.4f} 1/s "
          f"({wl.rows_label}; input size {rows_ok // len(iterations)} per iteration)")
    if args.workload == "stream_kg":
        print(f"batch_p50_s = {end_to_end['batch_p50_s']:.4f} s "
              f"(median of {len(ops)} micro-batch durations)")
    print(f"driver_peak_rss_mb = {rss_mb:.2f} MB")
    print(f"error_rate = {len(failed) / len(ops):.4f} 1 "
          f"({len(failed)} failed of {len(ops)} attempted)")
    if layer is not None:
        for name, unit in PER_LAYER.items():
            print(f"{name} = {layer[name]:.6g} {unit}")
        for name, unit in BASES.items():
            print(f"{name} = {layer[name]:.6g} {unit} (base, not compared)")
    metrics = (
        {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        if args.trace
        else {k: {"value": end_to_end[k], "unit": u} for k, u in END_TO_END.items()}
    )
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


def traced_counts(spark, workload: str, iterations, cache: str) -> dict:
    """Counts read from the last iteration's outputs and reports (outside
    the timed window, while Spark is still up)."""
    from antnre_spark import link
    from antnre_spark.icelite import IceLite

    it = iterations[-1]
    out = {}

    def rows(table: str) -> int:
        return IceLite(os.path.join(it.out, table)).total_rows()

    if workload in ("batch_kg", "stream_kg", "link_wide"):
        sfx = "_stream" if workload == "stream_kg" else ""
        if workload != "link_wide":
            out["extract.mentions"] = rows("mentions" + sfx)
            out["extract.relations"] = rows("relations" + sfx)
        out["materialize.triples"] = rows("triples" + sfx)
        mentions = IceLite(os.path.join(it.out, "mentions" + sfx)).load(spark)
        surfaces = link.distinct_surfaces(mentions).localCheckpoint(eager=True)
        out["link.surfaces"] = surfaces.count()
        stats = link.band_bucket_stats(surfaces).collect()
        members = sum(r["n_bands"] * r["mean_band_size"] for r in stats)
        dropped = sum(r["dropped_frac"] * r["n_bands"] * r["mean_band_size"] for r in stats)
        out["link.band_dropped_ppm"] = 1e6 * dropped / members if members else 0.0
        if workload == "stream_kg":
            out["streaming.state_rows"] = rows("surface_counts_stream") + rows(
                "triple_partials_stream"
            )
    if workload == "link_wide":
        # candidate and verified pair counts of the band join, from the
        # same rules replayed over the input (inputs.verified_edges)
        with open(os.path.join(cache, "props.json")) as fh:
            props = json.load(fh)
        out["link.candidates"] = props["candidate_pairs"]
        out["link.verify_yield"] = props["verified_pairs"] / props["candidate_pairs"]
    if workload == "curate_dedup":
        # curate_corpus' own report
        metrics = it.extra["metrics"]
        out["dedup.band_dropped_ppm"] = metrics.get("minhash_dropped_ppm", 0)
        out["curate.survivors_exact"] = metrics.get("after_exact_dedup", 0)
        out["curate.survivors_neardup"] = metrics.get("after_neardup_dedup", 0)
        out["curate.survivors_gate"] = metrics.get("after_quality_gate", 0)
    return out


def per_layer_metrics(workload, tracer, event_log, iterations, counts, window) -> dict:
    from perfbench import tracing

    spans = tracer.spans
    log = tracing.read_event_log(event_log)
    lo, hi = window
    stages = [s for s in log["stages"] if lo <= s["start"] <= hi]
    jobs = {j: v for j, v in log["jobs"].items() if lo <= v["start"] <= hi}
    attr = tracing.attribute(spans, stages)
    layers = attr["layers"]
    by_id = {s["id"]: s for s in spans}

    def named(prefix):
        return [s for s in spans if s["name"].startswith(prefix)]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def under(span, pred):
        while span is not None:
            if pred(span):
                return True
            span = by_id.get(span["parent"])
        return False

    def job_span(j):
        return by_id.get(int(j["span"])) if j["span"] is not None else None

    m = dict.fromkeys(PER_LAYER | BASES, 0.0)
    m.update(counts)
    for name in LAYERS:
        m[f"layer.{name}_s"] = layers.get(name, 0.0)
    sl = attr["stage_layers"]
    ext = tracing.stage_sums(stages, lambda i: sl[i] == "extract")
    m["extract.task_s"] = ext["run_s"]
    m["extract.cpu_s"] = ext["cpu_s"]
    m["extract.task_skew"] = tracing.task_skew(stages, sl, "extract")
    is_ext = lambda i: sl[i] == "extract"  # noqa: E731
    m["extract.python_bytes"] = tracing.plan_metric(
        stages, is_ext, "MapInPandas", "data sent to Python workers"
    ) + tracing.plan_metric(
        stages, is_ext, "MapInPandas", "data returned from Python workers"
    )
    m["extract.sentences"] = tracing.plan_metric(
        stages, is_ext, "MapInPandas", "number of output rows"
    )
    asm = tracing.stage_sums(stages, lambda i: sl[i] == "assemble")
    m["assemble.task_s"] = asm["run_s"]
    m["assemble.shuffle_bytes"] = asm["shuffle_bytes"]
    writes = [s for s in spans if s["name"] in (
        "icelite.overwrite_partitions", "icelite.overwrite", "icelite.append")]
    m["icelite.write_s"] = sum(attr["self"][s["id"]] for s in writes)
    for t in TABLES:
        m[f"icelite.write_s.{t}"] = sum(
            attr["self"][s["id"]] for s in writes
            if s["table"] in (t, f"{t}_stream")
        )
    m["icelite.load_s"] = sum(
        attr["self"][s["id"]] for s in named("icelite.load") + named("icelite.total_rows")
    )
    m["icelite.commits"] = len(writes)
    files = [
        os.path.join(d, f)
        for it in iterations
        for d, _, fs in os.walk(it.out)
        for f in fs
        if f.endswith(".parquet") and "_checkpoint" not in d
    ]
    m["icelite.files"] = len(files) / len(iterations)
    m["icelite.bytes"] = sum(os.path.getsize(f) for f in files) / len(iterations)
    commits = named("markerstore.commit")
    m["metrics.commit_s"] = dur(commits)
    m["metrics.commits"] = len(commits)
    pipe_jobs = [j for j in jobs.values() if under(job_span(j), lambda s: s["layer"] == "pipeline")]
    m["pipeline.jobs"] = len(pipe_jobs)
    pipe_ids = {str(s["id"]) for s in spans if s["layer"] == "pipeline"}
    m["pipeline.recount_s"] = tracing.stage_sums(
        stages, lambda i: stages[i]["span"] in pipe_ids
    )["wall"]
    m["link.path"] = 1.0 if named("link.candidate_pairs") else 0.0
    m["link.link_s"] = sum(attr["self"][s["id"]] for s in named("link.link_surfaces"))
    cc = named("link.connected_components")
    m["link.cc_s"] = dur(cc)
    # the first job inside connected_components checkpoints the symmetric
    # edge list, which evaluates signatures -> bands -> self-join -> verify
    for s in cc:
        first = min(
            (j for j in jobs.values() if j["span"] == str(s["id"]) and j["end"]),
            key=lambda j: j["start"], default=None,
        )
        if first and under(s, lambda p: p["name"] == "link.link_surfaces"):
            m["link.candidates_s"] += first["end"] - first["start"]
    cc_ids = {s["id"] for s in cc}
    m["link.cc_jobs"] = sum(
        under(job_span(j), lambda s: s["id"] in cc_ids) for j in jobs.values()
    )
    # canonicalize only plans: its joins and min_by aggregate run in the
    # surface_map.count() job link_surfaces launches after it returns
    for s in named("link.canonicalize"):
        later = [
            (j["start"], j["end"]) for j in jobs.values()
            if j["end"] and j["span"] == str(s["parent"]) and j["start"] >= s["end"]
        ]
        m["link.canonicalize_s"] += attr["self"][s["id"]] + tracing.union(later)
    mat = tracing.stage_sums(stages, lambda i: sl[i] == "materialize")
    m["materialize.triples_s"] = mat["wall"]
    m["materialize.shuffle_bytes"] = mat["shuffle_bytes"]
    batches = named("streaming.process_kg_batch")
    relinks = [
        s for s in named("streaming.materialize_kg_stream")
        if by_id.get(s["parent"], {}).get("name") == "streaming.process_kg_batch"
    ]
    m["streaming.phase1_s"] = dur(batches) - dur(relinks)
    if relinks:
        m["streaming.relink_first_s"] = relinks[0]["end"] - relinks[0]["start"]
        m["streaming.relink_last_s"] = relinks[-1]["end"] - relinks[-1]["start"]
    if workload == "stream_kg":
        listener = sum(op.seconds for it in iterations for op in it.ops)
        m["streaming.trigger_s"] = listener - dur(batches)
    m["dedup.signatures_s"] = tracing.stage_sums(
        stages, lambda i: "ArrowEvalPython" in stages[i]["scopes"] and sl[i] == "dedup"
    )["wall"]
    m["curate.clusters_s"] = dur(named("curate.dup_clusters")) + sum(
        s["end"] - s["start"] for s in cc if under(s, lambda p: p["layer"] == "curate")
    )
    m["textops.gate_s"] = layers.get("textops", 0.0)
    eng = tracing.stage_sums(stages, lambda i: True)
    m["spark.run_s"] = eng["run_s"]
    m["spark.cpu_s"] = eng["cpu_s"]
    m["spark.gc_s"] = eng["gc_s"]
    m["spark.shuffle_bytes"] = eng["shuffle_bytes"]
    m["spark.spill_bytes"] = eng["spill_bytes"]
    m["spark.tasks"] = eng["tasks"]
    m["spark.jobs"] = len(jobs)
    roots = [s for s in spans if s["parent"] is None]
    busy = tracing.union([(j["start"], j["end"]) for j in jobs.values() if j["end"]])
    m["driver.self_s"] = max(dur(roots) - busy, 0.0)
    wall = sum(it.wall_s for it in iterations)
    named_total = sum(layers.get(name, 0.0) for name in LAYERS)
    m["trace.wall_s"] = wall
    m["trace.unattributed_s"] = max(wall - named_total, 0.0)
    m["trace.unattributed_share"] = m["trace.unattributed_s"] / wall
    base = untraced_median(workload)
    m["trace.overhead_s"] = wall / len(iterations) - base if base else 0.0
    return {k: float(v) for k, v in m.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=4, help="local[N]; --report uses 1")
    ap.add_argument("--prep", action="store_true")
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--report", action="store_true")
    args = ap.parse_args()
    if not layout_ok():
        return 2
    os.environ.update(SETTINGS)
    os.makedirs(SETTINGS["TMPDIR"], exist_ok=True)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    if args.selfcheck:
        from perfbench import selfcheck

        return selfcheck.main()
    if args.report:
        from perfbench import report

        return report.main(args.seed)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    if args.prep:
        prep_main(args.workload, args.seed)
        return 0
    return run_benchmark(args)


if __name__ == "__main__":
    sys.exit(main())
