"""The benchmark's workloads: per-seed preparation (inputs and reference
outputs), the warm-up that ends set-up, one timed operation set, and the
check of its outputs against the reference.

Each ``run`` returns an ``Iteration``: the wall of the timed call and
one ``Op`` per operation, with the input rows it committed, whose failure the
check records (an extract bucket or the link job; a micro-batch; the
curation call).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs

WEIGHTS = "fixtures/data/weights.npz"
VOCAB = "fixtures/data/vocab.json"
# jobs/extract.py defaults to 8 buckets; each bucket is ~10 s of mostly
# fixed Spark jobs on local[4], so one keeps a run inside its time budget
N_BUCKETS = 1
CONF_ATOL = 1e-6  # tests/test_parity.py tolerance on mention conf


@dataclass
class Op:
    name: str
    seconds: float
    rows: int = 0  # input rows this op commits
    ok: bool = True
    detail: str = ""


@dataclass
class Iteration:
    wall_s: float
    ops: list[Op]
    out: str
    extra: dict = field(default_factory=dict)

    @property
    def rows_ok(self) -> int:
        """Input rows committed by ops that passed the check."""
        return sum(op.rows for op in self.ops if op.ok)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _write_oracle(res, cache: str) -> None:
    res.mentions.to_parquet(os.path.join(cache, "ref_mentions.parquet"), index=False)
    res.relations.to_parquet(os.path.join(cache, "ref_relations.parquet"), index=False)
    res.triples[["subj", "pred", "obj", "n_evidence"]].to_parquet(
        os.path.join(cache, "ref_triples.parquet"), index=False
    )
    res.entities[["entity_id", "canonical", "n_mentions"]].to_parquet(
        os.path.join(cache, "ref_entities.parquet"), index=False
    )


def read_table(path: str, columns: list[str]) -> pd.DataFrame:
    """An IceLite table's current snapshot as pandas, read with pyarrow
    from the files its manifest lists (partition values from the
    manifest), four files at a time. Keeps the check off Spark: the sinks
    hold hundreds of tiny files, which cost seconds of Spark jobs to read
    back."""
    from antnre_spark.icelite import IceLite

    table = IceLite(path)
    snap = table.current_snapshot()

    def read(f: dict) -> pa.Table:
        parts = f["partitions"]
        t = pq.read_table(
            os.path.join(table.data_dir, f["path"]),
            columns=[c for c in columns if c not in parts],
        )
        for col in columns:
            if col in parts:
                t = t.append_column(col, pa.array([parts[col]] * t.num_rows, pa.string()))
        return t.select(columns)

    with ThreadPoolExecutor(4) as pool:
        tables = list(pool.map(read, table.manifest(snap)["files"] if snap is not None else []))
    if not tables:
        return pd.DataFrame(columns=columns)
    return pa.concat_tables(tables, promote_options="permissive").to_pandas()


def _read_ref(cache: str, name: str) -> pd.DataFrame:
    return pd.read_parquet(os.path.join(cache, f"ref_{name}.parquet"))


def _mention_diff(got: pd.DataFrame, want: pd.DataFrame) -> str:
    """'' when the mention rows match the reference (conf within
    CONF_ATOL), else a short reason."""
    if len(got) != len(want):
        return f"{len(got)} mentions, reference {len(want)}"
    j = got.merge(want, on=["mention_id", "ent_type", "surface"], how="inner")
    if len(j) != len(want):
        return f"{len(want) - len(j)} mentions differ from the reference"
    worst = (j["conf_x"] - j["conf_y"]).abs().max() if len(j) else 0.0
    return "" if worst <= CONF_ATOL else f"mention conf off by {worst:.2e}"


def _relation_diff(got: pd.DataFrame, want: pd.DataFrame) -> str:
    keys = ["subj_mention_id", "obj_mention_id", "pred"]
    g = set(map(tuple, got[keys].itertuples(index=False)))
    w = set(map(tuple, want[keys].itertuples(index=False)))
    return "" if g == w else f"{len(g ^ w)} relations differ from the reference"


def _kg_diff(triples: pd.DataFrame, entities: pd.DataFrame, cache: str) -> str:
    """Triples (subj, pred, obj, n_evidence) and entities (entity_id,
    canonical, n_mentions) against the oracle's."""
    def rows(df, cols):
        return {tuple(r) for r in df[cols].astype(str).itertuples(index=False)}

    tcols = ["subj", "pred", "obj", "n_evidence"]
    ecols = ["entity_id", "canonical", "n_mentions"]
    bad = []
    if rows(triples, tcols) != rows(_read_ref(cache, "triples"), tcols):
        bad.append("triples")
    if rows(entities, ecols) != rows(_read_ref(cache, "entities"), ecols):
        bad.append("entities")
    return f"{' and '.join(bad)} differ from the oracle" if bad else ""


class Workload:
    name = ""
    rows_label = ""

    def prepare(self, seed: int, cache: str) -> dict:
        """Write inputs and reference outputs under ``cache``; return the
        input properties. Runs in its own process, outside set-up."""
        raise NotImplementedError

    def warm_up(self, spark, cache: str) -> None:
        """The last step of set-up: load the model (or UDF) into forked
        Python workers over a small slice of the input."""
        raise NotImplementedError

    def reference(self, spark, cache: str) -> None:
        """Reference outputs that need Spark: computed after set-up and
        before the measured window, cached per seed."""

    def run(self, spark, cache: str, out: str) -> Iteration:
        raise NotImplementedError

    def check(self, spark, cache: str, it: Iteration) -> None:
        """Mark each op of ``it`` failed whose output differs from the
        reference."""
        raise NotImplementedError


def _warm_extract(spark, table_path: str) -> None:
    from antnre_spark import assemble, extract

    w_bc, v_bc, key = extract.broadcast_model(spark, WEIGHTS, VOCAB)
    n = spark.sparkContext.defaultParallelism
    head = spark.read.parquet(table_path).limit(200)
    extract.extract_turns(
        assemble.partition_for_extraction(assemble.filter_extractable(head), n),
        w_bc, v_bc, model_key=key,
    ).count()


class BatchKg(Workload):
    name = "batch_kg"
    rows_label = "turns"

    def prepare(self, seed, cache):
        from oracle.antnre_oracle import run_oracle

        table = inputs.transcripts(seed, inputs.BATCH_TURNS)
        pq.write_table(table, os.path.join(cache, "transcripts.parquet"))
        res = run_oracle(table.to_pandas(), WEIGHTS, VOCAB)
        _write_oracle(res, cache)
        return inputs.transcript_properties(table, res.mentions, res.triples)

    def warm_up(self, spark, cache):
        _warm_extract(spark, os.path.join(cache, "transcripts.parquet"))

    def run(self, spark, cache, out):
        from antnre_spark import pipeline
        from antnre_spark.schema import TRANSCRIPTS

        cfg = pipeline.PipelineConfig(
            out_root=out, weights_npz=WEIGHTS, vocab_json=VOCAB,
            n_buckets=N_BUCKETS,
        )
        turns = spark.read.schema(TRANSCRIPTS).parquet(
            os.path.join(cache, "transcripts.parquet")
        )
        ops: list[Op] = []
        t0 = time.time()
        error = ""
        try:
            pipeline.extract_job(spark, turns, cfg)
        except Exception as exc:  # a failed op is counted, not fatal
            error = f"extract_job raised {exc!r:.200}"
        t1 = time.time()
        markers = sorted(
            cfg.markers().rows("extract"), key=lambda r: r["committed_at"]
        )
        prev = t0
        for m in markers:
            done = pd.Timestamp(m["committed_at"]).timestamp()
            ops.append(
                Op(f"bucket {m['partition_key']}", done - prev, m["input_rows"])
            )
            prev = done
        for _ in range(N_BUCKETS - len(markers)):
            ops.append(Op("bucket ?", t1 - prev, 0, False, error or "no marker"))
        link_ok, link_err = True, ""
        try:
            pipeline.link_job(spark, cfg)
        except Exception as exc:
            link_ok, link_err = False, f"link_job raised {exc!r:.200}"
        t2 = time.time()
        ops.append(Op("link", t2 - t1, 0, link_ok, link_err))
        return Iteration(t2 - t0, ops, out)

    def check(self, spark, cache, it):
        from pyspark.sql import functions as F

        from antnre_spark import pipeline

        want_m = _read_ref(cache, "mentions")
        want_r = _read_ref(cache, "relations")
        convs = sorted(set(want_m["conv_id"]) | set(want_r["conv_id"]))
        bucket = {
            r["conv_id"]: str(r["b"])
            for r in spark.createDataFrame([(c,) for c in convs], "conv_id string")
            .select("conv_id", pipeline.bucket_of(F.col("conv_id"), N_BUCKETS).alias("b"))
            .collect()
        }
        got_m = read_table(
            os.path.join(it.out, "mentions"),
            ["mention_id", "ent_type", "surface", "conf", "bucket"],
        )
        got_r = read_table(
            os.path.join(it.out, "relations"),
            ["subj_mention_id", "obj_mention_id", "pred", "bucket"],
        )
        want_m = want_m.assign(bucket=want_m["conv_id"].map(bucket))
        want_r = want_r.assign(bucket=want_r["conv_id"].map(bucket))
        for op in it.ops:
            if not op.ok:
                continue
            if op.name.startswith("bucket "):
                b = op.name.split(" ", 1)[1]
                why = _mention_diff(
                    got_m[got_m["bucket"] == b].drop(columns="bucket"),
                    want_m[want_m["bucket"] == b][
                        ["mention_id", "ent_type", "surface", "conf"]
                    ],
                ) or _relation_diff(
                    got_r[got_r["bucket"] == b],
                    want_r[want_r["bucket"] == b],
                )
            else:
                why = _kg_diff(
                    read_table(
                        os.path.join(it.out, "triples"),
                        ["subj", "pred", "obj", "n_evidence"],
                    ),
                    read_table(
                        os.path.join(it.out, "entities"),
                        ["entity_id", "canonical", "n_mentions"],
                    ),
                    cache,
                )
            if why:
                op.ok, op.detail = False, why


class _ProgressLog:
    """StreamingQueryListener target: micro-batch progress per query."""

    def __init__(self):
        self.events: dict[str, list[dict]] = {}
        self.lock = threading.Lock()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with log.lock:
                    log.events.setdefault(str(p.id), []).append(
                        {"batch": p.batchId, "ms": p.durationMs.get("triggerExecution", 0),
                         "rows": p.numInputRows}
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return Listener()

    def wait_for(self, query_id: str, n: int, timeout: float = 10.0) -> list[dict]:
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self.lock:
                got = [e for e in self.events.get(query_id, []) if e["rows"] > 0]
            if len(got) >= n:
                return sorted(got, key=lambda e: e["batch"])
            time.sleep(0.05)
        return sorted(got, key=lambda e: e["batch"])


class StreamKg(Workload):
    name = "stream_kg"
    rows_label = "turns"
    files_per_trigger = 8  # streaming.start_kg_stream default

    def __init__(self):
        self.progress = _ProgressLog()

    def prepare(self, seed, cache):
        from oracle.antnre_oracle import run_oracle

        table = inputs.dedup_latest(inputs.transcripts(seed, inputs.STREAM_TURNS))
        drop = fresh_dir(os.path.join(cache, "stream_in"))
        keys = {}
        for i, part in enumerate(inputs.stream_files(table, inputs.STREAM_FILES)):
            name = f"part-{i:04d}.parquet"
            pq.write_table(part, os.path.join(drop, name))
            keys[name] = [
                [c, int(t)]
                for c, t in zip(part.column("conv_id").to_pylist(),
                                part.column("turn_idx").to_pylist())
            ]
        with open(os.path.join(cache, "stream_keys.json"), "w") as fh:
            json.dump(keys, fh)
        res = run_oracle(table.to_pandas(), WEIGHTS, VOCAB)
        _write_oracle(res, cache)
        props = inputs.transcript_properties(table, res.mentions, res.triples)
        props["files"] = inputs.STREAM_FILES
        props["micro_batches"] = -(-inputs.STREAM_FILES // self.files_per_trigger)
        return props

    def warm_up(self, spark, cache):
        spark.streams.addListener(self.progress.listener())
        _warm_extract(spark, os.path.join(cache, "stream_in", "part-0000.parquet"))

    def run(self, spark, cache, out):
        from antnre_spark import streaming

        n_batches = -(-inputs.STREAM_FILES // self.files_per_trigger)
        ckpt = fresh_dir(os.path.join(out, "_checkpoint"))
        t0 = time.time()
        error = ""
        query_id = ""
        try:
            q = streaming.start_kg_stream(
                spark, os.path.join(cache, "stream_in"), out, WEIGHTS, VOCAB, ckpt
            )
            query_id = str(q.id)
            q.awaitTermination()
            streaming.materialize_kg_stream(spark, streaming.kg_stream_tables(out))
        except Exception as exc:
            error = f"stream raised {exc!r:.200}"
        t1 = time.time()
        events = self.progress.wait_for(query_id, n_batches) if query_id else []
        # rows are filled in by check() from the files each batch read:
        # numInputRows counts every scan of the batch, not its turns
        ops = [Op(f"batch {e['batch']}", e["ms"] / 1000) for e in events]
        for _ in range(n_batches - len(ops)):
            ops.append(Op("batch ?", 0.0, 0, False, error or "no progress event"))
        return Iteration(t1 - t0, ops, out, {"ckpt": ckpt})

    def _batch_files(self, ckpt: str) -> dict[int, list[str]]:
        src = os.path.join(ckpt, "sources", "0")
        out: dict[int, list[str]] = {}
        for name in os.listdir(src) if os.path.isdir(src) else []:
            if not name.isdigit():
                continue
            with open(os.path.join(src, name)) as fh:
                for line in fh.read().splitlines()[1:]:
                    path = json.loads(line)["path"]
                    out.setdefault(int(name), []).append(os.path.basename(path))
        return out

    def check(self, spark, cache, it):
        from antnre_spark import streaming

        tables = streaming.kg_stream_tables(it.out)
        with open(os.path.join(cache, "stream_keys.json")) as fh:
            keys = json.load(fh)
        files = self._batch_files(it.extra["ckpt"])
        want_m = _read_ref(cache, "mentions")
        want_r = _read_ref(cache, "relations")
        got_m = read_table(
            tables["mentions"].path,
            ["mention_id", "ent_type", "surface", "conf", "batch_id"],
        )
        got_r = read_table(
            tables["relations"].path,
            ["subj_mention_id", "obj_mention_id", "pred", "batch_id"],
        )
        last = max(files) if files else -1
        for op in it.ops:
            if not op.ok:
                continue
            b = int(op.name.split(" ", 1)[1])
            turn_keys = {
                (c, t) for f in files.get(b, []) for c, t in keys.get(f, [])
            }
            sel_m = [
                (c, t) in turn_keys
                for c, t in zip(want_m["conv_id"], want_m["turn_idx"])
            ]
            sel_r = [
                (c, t) in turn_keys
                for c, t in zip(want_r["conv_id"], want_r["turn_idx"])
            ]
            op.rows = len(turn_keys)
            why = "" if turn_keys else "no input files recorded"
            why = why or _mention_diff(
                got_m[got_m["batch_id"] == str(b)].drop(columns="batch_id"),
                want_m[sel_m][["mention_id", "ent_type", "surface", "conf"]],
            ) or _relation_diff(got_r[got_r["batch_id"] == str(b)], want_r[sel_r])
            if not why and b == last:
                # the last relink leaves the serving tables; stream
                # triples must equal batch triples over the same turns
                why = _kg_diff(
                    read_table(
                        tables["triples"].path, ["subj", "pred", "obj", "n_evidence"]
                    ),
                    read_table(
                        tables["entities"].path,
                        ["entity_id", "canonical", "n_mentions"],
                    ),
                    cache,
                )
            if why:
                op.ok, op.detail = False, why


class CurateDedup(Workload):
    name = "curate_dedup"
    rows_label = "documents"

    def prepare(self, seed, cache):
        table, truth = inputs.documents(seed)
        pq.write_table(table, os.path.join(cache, "documents.parquet"))
        with open(os.path.join(cache, "truth.json"), "w") as fh:
            json.dump(truth, fh)
        return inputs.document_properties(table, truth)

    def warm_up(self, spark, cache):
        from antnre_spark import dedup

        head = spark.read.parquet(os.path.join(cache, "documents.parquet")).limit(200)
        dedup.minhash_signed_bands(
            head.repartition(spark.sparkContext.defaultParallelism)
        ).count()

    def run(self, spark, cache, out):
        import jobs.curate_corpus

        docs = spark.read.parquet(os.path.join(cache, "documents.parquet"))
        t0 = time.time()
        ok, error, metrics = True, "", {}
        try:
            curated, metrics = jobs.curate_corpus.curate_corpus(docs)
            curated.write.mode("overwrite").parquet(os.path.join(out, "curated"))
        except Exception as exc:
            ok, error = False, f"curate_corpus raised {exc!r:.200}"
        t1 = time.time()
        op = Op("curate", t1 - t0, metrics.get("input", 0), ok, error)
        return Iteration(t1 - t0, [op], out, {"metrics": metrics})

    def check(self, spark, cache, it):
        op = it.ops[0]
        if not op.ok:
            return
        with open(os.path.join(cache, "truth.json")) as fh:
            truth = json.load(fh)
        keep, skipped = inputs.expected_survivors(truth)
        got = set(
            pq.read_table(os.path.join(it.out, "curated"), columns=["doc_id"])
            .column("doc_id").to_pylist()
        )
        got -= skipped
        if got != keep:
            op.ok = False
            op.detail = (
                f"{len(keep - got)} keepers missing, {len(got - keep)} "
                f"duplicates or short documents kept"
            )


class LinkWide(Workload):
    """``pipeline.link_job`` alone over mention/relation tables with
    distinct surfaces several times the local-link cutover: the only
    workload on the distributed linking path (signatures -> LSH -> verify
    -> distributed CC -> canonicalize) and the salted triple aggregate."""

    name = "link_wide"
    rows_label = "mention rows"

    def prepare(self, seed, cache):
        mentions, relations, hub = inputs.wide_tables(seed)
        pq.write_table(mentions, os.path.join(cache, "wide_mentions.parquet"))
        pq.write_table(relations, os.path.join(cache, "wide_relations.parquet"))
        return inputs.wide_properties(mentions, relations, hub)

    def warm_up(self, spark, cache):
        """Writes the input IceLite tables a re-link finds (part of
        set-up), then warms the signature UDF on a slice of the surfaces."""
        from pyspark.sql import functions as F

        from antnre_spark import link, pipeline
        from antnre_spark.icelite import IceLite

        tmpl = fresh_dir(os.path.join(cache, "template"))
        for name in ("mentions", "relations"):
            df = spark.read.parquet(os.path.join(cache, f"wide_{name}.parquet"))
            IceLite(os.path.join(tmpl, name)).overwrite_partitions(
                df.withColumn("bucket", pipeline.bucket_of(F.col("conv_id"), 8)),
                ["bucket"],
            )
        head = spark.read.parquet(os.path.join(cache, "wide_mentions.parquet")).limit(200)
        link.candidate_pairs(link.distinct_surfaces(head)).count()

    def reference(self, spark, cache):
        """The driver-local twin (``link_surfaces`` with the local
        threshold above the surface count, pinned bit-identical to the
        distributed path by tests/test_link.py), the triples it implies,
        and the hub_entities table an earlier link would have left."""
        from pyspark.sql import functions as F

        from antnre_spark import link
        from antnre_spark.icelite import IceLite

        tmpl = os.path.join(cache, "template")
        hub_path = os.path.join(cache, "ref_hub.parquet")
        if not os.path.exists(hub_path):
            mentions = IceLite(os.path.join(tmpl, "mentions")).load(spark)
            surfaces = link.distinct_surfaces(mentions).localCheckpoint(eager=True)
            sm, ents = link.link_surfaces(surfaces, local_threshold=surfaces.count() + 1)
            ents.select("entity_id", "canonical", "n_mentions").toPandas().to_parquet(
                os.path.join(cache, "ref_entities.parquet"), index=False
            )
            smap = {
                (r.ent_type, r.norm): r.entity_id
                for r in sm.select("ent_type", "norm", "entity_id").toPandas().itertuples()
            }
            sm.unpersist()
            rel = pd.read_parquet(os.path.join(cache, "wide_relations.parquet"))
            rel["subj"] = [
                smap[(t, inputs.link_norm(x))]
                for t, x in zip(rel["subj_ent_type"], rel["subj_surface"])
            ]
            rel["obj"] = [
                smap[(t, inputs.link_norm(x))]
                for t, x in zip(rel["obj_ent_type"], rel["obj_surface"])
            ]
            triples = (
                rel.groupby(["subj", "pred", "obj"]).size().rename("n_evidence").reset_index()
            )
            triples.to_parquet(os.path.join(cache, "ref_triples.parquet"), index=False)
            hub = (
                triples.groupby("subj")["n_evidence"].sum().rename("degree")
                .sort_values(ascending=False, kind="mergesort").head(100).reset_index()
            )
            hub.to_parquet(hub_path, index=False)
        hub = spark.createDataFrame(pd.read_parquet(hub_path))
        IceLite(os.path.join(tmpl, "hub_entities")).overwrite_partitions(
            hub.withColumn("part", F.lit(0)), ["part"]
        )

    def run(self, spark, cache, out):
        from antnre_spark import pipeline
        from antnre_spark.icelite import IceLite

        shutil.copytree(os.path.join(cache, "template"), out, dirs_exist_ok=True)
        cfg = pipeline.PipelineConfig(out_root=out, weights_npz=WEIGHTS, vocab_json=VOCAB)
        rows = IceLite(os.path.join(out, "mentions")).total_rows()
        t0 = time.time()
        ok, error = True, ""
        try:
            pipeline.link_job(spark, cfg)
        except Exception as exc:
            ok, error = False, f"link_job raised {exc!r:.200}"
        t1 = time.time()
        return Iteration(t1 - t0, [Op("link", t1 - t0, rows, ok, error)], out)

    def check(self, spark, cache, it):
        op = it.ops[0]
        if op.ok:
            why = _kg_diff(
                read_table(os.path.join(it.out, "triples"), ["subj", "pred", "obj", "n_evidence"]),
                read_table(os.path.join(it.out, "entities"), ["entity_id", "canonical", "n_mentions"]),
                cache,
            )
            if why:
                op.ok, op.detail = False, why


WORKLOADS = {w.name: w for w in (BatchKg, StreamKg, LinkWide, CurateDedup)}
