"""The traced job, run by ``run.py --trace 1`` after that process's
untraced jobs.

It runs the same job as the untraced runs, through the program's own
``dedup_pipeline`` / ``dedup_against``, but with each layer's public
function (``sketch_documents``, ``exact_collapse``, ``candidate_pairs``,
``verify_pairs``, ``connected_components``) wrapped: the wrapper records a
span around the call and materializes its output at the boundary, the way
the pipeline materializes its own stages (``localCheckpoint(eager=True)``;
``persist`` for the exact-group map). Spans carry wall time, JVM and
Python-worker CPU (from /proc) and shuffle bytes (from the status store).
Row counts are taken after the job, outside every span, and every block
the traced job created is released before it returns.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager


class Tracer:
    """Spans (name, parent, start, end) with per-span CPU and shuffle."""

    def __init__(self, store, sampler):
        self.store, self.sampler = store, sampler
        self.spans: dict[str, dict] = {}
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        mark, cpu0 = self.store.mark(), self.sampler.mark()
        self._stack.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            st = self.store.window(mark, t0 * 1e3, t1 * 1e3)
            self.spans[name] = {"parent": parent, "start": t0, "end": t1,
                                "wall_s": t1 - t0, **self.sampler.window(cpu0),
                                "shuffle_mb": st["shuffle_mb"]}

    def get(self, name: str, field: str) -> float:
        """A span's figure, 0 for a layer the workload's path never calls."""
        return self.spans.get(name, {}).get(field, 0.0)


def install(tracer: Tracer, kept: dict):
    """Wrap each layer's public function where the pipeline looks it up;
    returns a function that puts the originals back."""
    from mashspark import cc, lsh, pipeline, verify

    sketch_documents, exact_collapse = pipeline.sketch_documents, pipeline.exact_collapse
    candidate_pairs, verify_pairs = lsh.candidate_pairs, verify.verify_pairs
    connected_components = cc.connected_components

    def t_sketch(*a, **kw):
        with tracer.span("sketch"):
            out = sketch_documents(*a, **kw).localCheckpoint(eager=True)
        kept["sketches"] = out
        return out

    def t_collapse(sketches):
        with tracer.span("collapse"):
            out = exact_collapse(sketches).persist()
            out.count()
        kept["groups"] = out
        return out

    def t_candidates(sketches, **kw):
        with tracer.span("lsh"):
            pairs, metrics = candidate_pairs(sketches, **kw)
            pairs = pairs.localCheckpoint(eager=True)
        kept.update(lsh_in=sketches, cand=pairs, lsh_metrics=metrics)
        return pairs, metrics

    def t_verify(cands, sketches, *a, **kw):
        if "cand" not in kept:
            # dedup_against builds candidates with its own cross band join:
            # the candidates verify receives are that path's LSH boundary
            with tracer.span("lsh"):
                cands = cands.localCheckpoint(eager=True)
            kept.update(lsh_in=sketches, cand=cands)
        with tracer.span("verify"):
            out = verify_pairs(cands, sketches, *a, **kw).localCheckpoint(eager=True)
        kept["pairs"] = out
        return out

    def t_cc(edges, **kw):
        with tracer.span("cc"):
            out = connected_components(edges, **kw).localCheckpoint(eager=True)
        kept.update(edges=edges, comp=out)
        return out

    pipeline.sketch_documents, pipeline.exact_collapse = t_sketch, t_collapse
    lsh.candidate_pairs, verify.verify_pairs = t_candidates, t_verify
    cc.connected_components = t_cc

    def restore():
        pipeline.sketch_documents, pipeline.exact_collapse = sketch_documents, exact_collapse
        lsh.candidate_pairs, verify.verify_pairs = candidate_pairs, verify_pairs
        cc.connected_components = connected_components

    return restore


def traced_job(spark, tracer: Tracer, kept: dict, paths: dict, out_dir: str,
               incremental: bool):
    """The job of ``job.run_job``, with the pipeline-level spans."""
    from mashspark.pipeline import dedup_against, dedup_pipeline

    from perfbench.job import CONFIG

    with tracer.span("job"):
        docs = spark.read.parquet(paths["docs"])
        if incremental:
            with tracer.span("dedup_against"):
                res = dedup_against(docs, spark.read.parquet(paths["ref"]), CONFIG,
                                    ref_sketches=spark.read.parquet(paths["ref_sketches"]))
                kept["decisions"] = res.decisions.localCheckpoint(eager=True)
            with tracer.span("write"):
                kept["decisions"].write.mode("overwrite").parquet(
                    os.path.join(out_dir, "decisions"))
        else:
            with tracer.span("dedup_pipeline"):
                res = dedup_pipeline(docs, CONFIG)
            with tracer.span("clusters"):
                kept["clusters"] = res.clusters.localCheckpoint(eager=True)
            with tracer.span("write"):
                kept["clusters"].write.mode("overwrite").parquet(
                    os.path.join(out_dir, "clusters"))
                res.pairs.write.mode("overwrite").parquet(os.path.join(out_dir, "pairs"))
    return res


def layer_counts(kept: dict, res, incremental: bool) -> dict:
    """Row counts at each boundary, from the kept materializations."""
    from pyspark.sql import functions as F

    n = {}
    sk = kept["sketches"]
    n["docs"] = sk.count()
    n["empty"] = sk.filter(F.length("sketch") == 0).count()
    n["band_entries"] = kept["lsh_in"].agg(
        F.coalesce(F.sum(F.size("band_key")), F.lit(0))).first()[0]
    n["candidates"] = kept["cand"].count()
    n["pairs"] = kept["pairs"].count()
    if incremental:
        n["dropped"] = res.metrics.first()["n_dropped_buckets"]
        n["flagged"] = kept["decisions"].filter("is_dup").count()
        return n
    g = kept["groups"]
    n["groups"] = g.filter(F.col("doc_id") != F.col("rep_id")).select("rep_id").distinct().count()
    n["reps"] = g.filter(F.col("doc_id") == F.col("rep_id")).count()
    lm = kept["lsh_metrics"].first()
    n["buckets"], n["hot"], n["dropped"] = (lm["n_buckets"], lm["n_hot_buckets"],
                                            lm["n_dropped_buckets"])
    n["edges"] = kept["edges"].count()
    n["components"] = kept["comp"].select("cluster_id").distinct().count()
    return n


def metrics(tr: Tracer, n: dict, text_mb: float, session: dict) -> dict:
    g = tr.get
    docs = n["docs"]
    return {
        "session.start_s": (session["start_s"], "s"),
        "session.warmup_s": (session["warmup_s"], "s"),
        "sketch.wall_s": (g("sketch", "wall_s"), "s"),
        "sketch.jvm_cpu_s": (g("sketch", "jvm_cpu_s"), "s"),
        "sketch.py_cpu_s": (g("sketch", "py_cpu_s"), "s"),
        "sketch.docs": (docs, "count"),
        "sketch.text_mb": (text_mb, "MB"),
        "sketch.empty_docs": (n["empty"], "count"),
        "collapse.wall_s": (g("collapse", "wall_s"), "s"),
        "collapse.shuffle_mb": (g("collapse", "shuffle_mb"), "MB"),
        "collapse.groups": (n.get("groups", 0), "count"),
        "collapse.reps_ratio": (n["reps"] / docs if "reps" in n else 0.0, "fraction"),
        "lsh.wall_s": (g("lsh", "wall_s"), "s"),
        "lsh.cpu_s": (g("lsh", "jvm_cpu_s") + g("lsh", "py_cpu_s"), "s"),
        "lsh.shuffle_mb": (g("lsh", "shuffle_mb"), "MB"),
        "lsh.band_entries": (n["band_entries"], "count"),
        "lsh.buckets": (n.get("buckets", 0), "count"),
        "lsh.hot_buckets": (n.get("hot", 0), "count"),
        "lsh.dropped_buckets": (n["dropped"], "count"),
        "lsh.candidates": (n["candidates"], "count"),
        "verify.wall_s": (g("verify", "wall_s"), "s"),
        "verify.jvm_cpu_s": (g("verify", "jvm_cpu_s"), "s"),
        "verify.py_cpu_s": (g("verify", "py_cpu_s"), "s"),
        "verify.shuffle_mb": (g("verify", "shuffle_mb"), "MB"),
        "verify.pairs": (n["pairs"], "count"),
        "verify.pass_ratio": (n["pairs"] / max(n["candidates"], 1), "fraction"),
        "cc.wall_s": (g("cc", "wall_s"), "s"),
        "cc.edges": (n.get("edges", 0), "count"),
        "cc.components": (n.get("components", 0), "count"),
        "pipeline.clusters_wall_s": (g("clusters", "wall_s"), "s"),
        "pipeline.write_wall_s": (g("write", "wall_s"), "s"),
        "pipeline.dedup_against_wall_s": (g("dedup_against", "wall_s"), "s"),
        "pipeline.flagged": (n.get("flagged", 0), "count"),
    }


def _persistent_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def release_new(spark, before: set[int]) -> None:
    """Unpersist every RDD persisted since ``before`` (checkpoints included)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in _persistent_ids(spark) - before:
        jmap.get(rid).unpersist()


def run(spark, sampler, paths: dict, out_dir: str, incremental: bool,
        text_mb: float, session: dict) -> dict:
    """The traced job; returns ``{"metrics": {name: (value, unit)},
    "total_s": traced job wall, "spans": {...}}``."""
    from perfbench import status

    tracer, kept = Tracer(status.StatusStore(spark), sampler), {}
    before = _persistent_ids(spark)
    restore = install(tracer, kept)
    try:
        res = traced_job(spark, tracer, kept, paths, out_dir, incremental)
        counts = layer_counts(kept, res, incremental)
        res.release()
    finally:
        restore()
        release_new(spark, before)
    return {"metrics": metrics(tracer, counts, text_mb, session),
            "total_s": tracer.get("job", "wall_s"), "spans": tracer.spans}
