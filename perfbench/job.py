"""The user's job, as the benchmark times it: input parquet -> written result.

The self-dedup workload runs ``pipeline.dedup_pipeline`` and writes the
clusters and the verified pairs; the incremental workload runs
``pipeline.dedup_against`` with the reference's committed sketch table and
writes the decisions. Every run releases its checkpointed blocks.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from mashspark.params import PipelineConfig
from mashspark.pipeline import dedup_against, dedup_pipeline
from mashspark.session import get_spark
from mashspark.sketch import sketch_documents

from .workloads import Corpus, write_parquet

CONFIG = PipelineConfig()  # k=21, s=1000, J >= 0.7: the program's defaults
# A quarter of the corpus: after a 240-page slice the first timed job ran
# ~50% slower than the third (JIT still warming), by an amount that varied
# run to run; a larger slice brings it within ~15% of steady state for a
# few seconds more set-up (measured on crawl-dense, 4 vCPU).
WARMUP_FRACTION = 4


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session():
    return get_spark(cores=cores(), app_name="perfbench")


def write_ref_sketches(spark, ref_path: str, out_path: str) -> str:
    """The reference corpus's committed sketch table (written once)."""
    sk = sketch_documents(spark.read.parquet(ref_path), CONFIG.sketch, CONFIG.lsh)
    sk.write.mode("overwrite").parquet(out_path)
    return out_path


def run_job(spark, paths: dict, out_dir: str, incremental: bool) -> None:
    """One job: read ``paths``, dedup, write under ``out_dir``, release.

    ``paths`` holds ``docs`` and, for the incremental workload, ``ref`` and
    ``ref_sketches``."""
    docs = spark.read.parquet(paths["docs"])
    if incremental:
        res = dedup_against(docs, spark.read.parquet(paths["ref"]), CONFIG,
                            ref_sketches=spark.read.parquet(paths["ref_sketches"]))
        res.decisions.write.mode("overwrite").parquet(os.path.join(out_dir, "decisions"))
    else:
        res = dedup_pipeline(docs, CONFIG)
        res.clusters.write.mode("overwrite").parquet(os.path.join(out_dir, "clusters"))
        res.pairs.write.mode("overwrite").parquet(os.path.join(out_dir, "pairs"))
    res.release()


def warmup_inputs(corpus: Corpus, work: str) -> dict:
    """Write the warm-up slice: the first quarter of the pages (and of the
    reference pages) by doc id."""
    sl = Corpus(corpus.workload, corpus.seed)
    for src, dst in ((corpus.docs, sl.docs), (corpus.ref, sl.ref)):
        ids = sorted(src)
        dst.update((i, src[i]) for i in ids[:len(ids) // WARMUP_FRACTION])
    return write_parquet(sl, os.path.join(work, "warmup-in"))


def warm_up(spark, paths: dict, work: str) -> None:
    """The warm-up pass users pay once per session: the same job (and, for
    the incremental workload, the reference sketch write) on the slice."""
    paths = dict(paths)
    if "ref" in paths:
        paths["ref_sketches"] = write_ref_sketches(
            spark, paths["ref"], os.path.join(work, "warmup-in", "ref_sketches"))
    run_job(spark, paths, os.path.join(work, "warmup-out"), "ref" in paths)
    shutil.rmtree(os.path.join(work, "warmup-out"), ignore_errors=True)


def read_result(out_dir: str, incremental: bool) -> dict[str, np.ndarray]:
    """The written result as numpy columns (read with pyarrow, no Spark)."""
    names = ["decisions"] if incremental else ["clusters", "pairs"]
    out = {}
    for name in names:
        t = pq.read_table(os.path.join(out_dir, name))
        for col in t.column_names:
            c = t.column(col)
            if c.null_count:  # dup_of / jaccard of docs that are not flagged
                c = c.fill_null(-1 if pa.types.is_integer(c.type) else 0.0)
            out[f"{name}.{col}"] = c.to_numpy()
    return out
