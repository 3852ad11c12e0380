"""Stage-level wall/CPU profile of the dedup pipeline on a parquet
corpus: sketch+LSH candidates, verify, CC+clusters are timed separately
(each stage materialized before the next starts), so the end-to-end cost
is attributable. Prints one JSON line.

    python tools/profile_pipeline.py [corpus_parquet] [cores]

Defaults: the bench webtext corpus at /tmp/mashspark_bench_webtext_40000,
8 cores. The per-stage split is the evidence base for verify/CC tuning
(round-2 review: full pipeline ran 12.6x slower than sketch+LSH on the
same corpus with no stage attribution).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/mashspark_bench_webtext_40000"
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from pyspark.sql import functions as F

    from mashspark import lsh as _lsh
    from mashspark import verify as _verify
    from mashspark.cc import connected_components
    from mashspark.params import PipelineConfig, SketchParams
    from mashspark.pipeline import exact_collapse
    from mashspark.session import get_spark
    from mashspark.sketch import sketch_documents

    os.environ.setdefault("MASHSPARK_DRIVER_MEM", "48g")
    spark = get_spark(cores=cores, shuffle_partitions=16,
                      app_name="profile-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    cfg = PipelineConfig(sketch=SketchParams(k=21, s=1000, seed=42),
                         jaccard_threshold=0.7)

    docs = spark.read.parquet(path)
    n_docs = docs.count()
    out: dict = {"path": path, "cores": cores, "n_docs": n_docs,
                 "stages": {}, "stages_cpu": {}}

    # CPU-delta attribution (host-robust): on this sandbox the hypervisor
    # throttles wall-clock by 10-30x in episodes, so per-stage WALL splits
    # measure the host; per-stage total-tree CPU (JVM + python workers,
    # t0-snapshotted) measures the job. Import the accounting helpers from
    # bench.py rather than duplicating them.
    import importlib.util as _ilu
    _spec = _ilu.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "bench.py"))
    _bench = _ilu.module_from_spec(_spec)
    _spec.loader.exec_module(_bench)

    def stage(name, fn):
        c0 = _bench._tree_cpu_sec()
        t0 = time.time()
        r = fn()
        out["stages"][name] = round(time.time() - t0, 2)
        out["stages_cpu"][name] = round(_bench._tree_cpu_sec() - c0, 2)
        return r

    # 1. sketch (map-only UDF) materialized via localCheckpoint; eager, so
    # the materialization runs INSIDE the timed stage closure
    def _sketch_stage():
        sk = sketch_documents(docs, cfg.sketch, cfg.lsh).localCheckpoint(
            eager=True)
        sk.count()
        return sk

    sketches = stage("sketch", _sketch_stage)

    # 2. exact collapse + LSH candidates
    def _cands():
        eg = exact_collapse(sketches)
        rep_ids = eg.filter(F.col("doc_id") == F.col("rep_id")).select("doc_id")
        reps = sketches.join(rep_ids, "doc_id", "left_semi")
        cand, _m = _lsh.candidate_pairs(
            reps, band_doc_cap=cfg.lsh.band_doc_cap,
            hard_bucket_cap=cfg.lsh.hard_bucket_cap)
        cand = cand.localCheckpoint(eager=True)
        out["n_candidates"] = cand.count()
        return reps, cand, eg

    reps, cand, exact_groups = stage("collapse+lsh", _cands)

    # 3. verify (tier-1 prefix + tier-2 exact)
    def _verify_stage():
        pairs = _verify.verify_pairs(
            cand, reps, cfg.sketch,
            jaccard_threshold=cfg.jaccard_threshold,
            prefix_filter=cfg.lsh.prefix).localCheckpoint(eager=True)
        out["n_pairs"] = pairs.count()
        return pairs

    pairs = stage("verify", _verify_stage)

    # 4. CC + cluster assignment
    def _cc_stage():
        rep_edges = pairs.select(F.col("id_a").alias("src"),
                                 F.col("id_b").alias("dst"))
        member_edges = (
            exact_groups.filter(F.col("doc_id") != F.col("rep_id"))
            .select(F.col("doc_id").alias("src"), F.col("rep_id").alias("dst"))
        )
        comp = connected_components(rep_edges.unionByName(member_edges))
        clusters = (
            sketches.select("doc_id").join(comp, "doc_id", "left")
            .select("doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id"))
        )
        out["n_clusters"] = clusters.select("cluster_id").distinct().count()
        return None

    stage("cc+clusters", _cc_stage)

    out["total_sec"] = round(sum(out["stages"].values()), 2)
    out["docs_per_sec_full"] = round(n_docs / out["total_sec"], 1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
