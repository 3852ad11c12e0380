"""Round-6 auxiliary benchmarks: noop-sink isolation of the operators the
frozen ``bench.py`` times end-to-end (guide §1.4 — time the computation,
not the sink), so optimization deltas are attributable per stage.

NOT part of the driver contract; ``bench.py`` stays the frozen
measurement. Usage:

    python bench_extra.py [stage ...]

Stages: sketch_sf, sketch_web, pipeline_web, verify_web, simhash_web,
screen_sf, recall. Default: all. Prints one JSON line per stage and a
final cumulative line. Conditions mirror bench.py's timed sessions
(12 cores, 24 shuffle partitions, 16g pretouched driver).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = min(int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
           int(os.environ.get("SPARK_GRAFT_BENCH_EFF_CPUS", "12")))
WEBTEXT = os.environ.get("SPARK_GRAFT_BENCH_WEBTEXT",
                         "/tmp/mashspark_bench_webtext_40000")
REPS = int(os.environ.get("BENCH_EXTRA_REPS", "2"))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    from pyspark.sql import functions as F

    from mashspark.params import LSHParams, PipelineConfig, SketchParams
    from mashspark.session import get_spark

    want = set(sys.argv[1:]) or None
    os.environ.setdefault("MASHSPARK_DRIVER_MEM", "16g")
    os.environ.setdefault("MASHSPARK_PRETOUCH", "1")
    spark = get_spark(cores=CPUS, shuffle_partitions=CPUS * 2,
                      app_name="bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    cfg = PipelineConfig(sketch=SketchParams(k=21, s=1000, seed=42),
                         jaccard_threshold=0.7)
    out: dict = {}

    docs_sf = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(
        CPUS * 2).localCheckpoint(eager=True)
    web = spark.read.parquet(WEBTEXT).localCheckpoint(eager=True)

    def timed(name, fn, warm=True):
        if want is not None and name not in want:
            return
        sc.setJobDescription(f"bench_extra:{name}")
        if warm:
            fn()
        best = 1e9
        for _ in range(REPS):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        out[name] = round(best, 2)
        print(json.dumps({name: out[name]}))
        sys.stdout.flush()
        sc.setJobDescription(None)

    from mashspark.sketch import sketch_documents

    timed("sketch_sf", lambda: noop(
        sketch_documents(docs_sf, cfg.sketch, cfg.lsh)))
    timed("sketch_web", lambda: noop(
        sketch_documents(web, cfg.sketch, cfg.lsh)))

    def run_pipeline():
        from mashspark.pipeline import dedup_pipeline

        res = dedup_pipeline(web, cfg)
        res.clusters.count()
        res.clusters.agg(F.countDistinct("cluster_id")).collect()
        res.pairs.count()
        res.release()

    timed("pipeline_web", run_pipeline)

    def run_verify():
        # sketch+LSH untimed-ish (included; delta vs sketch_web isolates)
        from mashspark import lsh as _lsh
        from mashspark import verify as _verify
        from mashspark.pipeline import exact_collapse

        sk = sketch_documents(web, cfg.sketch, cfg.lsh).localCheckpoint(
            eager=True)
        eg = exact_collapse(sk)
        rep_ids = eg.filter(F.col("doc_id") == F.col("rep_id")).select("doc_id")
        reps = sk.join(rep_ids, "doc_id", "left_semi").localCheckpoint(
            eager=True)
        cand, _m = _lsh.candidate_pairs(
            reps, band_doc_cap=cfg.lsh.band_doc_cap,
            hard_bucket_cap=cfg.lsh.hard_bucket_cap)
        cand = cand.localCheckpoint(eager=True)
        t0 = time.time()
        sc.setJobDescription("bench_extra:verify_only")
        pairs = _verify.verify_pairs(
            cand, reps, cfg.sketch, jaccard_threshold=cfg.jaccard_threshold,
            prefix_filter=cfg.lsh.prefix)
        n = pairs.count()
        dt = time.time() - t0
        print(json.dumps({"verify_only": round(dt, 2), "n_pairs": n}))
        out["verify_only"] = min(out.get("verify_only", 1e9), round(dt, 2))

    if want is None or "verify_web" in want:
        run_verify()
        run_verify()

    from mashspark.simhash import simhash_documents, simhash_dup_pairs

    def run_simhash():
        sigs = simhash_documents(web, k=8)
        simhash_dup_pairs(sigs, max_hamming=3).count()

    timed("simhash_web", run_simhash)

    from mashspark.screen import screen as screen_op

    def run_screen():
        refs = docs_sf.orderBy(F.desc("n_chars"), F.asc("doc_id")).limit(20)
        refs_sk = sketch_documents(refs, SketchParams(), LSHParams())
        screen_op(refs_sk, docs_sf, SketchParams()).count()

    timed("screen_sf", run_screen)

    out["_total"] = round(sum(v for v in out.values()), 2)
    out["_cpus"] = CPUS
    print(json.dumps(out))


if __name__ == "__main__":
    main()
