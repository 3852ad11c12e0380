"""Per-stage attribution of the verify tier of the dedup pipeline.

Round-3 profile: verify = 311 s of the 367 s q3 wall at 32 cores with
only 995 CPU-s — average parallelism ~3 of 16 slots. This tool runs
sketch+LSH untimed, then verify inside an event-logged window, and
prints the stage table (wall, task-time, slot occupancy, driver gaps)
for that window so the idle time is attributable.

    python tools/diag_verify.py [corpus_parquet] [cores]
"""

from __future__ import annotations

import glob
import importlib.util as _ilu
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

EVDIR = "/tmp/mashspark_eventlogs"


def main() -> None:
    path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/mashspark_bench_webtext_40000"
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 32

    from pyspark.sql import functions as F

    from mashspark import lsh as _lsh
    from mashspark import verify as _verify
    from mashspark.params import PipelineConfig, SketchParams
    from mashspark.pipeline import exact_collapse
    from mashspark.session import get_spark
    from mashspark.sketch import sketch_documents

    spec = _ilu.spec_from_file_location(
        "diag_scale_stages", os.path.join(REPO, "tools", "diag_scale_stages.py"))
    diag = _ilu.module_from_spec(spec)
    spec.loader.exec_module(diag)

    os.makedirs(EVDIR, exist_ok=True)
    os.environ.setdefault("MASHSPARK_DRIVER_MEM", "48g")
    spark = get_spark(cores=cores, shuffle_partitions=16,
                      app_name="diag-verify",
                      extra_conf={"spark.eventLog.enabled": "true",
                                  "spark.eventLog.dir": f"file://{EVDIR}"})
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    cfg = PipelineConfig(sketch=SketchParams(k=21, s=1000, seed=42),
                         jaccard_threshold=0.7)

    docs = spark.read.parquet(path)
    sketches = sketch_documents(docs, cfg.sketch, cfg.lsh).localCheckpoint(eager=True)
    eg = exact_collapse(sketches)
    rep_ids = eg.filter(F.col("doc_id") == F.col("rep_id")).select("doc_id")
    reps = sketches.join(rep_ids, "doc_id", "left_semi")
    cand, _m = _lsh.candidate_pairs(
        reps, band_doc_cap=cfg.lsh.band_doc_cap,
        hard_bucket_cap=cfg.lsh.hard_bucket_cap)
    cand = cand.localCheckpoint(eager=True)
    n_cand = cand.count()

    t0 = time.time()
    lazy = _verify.verify_pairs(
        cand, reps, cfg.sketch, jaccard_threshold=cfg.jaccard_threshold,
        prefix_filter=cfg.lsh.prefix)
    plan = lazy._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    pairs = lazy.localCheckpoint(eager=True)
    n_pairs = pairs.count()
    t1 = time.time()

    spark.stop()
    time.sleep(2)
    evs = sorted(glob.glob(os.path.join(EVDIR, f"*{app_id}*")),
                 key=os.path.getmtime)
    rep = diag.analyze(evs[-1], t0 * 1e3, t1 * 1e3, cores)
    rep.update({"n_candidates": n_cand, "n_pairs": n_pairs,
                "verify_wall": round(t1 - t0, 2)})
    out = os.environ.get("DIAG_VERIFY_OUT", "/tmp/diag_verify.json")
    with open(out, "w") as f:
        json.dump(rep, f, indent=1)
        f.write("\n\nPLAN (pre-AQE):\n" + plan)
    print(json.dumps({k: v for k, v in rep.items()
                      if not isinstance(v, (list, dict))}))
    print("full report + plan ->", out)


if __name__ == "__main__":
    main()
