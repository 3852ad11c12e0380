#!/usr/bin/env python3
"""mashspark benchmark: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload crawl-dense --seed 1 --seconds 10 --trace 0

Run from the repository root (or any checkout holding ``mashspark/`` next to
``perfbench/``). ``--trace 0`` times the user's job end to end and prints
the end-to-end metrics; ``--trace 1`` runs the untraced jobs (for the
status-store, plan and /proc figures), then one traced job, and prints the
per-layer metrics. The last line of stdout is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. See
README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from typing import Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_JOBS = 3  # the first job after set-up still pays JIT warm-up; the median does not


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["MASHSPARK_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the UDF workers import mashspark from this checkout, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def conditions(seed: int) -> dict:
    from perfbench.job import cores

    with open("/proc/meminfo") as fh:
        mem = {ln.split(":")[0]: int(ln.split()[1]) for ln in fh}
    return {"seed": seed, "affinity_cores": cores(),
            "mem_total_mb": mem["MemTotal"] / 1e3,
            "mem_available_mb": mem["MemAvailable"] / 1e3,
            "driver_heap": os.environ.get("MASHSPARK_DRIVER_MEM", "8g (program default)")}


def check_output(corpus, out: dict, incremental: bool) -> tuple[list[str], str, Callable]:
    """Correctness errors, result digest and a ``same(a, b)`` predicate for
    the recall ground truth, from one written result."""
    from perfbench import checks
    from perfbench.job import CONFIG

    if incremental:
        did, dup = out["decisions.doc_id"], out["decisions.is_dup"].astype(bool)
        dup_of = out["decisions.dup_of"]
        errs = checks.check_decisions(corpus, CONFIG, did, dup, dup_of,
                                      out["decisions.jaccard"])
        flagged = dict(zip(did.tolist(), dup.tolist()))
        return errs, checks.digest(did, dup, dup_of), lambda a, _b: flagged.get(a, False)
    did, cid = out["clusters.doc_id"], out["clusters.cluster_id"]
    errs = checks.check_clusters(corpus, did, cid)
    errs += checks.check_pairs(corpus, CONFIG, out["pairs.id_a"], out["pairs.id_b"],
                               out["pairs.common"], out["pairs.denom"])
    of = dict(zip(did.tolist(), cid.tolist()))
    return errs, checks.digest(did, cid), lambda a, b: of.get(a) == of.get(b)


def measure(spark, sampler, corpus, paths, work, seconds, truth, log) -> dict:
    """Untraced jobs, back to back, for ``seconds`` and at least MIN_JOBS.

    Every job that completes is timed, including one whose result fails a
    check (it counts in ``failed`` and makes the run incorrect)."""
    from perfbench import checks, status
    from perfbench.job import read_result, run_job

    incremental = bool(corpus.ref)
    store = status.StatusStore(spark)
    runs, attempted, failed, digests = [], 0, 0, set()
    wrong = False
    t_end = time.monotonic() + seconds
    while attempted < MIN_JOBS or time.monotonic() < t_end:
        attempted += 1
        out_dir = os.path.join(work, "out")
        mark, cpu0 = store.mark(), sampler.mark()
        t0 = time.time()
        try:
            run_job(spark, paths, out_dir, incremental)
        except Exception:  # noqa: BLE001 - a failed job is counted, not fatal
            failed += 1
            log(f"job {attempted} raised:\n{traceback.format_exc()}")
            continue
        t1 = time.time()
        proc = sampler.window(cpu0)
        st = store.window(mark, t0 * 1e3, t1 * 1e3)
        plans = store.plans(mark)
        errs, dig, same = check_output(corpus, read_result(out_dir, incremental),
                                       incremental)
        digests.add(dig)
        if len(digests) > 1:
            errs.append("result digest differs from an earlier job's")
        if errs:
            failed += 1
            wrong = True
            log(f"job {attempted} failed checks: " + "; ".join(errs[:5]))
        runs.append({"job_s": t1 - t0, "proc": proc, "spark": st,
                     "plan": status.plan_counts(plans), "digest": dig,
                     "recall": checks.recall(truth, same) if truth is not None else None})
        if len(runs) == 1:
            with open(os.path.join(work, "plans.txt"), "w") as fh:
                fh.write("\n\n".join(plans))
    return {"runs": runs, "attempted": attempted, "failed": failed,
            "correct": not wrong}


def end_to_end(m: dict, setup_s: float, n_docs: int) -> dict:
    runs = m["runs"]
    med = lambda f: _median([f(r) for r in runs])  # noqa: E731
    job_s = med(lambda r: r["job_s"])
    return {
        "setup_s": (setup_s, "s"),
        "job_s": (job_s, "s"),
        "docs_per_s": (n_docs / job_s, "docs/s"),
        "cpu_core_s": (med(lambda r: r["proc"]["jvm_cpu_s"] + r["proc"]["py_cpu_s"]), "core-s"),
        "shuffle_mb": (med(lambda r: r["spark"]["shuffle_mb"]), "MB"),
        "pair_recall": (med(lambda r: r["recall"]), "fraction"),
        "ok_ratio": ((m["attempted"] - m["failed"]) / m["attempted"], "fraction"),
    }


def per_layer(m: dict, traced: dict, kern: dict) -> dict:
    runs = m["runs"]
    med = lambda f: _median([f(r) for r in runs])  # noqa: E731
    out = dict(traced["metrics"])
    out.update(kern)
    units = {"jobs": "count", "stages": "count", "tasks": "count",
             "failed_tasks": "count", "driver_gap_s": "s", "task_run_s": "s",
             "task_cpu_s": "s", "gc_s": "s", "spill_mb": "MB"}
    for k, u in units.items():
        out[f"spark.{k}"] = (med(lambda r: r["spark"][k]), u)
    for k in ("exchanges", "sketch_exchanges", "sorts", "broadcasts"):
        out[f"plan.{k}"] = (med(lambda r: r["plan"][k]), "count")
    for k, u in (("jvm_cpu_s", "s"), ("py_cpu_s", "s"),
                 ("jvm_peak_rss_mb", "MB"), ("py_peak_rss_mb", "MB")):
        out[f"proc.{k}"] = (med(lambda r: r["proc"][k]), u)
    out["trace.overhead_s"] = (traced["total_s"] - med(lambda r: r["job_s"]), "s")
    return out


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mashspark", "pipeline.py")):
        print(f"perfbench: no mashspark/ package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    log = lambda msg: print(f"perfbench: {msg}", file=sys.stderr, flush=True)  # noqa: E731

    from perfbench import checks, job, kernels, traced
    from perfbench.procs import TreeSampler, stop_spark

    t_run = time.perf_counter()
    cond = conditions(args.seed)
    corpus = workloads.generate(args.workload, args.seed)
    paths = workloads.write_parquet(corpus, os.path.join(work, "in"))
    warm = job.warmup_inputs(corpus, work)
    incremental = bool(corpus.ref)
    truth = None if args.trace else checks.ground_truth(corpus, job.CONFIG)
    kern = kernels.run(corpus, job.CONFIG.sketch) if args.trace else {}
    log(f"inputs ready after {time.perf_counter() - t_run:.1f} s")

    t = time.perf_counter()
    spark = job.start_session()
    session = {"start_s": time.perf_counter() - t}
    try:
        t = time.perf_counter()
        job.warm_up(spark, warm, work)
        session["warmup_s"] = time.perf_counter() - t
        log(f"set-up {session['start_s']:.1f} + {session['warmup_s']:.1f} s")
        if incremental:
            paths["ref_sketches"] = job.write_ref_sketches(
                spark, paths["ref"], os.path.join(work, "in", "ref_sketches"))
        sampler = TreeSampler().start()
        try:
            m = measure(spark, sampler, corpus, paths, work, args.seconds, truth, log)
            if args.trace:
                tr = traced.run(spark, sampler, paths, os.path.join(work, "trace-out"),
                                incremental, corpus.text_bytes / 1e6, session)
        finally:
            sampler.stop()
    finally:
        stop_spark(spark)
    log(f"jobs {[round(r['job_s'], 2) for r in m['runs']]}; "
        f"{time.perf_counter() - t_run:.1f} s so far")

    if not m["runs"]:
        log("no job completed; nothing to report")
        return 1
    correct = m["correct"]
    if args.trace:
        out = job.read_result(os.path.join(work, "trace-out"), incremental)
        errs, dig, _same = check_output(corpus, out, incremental)
        if dig != m["runs"][0]["digest"]:
            errs.append("traced result digest differs from the untraced jobs'")
        for e in errs:
            log(f"traced job: {e}")
        correct = correct and not errs
        metrics = per_layer(m, tr, kern)
        with open(os.path.join(work, "spans.json"), "w") as fh:
            json.dump(tr["spans"], fh, indent=1)
    else:
        metrics = end_to_end(m, session["start_s"] + session["warmup_s"], len(corpus.docs))

    cond.update({"workload": args.workload, "trace": args.trace,
                 "samples": len(m["runs"]),
                 "docs": len(corpus.docs), "ref_docs": len(corpus.ref),
                 "text_mb": corpus.text_bytes / 1e6})
    result = {"correct": bool(correct), "attempted": m["attempted"], "failed": m["failed"],
              "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}}
    with open(os.path.join(work, "result.json"), "w") as fh:
        json.dump({"conditions": cond, **result,
                   "jobs": [{k: r[k] for k in ("job_s", "digest", "proc", "spark", "plan")}
                            for r in m["runs"]]}, fh, indent=1)
    for d in ("in", "out", "trace-out", "warmup-in", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print("conditions " + json.dumps(cond))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
