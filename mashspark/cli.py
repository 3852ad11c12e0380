"""mash-parity command-line surface over the Spark engine.

Mirrors the reference's command list (``src/mash/mash.cpp:23-37``):

    python -m mashspark sketch   -o sketches.tbl docs.parquet
    python -m mashspark dist     refs.tbl queries.tbl
    python -m mashspark triangle docs.parquet
    python -m mashspark screen   refs.tbl mixture.parquet
    python -m mashspark contain  refs.tbl queries.tbl
    python -m mashspark info     sketches.tbl
    python -m mashspark paste    -o out.tbl a.tbl b.tbl
    python -m mashspark bounds   -k 21 -s 1000
    python -m mashspark dedup    -o outdir docs.parquet      (beyond the reference)

Inputs are tables, not files-of-sequences: a *document table* is parquet
with ``(doc_id|url, text)`` (the BASELINE input-hint shape); a *sketch
table* is the committed bucket layout written by ``sketch``
(``io.run_checkpointed`` manifest discipline — the .msh analog, with
per-partition lineage + metrics and kill/resume safety). Every command
that takes a sketch table also accepts a raw document table and sketches
on the fly, as the reference commands accept fasta where .msh is
expected (``CommandDistance.cpp:130-190``).

Flags keep the reference letters where they exist: ``-k`` kmer, ``-s``
sketch size, ``-S`` seed, ``-m`` min copies, ``-d`` max distance, ``-v``
max p-value, ``-i`` min identity, ``-w`` winner-take-all, ``-E`` edge
list, ``-b`` best-k hits.

Output: with ``-o`` the result is written distributed (TSV part files /
parquet); without it, rows are collected and printed as TSV to stdout
(the reference prints to stdout — collecting is the small-N convenience
path, not the scale path).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import io as mio
from .info import bounds_table, count_histogram, paste, sketch_cardinalities, sketch_json_dump
from .params import LSHParams, PipelineConfig, SketchParams
from .pipeline import dedup_pipeline
from .screen import screen
from .session import get_spark
from .sketch import sketch_documents, sketch_documents_with_counts
from .verify import all_pairs, best_k_hits, contain_pairs, cross_dist


def _sketch_params(args) -> SketchParams:
    return SketchParams(k=args.kmer, s=args.sketch_size, seed=args.seed,
                        min_cov=getattr(args, "min_copies", 1))


def load_docs(spark: SparkSession, path: str) -> DataFrame:
    """Document-table scan: parquet with (doc_id|url, text). A url-keyed
    table (the input-hint shape) gets ``doc_id = xxhash64(url)`` — a
    deterministic, cluster-stable id (no zipWithIndex scan)."""
    df = spark.read.parquet(path)
    if "text" not in df.columns:
        raise SystemExit(f"{path}: no 'text' column (have {df.columns})")
    if "doc_id" not in df.columns:
        if "url" not in df.columns:
            raise SystemExit(f"{path}: need a 'doc_id' or 'url' column")
        df = df.withColumn("doc_id", F.xxhash64("url"))
    return df


def _is_sketch_table(path: str) -> bool:
    return os.path.isdir(os.path.join(path, "_manifest"))


def load_or_sketch(spark: SparkSession, path: str, params: SketchParams,
                   lsh: LSHParams) -> DataFrame:
    """A committed sketch table loads with params enforcement
    (Sketch.cpp:133-160 refuses mismatched files); a ``.msh`` file from
    a real Mash install decodes through the Cap'n Proto interop reader
    (msh.py) with the same enforcement; anything else is a document
    table sketched on the fly."""
    if path.endswith(".msh"):
        from .msh import msh_to_sketches

        # reference behavior: a sketch FILE's header params override CLI
        # flags (mash ignores -k/-s when loading .msh); cross-input
        # compatibility is still enforced downstream via the embedded
        # schema metadata (paste/cross_dist, Sketch.cpp:133-160)
        df, _emb = msh_to_sketches(spark, path)
        return df
    if _is_sketch_table(path):
        return mio.read_sketches(spark, path, params=params)
    return sketch_documents(load_docs(spark, path), params, lsh)


def _emit(df: DataFrame, out: str | None, tsv_writer=None) -> None:
    """-o => distributed write; no -o => collect + TSV to stdout."""
    if out:
        if tsv_writer is not None:
            tsv_writer(df, out)
        else:
            df.write.mode("overwrite").option("sep", "\t").option(
                "header", "true").csv(out)
        print(f"wrote {out}", file=sys.stderr)
    else:
        df.toPandas().to_csv(sys.stdout, sep="\t", index=False, header=False)


# ---------------------------------------------------------------- commands

def cmd_sketch(spark: SparkSession, args) -> int:
    """mash sketch (CommandSketch.cpp): docs -> committed sketch table,
    checkpoint/resume via the bucket manifest; -m counts multiplicities
    through the reads-mode min-copy filter (MinHashHeap.cpp:96-118)."""
    params = _sketch_params(args)
    lsh = LSHParams()
    docs = load_docs(spark, args.input)

    if args.min_copies > 1 or args.counts:
        def transform(part):
            return sketch_documents_with_counts(part, params)
    else:
        def transform(part):
            return sketch_documents(part, params, lsh)

    mio.run_checkpointed(
        spark, docs, args.output, transform,
        n_buckets=args.buckets,
        params_fingerprint=mio.params_fingerprint(params),
        metrics_fn=mio.sketch_metrics,
    )
    ents = mio.committed_buckets(args.output)
    n = sum(e["n_rows"] for e in ents.values())
    print(f"sketched {n} docs into {len(ents)} committed buckets at "
          f"{args.output}", file=sys.stderr)
    return 0


def cmd_dist(spark: SparkSession, args) -> int:
    """mash dist (CommandDistance.cpp): every ref × query pair with
    (distance, p-value, shared/denom); -d/-v filters; -b best-k hits per
    query (the compiled-out find -b shape)."""
    from .params import params_from_schema

    params = _sketch_params(args)
    lsh = LSHParams()
    ref = load_or_sketch(spark, args.reference, params, lsh)
    # sketch-file inputs carry their build params; adopt them BEFORE
    # sketching the query side (mash ignores CLI -k/-s when reading
    # .msh) — otherwise a non-default-param reference forces a raw
    # query table to be sketched with the CLI params and cross_dist's
    # compatibility check refuses the pair it was supposed to serve
    params = params_from_schema(ref) or params
    qry = load_or_sketch(spark, args.query, params, lsh)
    pairs = cross_dist(ref, qry, params, max_distance=args.max_dist,
                       max_pvalue=args.max_pvalue, with_pvalue=True)
    if args.best:
        pairs = best_k_hits(pairs, args.best)
    _emit(pairs, args.output, tsv_writer=mio.write_dist_tsv)
    return 0


def cmd_triangle(spark: SparkSession, args) -> int:
    """mash triangle (CommandTriangle.cpp): self all-pairs; -E = edge
    list (the scale format), default = lower-triangular Phylip matrix on
    stdout (O(n^2) TEXT — a driver-side final artifact by design)."""
    params = _sketch_params(args)
    lsh = LSHParams()
    sk = load_or_sketch(spark, args.input, params, lsh)
    pairs = cross_dist(sk, sk, params, max_distance=args.max_dist,
                       max_pvalue=args.max_pvalue, with_pvalue=True,
                       upper_only=True)
    if args.edges:
        _emit(pairs, args.output, tsv_writer=mio.write_dist_tsv)
    else:
        ids = [r[0] for r in sk.select("doc_id").orderBy("doc_id").collect()]
        text = mio.phylip_triangle(pairs, ids=ids)
        if args.output:
            with open(args.output, "w") as fh:
                fh.write(text)
            print(f"wrote {args.output}", file=sys.stderr)
        else:
            sys.stdout.write(text)
    return 0


def cmd_screen(spark: SparkSession, args) -> int:
    """mash screen (CommandScreen.cpp): containment of each ref sketch in
    a raw mixture; -w winner-take-all, -i identity floor, -v p-value."""
    from .params import params_from_schema

    params = _sketch_params(args)
    lsh = LSHParams()
    refs = load_or_sketch(spark, args.reference, params, lsh)
    # screen shingles the raw mixture with the REFERENCE sketches' k
    # (CommandScreen.cpp takes k from the .msh); adopt before screening
    params = params_from_schema(refs) or params
    mixture = load_docs(spark, args.mixture)
    hits = screen(refs, mixture, params,
                  min_cov=args.min_copies,
                  identity_min=args.min_identity,
                  max_pvalue=args.max_pvalue,
                  with_pvalue=args.max_pvalue is not None or args.pvalues,
                  winner_take_all=args.winner_take_all)
    _emit(hits, args.output)
    return 0


def cmd_contain(spark: SparkSession, args) -> int:
    """mash contain / dist -C (CommandContain.cpp): containment score of
    each query sketch within each ref sketch + error bound."""
    from .params import params_from_schema

    params = _sketch_params(args)
    lsh = LSHParams()
    ref = load_or_sketch(spark, args.reference, params, lsh)
    # adopt a sketch-file reference's params before sketching the query
    # (same rule as cmd_dist; mash ignores CLI -k/-s for .msh inputs)
    params = params_from_schema(ref) or params
    qry = load_or_sketch(spark, args.query, params, lsh)
    out = contain_pairs(all_pairs(ref, qry), ref, params, sketches_b=qry)
    _emit(out, args.output)
    return 0


def cmd_info(spark: SparkSession, args) -> int:
    """mash info (CommandInfo.cpp): header params + per-sketch rows;
    -d = JSON dump (schema-1.0.0.json shape); -H = count histogram
    (requires a counts sketch table, i.e. `sketch -m/--counts`)."""
    ents = mio.committed_buckets(args.input)
    if not ents:
        raise SystemExit(f"{args.input}: not a committed sketch table")
    fp = next(iter(ents.values())).get("params_fingerprint") or "{}"
    pd_ = json.loads(fp)
    params = SketchParams(**{k: int(v) for k, v in pd_.items()})
    sk = mio.read_sketches(spark, args.input, params=params)
    if args.dump:
        for r in sketch_json_dump(sk, params).toLocalIterator():
            sys.stdout.write(r["json"] + "\n")
        return 0
    if args.histogram:
        if "counts" not in sk.columns:
            raise SystemExit("histogram needs a counts table (sketch --counts)")
        _emit(count_histogram(sk), args.output)
        return 0
    print(f"kmer\t{params.k}\nsketch_size\t{params.s}\nseed\t{params.seed}\n"
          f"alphabet_size\t{params.alphabet_size}\nmin_cov\t{params.min_cov}\n"
          f"buckets\t{len(ents)}")
    _emit(sketch_cardinalities(sk, s=params.s), args.output)
    return 0


def cmd_paste(spark: SparkSession, args) -> int:
    """mash paste (CommandPaste.cpp): union compatible sketch tables into
    one committed table (compat enforced; Sketch.cpp:133-160)."""
    tables, fps = [], set()
    for p in args.inputs:
        ents = mio.committed_buckets(p)
        if ents:
            fps.add(next(iter(ents.values())).get("params_fingerprint"))
            tables.append(mio.read_sketches(spark, p))
        else:
            raise SystemExit(f"{p}: not a committed sketch table")
    if len(fps) > 1:
        raise SystemExit(f"incompatible sketch tables: {sorted(fps)}")
    merged = paste(*tables)
    mio.run_checkpointed(
        spark, merged, args.output, lambda part: part,
        n_buckets=args.buckets, params_fingerprint=fps.pop(),
        metrics_fn=mio.sketch_metrics,
    )
    print(f"pasted {len(tables)} tables into {args.output}", file=sys.stderr)
    return 0


def cmd_bounds(spark: SparkSession, args) -> int:
    """mash bounds (CommandBounds.cpp): closed-form Mash-distance error
    bounds at the given confidence for the configured sketch size."""
    params = _sketch_params(args)
    print(f"kmer\t{params.k}\nsketch_size\t{params.s}\nconfidence\t{args.prob}")
    print("distance\tjaccard\terr_low\terr_high")
    for row in bounds_table(params, prob=args.prob):
        print(f"{row['distance']}\t{row['jaccard']:.6f}\t"
              f"{row['err_low']:.6f}\t{row['err_high']:.6f}")
    return 0


def cmd_tune(spark: SparkSession, args) -> int:
    """LSH planner (beyond the reference): solve the cheapest residue-class
    banding config meeting the recall target at the dedup threshold, and
    print the predicted operating point (driver-side closed form, no job)."""
    from .lsh import tune_lsh_params

    lshp, diag = tune_lsh_params(args.jaccard, s=args.sketch_size,
                                 target_recall=args.recall)
    print(json.dumps({
        "jaccard_threshold": args.jaccard, "sketch_size": args.sketch_size,
        "target_recall": args.recall, "prefix": lshp.prefix,
        "bands": lshp.bands, **diag,
    }))
    return 0


def cmd_dedup(spark: SparkSession, args) -> int:
    """The flagship webtext pipeline (beyond the reference): docs ->
    near-dup pairs + connected-component cluster ids (sketch -> LSH ->
    Mash-exact verify -> CC), outputs parquet + TSV + metrics JSON."""
    params = _sketch_params(args)
    lsh = LSHParams()
    if args.tune_lsh:
        from .lsh import tune_lsh_params

        lsh, diag = tune_lsh_params(args.jaccard, s=params.s)
        print(f"tuned LSH: prefix={lsh.prefix} bands={lsh.bands} "
              f"(predicted recall {diag['predicted_recall']:.6f})",
              file=sys.stderr)
    cfg = PipelineConfig(sketch=params,
                         lsh=lsh,
                         jaccard_threshold=args.jaccard,
                         max_distance=args.max_dist,
                         max_pvalue=args.max_pvalue)
    docs = load_docs(spark, args.input)
    if getattr(args, "snapshot_root", None):
        # snapshot-committed run: bucket/stage/run resume, per-partition
        # lineage in the sketch snapshot summary, time travel across
        # --input-tag runs (runs.dedup_snapshot_run)
        from .runs import dedup_snapshot_run

        r = dedup_snapshot_run(
            spark, docs, cfg, args.snapshot_root,
            input_tag=args.input_tag, n_buckets=args.buckets)
        r.clusters.write.mode("overwrite").parquet(
            os.path.join(args.output, "clusters"))
        metrics = {
            "n_docs": r.clusters.count(),
            "n_clusters": r.clusters.select("cluster_id")
            .distinct().count(),
            "sketch_version": r.sketch_version,
            "cluster_version": r.cluster_version,
            "resumed_sketches": r.resumed_sketches,
            "resumed_clusters": r.resumed_clusters,
        }
        print(json.dumps(metrics), file=sys.stderr)
        return 0
    res = dedup_pipeline(docs, cfg)
    res.clusters.write.mode("overwrite").parquet(os.path.join(args.output, "clusters"))
    mio.write_dist_tsv(res.pairs, os.path.join(args.output, "pairs"))
    metrics = {"n_docs": res.clusters.count(),
               "n_pairs": res.pairs.count(),
               "n_clusters": res.clusters.select("cluster_id").distinct().count(),
               "lsh_metrics": res.lsh_metrics.collect()[0].asDict()}
    spark.createDataFrame([(json.dumps(metrics),)], "metrics string") \
        .coalesce(1).write.mode("overwrite").json(os.path.join(args.output, "metrics.json"))
    res.release()
    print(json.dumps(metrics), file=sys.stderr)
    return 0


def cmd_dedup_against(spark: SparkSession, args) -> int:
    """Batch cross-corpus dedup (beyond the reference): flag every new
    doc that near-dups the reference corpus; outputs per-doc decisions
    parquet + metrics JSON. --ref-sketches reuses a committed sketch
    table (from `mashspark sketch`) instead of re-sketching the ref."""
    from .pipeline import dedup_against

    params = _sketch_params(args)
    cfg = PipelineConfig(sketch=params, jaccard_threshold=args.jaccard)
    if not args.ref and not args.ref_sketches:
        print("dedup-against: need --ref or --ref-sketches", file=sys.stderr)
        return 2
    new_docs = load_docs(spark, args.input)
    if args.ref_sketches:
        ref_sk = mio.read_sketches(spark, args.ref_sketches)
        res = dedup_against(new_docs, None, cfg, ref_sketches=ref_sk)
    else:
        res = dedup_against(new_docs, load_docs(spark, args.ref), cfg)
    res.decisions.write.mode("overwrite").parquet(
        os.path.join(args.output, "decisions"))
    dec = spark.read.parquet(os.path.join(args.output, "decisions"))
    metrics = {"n_new_docs": dec.count(),
               "n_flagged": dec.filter(F.col("is_dup")).count(),
               "drop_metrics": res.metrics.collect()[0].asDict()}
    spark.createDataFrame([(json.dumps(metrics),)], "metrics string") \
        .coalesce(1).write.mode("overwrite").json(
            os.path.join(args.output, "metrics.json"))
    res.release()
    print(json.dumps(metrics), file=sys.stderr)
    return 0


def cmd_route(spark: SparkSession, args) -> int:
    """CCNet-style quality routing (beyond the reference): train an
    n-gram LM on a reference corpus (--ref; default: the input itself),
    score every input doc, split into --buckets perplexity tiers, and
    write the corpus partitioned by tier — downstream jobs read only
    the head partition(s). Bucket 0 = closest to the reference
    register. --backoff N scores with the order-N Stupid Backoff model
    instead of the plain n-gram likelihood (sharper register signal;
    see backoff.py); --kn scores with the interpolated Kneser-Ney
    bigram LM (the KenLM-family smoother CCNet itself uses;
    kneser.py)."""
    from .lm import perplexity_buckets, score_documents, unigram_counts

    docs = load_docs(spark, args.input)
    ref = load_docs(spark, args.ref) if args.ref else docs
    if getattr(args, "kn", False):
        from .kneser import score_kn, train_kn

        scored = score_kn(
            docs, train_kn(ref),
            broadcast_model=not args.no_broadcast,
        ).select(
            "doc_id", F.col("n_bigrams").alias("n_tokens"),
            F.col("logprob_per_bigram").alias("logprob_per_token"),
        )
    elif args.backoff:
        from .backoff import ngram_models, stupid_backoff_scores

        scored = stupid_backoff_scores(
            docs, ngram_models(ref, args.backoff),
            broadcast_counts=not args.no_broadcast,
        ).select(
            "doc_id", F.col("n_positions").alias("n_tokens"),
            F.col("logscore_per_token").alias("logprob_per_token"),
        )
    else:
        model = unigram_counts(ref, n=args.ngram)
        scored = score_documents(docs, model, n=args.ngram,
                                 broadcast_counts=not args.no_broadcast)
    routed = perplexity_buckets(scored, n_buckets=args.buckets)
    # left join back: a doc with zero tokens has no score row — route
    # it to the tail rather than dropping it
    out = docs.join(
        routed.select("doc_id", "bucket", "n_tokens",
                      "logprob_per_token"),
        "doc_id", "left").fillna({"bucket": args.buckets - 1})
    out.write.mode("overwrite").partitionBy("bucket").parquet(args.output)
    sizes = {int(r.bucket): int(r.n)
             for r in spark.read.parquet(args.output).groupBy("bucket")
             .agg(F.count("*").alias("n")).collect()}
    print(json.dumps({"bucket_sizes": sizes, "output": args.output}),
          file=sys.stderr)
    return 0


def cmd_select(spark: SparkSession, args) -> int:
    """DSIR data selection (beyond the reference): score every input doc
    by its n-gram log-likelihood ratio between a target-register LM
    (--target) and a source-pool LM (--source; default: the input
    itself), keep ~--n-select docs via reproducible Gumbel-top-k, write
    the selected docs with their scores."""
    from .dsir import dsir_select, ratio_scores
    from .lm import unigram_counts

    docs = load_docs(spark, args.input)
    tgt = unigram_counts(load_docs(spark, args.target), n=args.ngram)
    src_docs = load_docs(spark, args.source) if args.source else docs
    src = unigram_counts(src_docs, n=args.ngram)
    scored = ratio_scores(docs, tgt, src, n=args.ngram,
                          broadcast_counts=not args.no_broadcast)
    picked = dsir_select(scored, args.n_select, salt=args.salt,
                         mode=args.mode)
    out = docs.join(
        picked.select("doc_id", "logratio", "logratio_per_token",
                      "gumbel_key"),
        "doc_id")
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"n_selected": n, "n_requested": args.n_select,
                      "output": args.output}), file=sys.stderr)
    return 0


def cmd_member(spark: SparkSession, args) -> int:
    """Cross-corpus membership (beyond the reference): flag every input
    doc whose --column value occurs in the reference corpus, via the
    Bloom-prefiltered exact semi-join (bloom.membership_flags). With
    --no-confirm the Bloom verdict is written directly (no join at all;
    ~--fpp false positives, never false negatives). --bloom-store
    persists the built filter; a later run loads it instead of
    rebuilding, and with --no-confirm needs no --ref at all."""
    from .bloom import (bloom_size, build_bloom, load_bloom_with_meta,
                        membership_flags, save_bloom)

    bloom = meta = None
    if args.bloom_store:
        # probe by attempting the load (os.path checks would wrongly
        # say "missing" for hdfs://... paths Spark writers can reach)
        try:
            bloom, meta = load_bloom_with_meta(spark, args.bloom_store)
        except Exception:
            bloom = meta = None
    if not args.ref and not (bloom is not None and args.no_confirm):
        print("member: need --ref (or an existing --bloom-store "
              "with --no-confirm)", file=sys.stderr)
        return 2
    ref = load_docs(spark, args.ref) if args.ref else None
    if ref is not None and args.bloom_store:
        # staleness check: a store built from a different reference
        # would silently miss members (Bloom false negatives are
        # impossible only against the corpus it was built from)
        ref_fps = ref.select(F.col(args.column).alias("_fp")).distinct()
        n_ref = ref_fps.count()
        stale = (bloom is None or meta is None
                 or meta.get("n_items") != n_ref
                 or meta.get("fpp") != args.fpp)
        if stale:
            if bloom is not None:
                print(f"member: bloom store is stale (built from "
                      f"{meta.get('n_items')} items at fpp="
                      f"{meta.get('fpp')}, reference now has {n_ref}); "
                      f"rebuilding", file=sys.stderr)
            m_bits, k = bloom_size(n_ref, args.fpp)
            bloom = build_bloom(ref_fps, "_fp", m_bits, k)
            save_bloom(spark, bloom, args.bloom_store,
                       n_items=n_ref, fpp=args.fpp)
    flags = membership_flags(
        load_docs(spark, args.input), ref,
        fp_col=args.column, fpp=args.fpp, confirm=not args.no_confirm,
        bloom=bloom)
    flags.write.mode("overwrite").parquet(args.output)
    out = spark.read.parquet(args.output)
    metrics = {"n_docs": out.count(),
               "n_in_reference": out.filter("in_reference").count(),
               "exact": not args.no_confirm}
    print(json.dumps(metrics), file=sys.stderr)
    return 0


def cmd_ingest(spark: SparkSession, args) -> int:
    """Crawl archive ingestion (beyond the reference; reference analog:
    the FASTA/FASTQ scanners). --format wet: Common-Crawl-shaped
    multi-record text archives, record-split inside the JVM text
    source -> (doc_id, url, date, text). --format warc: binary
    response archives (plain or gzipped), Content-Length record walk +
    HTTP strip + html->text extraction -> (doc_id, url, warc_ts,
    text)."""
    if args.format == "warc":
        from .extract import extracted_text
        from .warc import read_warc

        docs = read_warc(spark, args.input).select(
            "doc_id", "url", "warc_ts",
            extracted_text(F.col("html").cast("string")).alias("text"),
        )
    else:
        from .wet import read_wet

        docs = read_wet(spark, args.input)
    docs.write.mode("overwrite").parquet(args.output)
    out = spark.read.parquet(args.output)
    n = out.count()
    n_url = out.select("url").distinct().count()
    print(json.dumps({"n_records": n, "n_distinct_urls": n_url,
                      "output": args.output}), file=sys.stderr)
    return 0


def cmd_clean(spark: SparkSession, args) -> int:
    """C4/Gopher page cleaning (beyond the reference): the canonical
    pre-dedup curation chain — optional Gopher page rules, C4 line +
    page filters, CCNet boilerplate-line removal (--min-docs), and
    corpus-global n-sentence-span dedup (--span-n) — writing the
    cleaned corpus plus a funnel report of per-stage survivor counts.
    Every stage is the scale-shaped operator from c4.py/repetition.py;
    the composition adds joins on doc_id only."""
    from .c4 import c4_line_filters, span_dedup

    docs = load_docs(spark, args.input)
    stages = {"input": docs.count()}
    cur = docs

    def _materialize(df):
        # checkpoint each surviving stage BEFORE its funnel count: the
        # count and every later stage (and the final write) would
        # otherwise re-run the whole upstream filter/join chain from the
        # scan — multiplying the full cleaning cost per stage
        return df.localCheckpoint(eager=True)

    if args.gopher:
        from .repetition import gopher_quality_flags

        flags = gopher_quality_flags(cur, sep=args.sep)
        cur = _materialize(
            cur.join(flags.filter("keep").select("doc_id"), "doc_id"))
        stages["gopher"] = cur.count()
    if not args.no_c4_lines:
        lf = c4_line_filters(cur, sep=args.sep, min_words=args.min_words)
        kept = lf.filter("keep_page").select(
            "doc_id", F.col("cleaned").alias("text"))
        cur = _materialize(cur.drop("text").join(kept, "doc_id"))
        stages["c4_lines"] = cur.count()
    if args.min_docs:
        from .repetition import remove_boilerplate

        rb = remove_boilerplate(cur, min_docs=args.min_docs, sep=args.sep)
        cur = _materialize(cur.drop("text").join(
            rb.select("doc_id", F.col("cleaned").alias("text")), "doc_id"))
        stages["boilerplate"] = cur.count()
    if args.span_n:
        sd = span_dedup(cur, n=args.span_n, sep=args.sep)
        cur = _materialize(cur.drop("text").join(
            sd.select("doc_id", F.col("cleaned").alias("text")), "doc_id"))
        stages["span_dedup"] = cur.count()
    cur.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"funnel": stages, "output": args.output}),
          file=sys.stderr)
    return 0


def cmd_tiers(spark: SparkSession, args) -> int:
    """Tiered dedup report (beyond the reference): label every doc with
    the strictest tier at which it duplicates another (exact >
    canonical > near > unique) plus its group representative; write the
    per-doc report parquet and print per-tier counts. The decision
    artifact a curation run reads before choosing how aggressively to
    collapse."""
    from .params import PipelineConfig, SketchParams
    from .pipeline import dedup_tiers

    docs = load_docs(spark, args.input)
    cfg = PipelineConfig(
        sketch=SketchParams(k=args.kmer, s=args.sketch_size, seed=args.seed),
        jaccard_threshold=args.threshold,
    )
    tiers = dedup_tiers(docs, config=cfg)
    tiers.write.mode("overwrite").parquet(args.output)
    back = spark.read.parquet(args.output)
    counts = {f"{r['tier']}{'_rep' if r['is_rep'] else ''}": int(r["n"])
              for r in back.groupBy("tier", "is_rep")
              .agg(F.count("*").alias("n")).collect()}
    removable = back.filter("NOT is_rep").count()
    print(json.dumps({"tier_counts": counts, "removable_docs": removable,
                      "output": args.output}), file=sys.stderr)
    return 0


def cmd_profile(spark: SparkSession, args) -> int:
    """Corpus composition report (the webtext `mash info`): global
    summary JSON to stderr + per-stratum profile parquet (exact
    volumes, distinct texts = dedup headroom, token extremes)."""
    from .profile import corpus_summary, group_profile

    docs = load_docs(spark, args.input)
    keys = [k for k in args.by.split(",") if k]
    prof = group_profile(docs, keys=keys)
    if args.output:
        prof.write.mode("overwrite").parquet(args.output)
    summary = corpus_summary(docs)
    print(json.dumps({"summary": summary,
                      "n_strata": prof.count(),
                      "by": keys,
                      "output": args.output}), file=sys.stderr)
    return 0


def cmd_tokenize(spark: SparkSession, args) -> int:
    """Tokenizer train + encode (beyond the reference): learn a BPE
    merge list or a unigram-LM (SentencePiece) piece vocabulary from
    the corpus (or a --train sample — at web scale train on a
    deterministic hash-sample and encode everything), encode every
    doc, write encoded parquet + the model table."""
    docs = load_docs(spark, args.input)
    train = load_docs(spark, args.train) if args.train else docs
    if args.model == "unigram":
        from .unigram import encode_unigram, train_unigram

        logp = train_unigram(train, vocab_size=args.vocab_size,
                             max_piece_len=args.max_piece_len)
        enc = encode_unigram(docs, logp, max_piece_len=args.max_piece_len)
        enc.write.mode("overwrite").parquet(
            os.path.join(args.output, "encoded"))
        spark.createDataFrame(
            sorted(logp.items()), "piece string, logp double",
        ).coalesce(1).write.mode("overwrite").json(
            os.path.join(args.output, "vocab"))
        out = spark.read.parquet(os.path.join(args.output, "encoded"))
        stats = out.agg(F.count("*").alias("n"),
                        F.sum("n_pieces").alias("toks")).collect()[0]
        print(json.dumps({"model": "unigram", "vocab_size": len(logp),
                          "n_docs": int(stats.n),
                          "total_pieces": int(stats.toks or 0),
                          "output": args.output}), file=sys.stderr)
        return 0
    from .bpe import encode_bpe, train_bpe

    merges = train_bpe(train, n_merges=args.merges,
                       min_frequency=args.min_frequency)
    enc = encode_bpe(docs, merges)
    enc.write.mode("overwrite").parquet(os.path.join(args.output, "encoded"))
    spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank long, left string, right string",
    ).coalesce(1).write.mode("overwrite").json(
        os.path.join(args.output, "merges"))
    out = spark.read.parquet(os.path.join(args.output, "encoded"))
    stats = out.agg(F.count("*").alias("n"),
                    F.sum("n_bpe_tokens").alias("toks")).collect()[0]
    print(json.dumps({"model": "bpe", "n_merges": len(merges),
                      "n_docs": int(stats.n),
                      "total_bpe_tokens": int(stats.toks or 0),
                      "output": args.output}), file=sys.stderr)
    return 0


def cmd_diff(spark: SparkSession, args) -> int:
    """Incremental re-crawl delta (beyond the reference): compare two
    crawl snapshots by canonical URL and write only the
    added/removed/changed rows — the input a downstream incremental
    pipeline actually reprocesses."""
    from .urls import snapshot_diff

    old = load_docs(spark, args.old)
    new = load_docs(spark, args.input)
    for side, name in ((old, args.old), (new, args.input)):
        if "url" not in side.columns:
            print(f"diff: {name} has no 'url' column", file=sys.stderr)
            return 2
    ts = args.ts_col if args.ts_col else None
    delta = snapshot_diff(old, new, ts_col=ts)
    delta.write.mode("overwrite").parquet(args.output)
    out = spark.read.parquet(args.output)
    counts = {r["status"]: r["n"] for r in
              out.groupBy("status").agg(F.count("*").alias("n")).collect()}
    print(json.dumps({"added": counts.get("added", 0),
                      "removed": counts.get("removed", 0),
                      "changed": counts.get("changed", 0),
                      "output": args.output}), file=sys.stderr)
    return 0


def cmd_budget(spark: SparkSession, args) -> int:
    """Token-budget selection (beyond the reference): keep the
    best-scoring docs whose running token total fits --tokens; writes
    the kept (doc_id, score, n_tokens, cum_tokens) layout."""
    from .budget import select_within_budget

    docs = load_docs(spark, args.input)
    if args.score_col not in docs.columns:
        print(f"budget: no {args.score_col!r} column (have "
              f"{docs.columns}); pass --score-col", file=sys.stderr)
        return 2
    kept = select_within_budget(
        docs, args.tokens, score_col=args.score_col,
        token_count_col=args.token_count_col)
    kept.write.mode("overwrite").parquet(args.output)
    out = spark.read.parquet(args.output)
    stats = out.agg(F.count("*").alias("n"),
                    F.max("cum_tokens").alias("used")).collect()[0]
    print(json.dumps({"n_kept": int(stats.n),
                      "tokens_used": int(stats.used or 0),
                      "budget": args.tokens,
                      "output": args.output}), file=sys.stderr)
    return 0


def cmd_stream(spark: SparkSession, args) -> int:
    """Streaming incremental dedup (beyond the reference — the crawl
    firehose): consume a parquet document directory as a Structured
    Stream (availableNow = drain everything queued, then stop; rerun as
    new files land — the checkpoint resumes where the last run left
    off), near-dup each micro-batch against the persisted sketch store,
    append per-doc decisions."""
    params = _sketch_params(args)
    cfg = PipelineConfig(sketch=params, jaccard_threshold=args.jaccard)
    schema = spark.read.parquet(args.input).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", args.max_files)
              .parquet(args.input))
    if "doc_id" not in schema.fieldNames():
        stream = stream.withColumn("doc_id", F.xxhash64("url"))
    from .streaming import incremental_dedup
    q = incremental_dedup(
        stream, args.store, config=cfg,
        checkpoint=os.path.join(args.store, "_checkpoint"))
    q.awaitTermination()
    dec = spark.read.parquet(os.path.join(args.store, "decisions"))
    n, n_dup = dec.count(), dec.filter(F.col("dup_of").isNotNull()).count()
    print(f"decided {n} docs ({n_dup} near-duplicates) -> "
          f"{args.store}/decisions", file=sys.stderr)
    return 0


# ----------------------------------------------------------------- parser

def _add_sketch_flags(p: argparse.ArgumentParser) -> None:
    p.add_argument("-k", "--kmer", type=int, default=21)
    p.add_argument("-s", "--sketch-size", type=int, default=1000)
    p.add_argument("-S", "--seed", type=int, default=42)


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="mashspark", description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--cores", type=int, default=None,
                    help="local[N] cores (default: SPARK_GRAFT_CPUS, else the "
                         "CPUs this process may run on)")
    sub = ap.add_subparsers(dest="command", required=True)

    p = sub.add_parser("sketch", help="docs -> committed sketch table (resumable)")
    _add_sketch_flags(p)
    p.add_argument("-m", "--min-copies", type=int, default=1)
    p.add_argument("--counts", action="store_true",
                   help="keep per-hash multiplicities (coverage/histogram)")
    p.add_argument("--buckets", type=int, default=16)
    p.add_argument("-o", "--output", required=True)
    p.add_argument("input")
    p.set_defaults(fn=cmd_sketch)

    p = sub.add_parser("dist", help="all ref x query Mash distances")
    _add_sketch_flags(p)
    p.add_argument("-d", "--max-dist", type=float, default=None)
    p.add_argument("-v", "--max-pvalue", type=float, default=None)
    p.add_argument("-b", "--best", type=int, default=None,
                   help="keep b best hits per query")
    p.add_argument("-o", "--output", default=None)
    p.add_argument("reference")
    p.add_argument("query")
    p.set_defaults(fn=cmd_dist, min_copies=1)

    p = sub.add_parser("triangle", help="self all-pairs: phylip matrix or -E edges")
    _add_sketch_flags(p)
    p.add_argument("-E", "--edges", action="store_true")
    p.add_argument("-d", "--max-dist", type=float, default=None)
    p.add_argument("-v", "--max-pvalue", type=float, default=None)
    p.add_argument("-o", "--output", default=None)
    p.add_argument("input")
    p.set_defaults(fn=cmd_triangle, min_copies=1)

    p = sub.add_parser("screen", help="containment of refs in a raw mixture")
    _add_sketch_flags(p)
    p.add_argument("-m", "--min-copies", type=int, default=1)
    p.add_argument("-i", "--min-identity", type=float, default=None)
    p.add_argument("-v", "--max-pvalue", type=float, default=None)
    p.add_argument("-p", "--pvalues", action="store_true",
                   help="include the p-value column")
    p.add_argument("-w", "--winner-take-all", action="store_true")
    p.add_argument("-o", "--output", default=None)
    p.add_argument("reference")
    p.add_argument("mixture")
    p.set_defaults(fn=cmd_screen)

    p = sub.add_parser("contain", help="containment of queries within refs")
    _add_sketch_flags(p)
    p.add_argument("-o", "--output", default=None)
    p.add_argument("reference")
    p.add_argument("query")
    p.set_defaults(fn=cmd_contain, min_copies=1)

    p = sub.add_parser("info", help="sketch table header + cardinalities")
    p.add_argument("-d", "--dump", action="store_true", help="JSON dump")
    p.add_argument("-H", "--histogram", action="store_true")
    p.add_argument("-o", "--output", default=None)
    p.add_argument("input")
    p.set_defaults(fn=cmd_info)

    p = sub.add_parser("paste", help="union compatible sketch tables")
    p.add_argument("--buckets", type=int, default=16)
    p.add_argument("-o", "--output", required=True)
    p.add_argument("inputs", nargs="+")
    p.set_defaults(fn=cmd_paste)

    p = sub.add_parser("bounds", help="Mash-distance error-bound table")
    _add_sketch_flags(p)
    p.add_argument("-p", "--prob", type=float, default=0.99)
    p.set_defaults(fn=cmd_bounds, min_copies=1)

    p = sub.add_parser("stream", help="streaming incremental dedup vs a sketch store")
    _add_sketch_flags(p)
    p.add_argument("-j", "--jaccard", type=float, default=0.7)
    p.add_argument("--max-files", type=int, default=4,
                   help="parquet files per micro-batch")
    p.add_argument("--store", required=True,
                   help="sketch store dir (created/extended)")
    p.add_argument("input", help="parquet document directory to stream")
    p.set_defaults(fn=cmd_stream, min_copies=1)

    p = sub.add_parser("tune", help="solve the LSH band config for a recall target")
    _add_sketch_flags(p)
    p.add_argument("-j", "--jaccard", type=float, default=0.7)
    p.add_argument("-r", "--recall", type=float, default=0.999)
    p.set_defaults(fn=cmd_tune, min_copies=1)

    p = sub.add_parser("dedup", help="near-dup pairs + cluster ids (flagship)")
    _add_sketch_flags(p)
    p.add_argument("-j", "--jaccard", type=float, default=0.7)
    p.add_argument("-d", "--max-dist", type=float, default=None)
    p.add_argument("-v", "--max-pvalue", type=float, default=None)
    p.add_argument("--tune-lsh", action="store_true",
                   help="solve the band config for the -j threshold")
    p.add_argument("--snapshot-root", default=None,
                   help="commit sketches + clusters through the "
                        "snapshot log (resumable; time travel across "
                        "--input-tag runs) instead of plain parquet")
    p.add_argument("--input-tag", default="",
                   help="crawl/run id for --snapshot-root resume + "
                        "time-travel identity")
    p.add_argument("--buckets", type=int, default=16,
                   help="sketch checkpoint buckets for --snapshot-root")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("input")
    p.set_defaults(fn=cmd_dedup, min_copies=1)

    p = sub.add_parser(
        "route",
        help="LM-score and split a corpus into perplexity tiers")
    p.add_argument("--ref", help="reference corpus to train the LM on "
                                 "(default: the input itself)")
    p.add_argument("-n", "--ngram", type=int, default=1)
    p.add_argument("-b", "--buckets", type=int, default=3)
    p.add_argument("--backoff", type=int, default=None, metavar="ORDER",
                   help="score with the order-N Stupid Backoff model "
                        "instead of the plain n-gram likelihood")
    p.add_argument("--kn", action="store_true",
                   help="score with the interpolated Kneser-Ney bigram "
                        "LM (the KenLM-family smoother)")
    p.add_argument("--no-broadcast", action="store_true",
                   help="shuffle-join the model instead of broadcasting "
                        "(vocab larger than executor memory)")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("input")
    p.set_defaults(fn=cmd_route, min_copies=1)

    p = sub.add_parser(
        "select",
        help="DSIR: keep docs whose n-grams match a target corpus")
    p.add_argument("--target", required=True,
                   help="target-register docs parquet (trains the "
                        "numerator LM)")
    p.add_argument("--source", help="source-pool docs for the "
                                    "denominator LM (default: the input)")
    p.add_argument("-n", "--ngram", type=int, default=1)
    p.add_argument("--n-select", type=int, required=True,
                   help="approximate number of docs to keep")
    p.add_argument("--mode", choices=["threshold", "exact"],
                   default="threshold",
                   help="threshold: quantile cutoff, no global sort "
                        "(the at-scale path); exact: top-k via ordered "
                        "limit (driver-sized k)")
    p.add_argument("--salt", default="dsir:42",
                   help="resampling salt (same salt = same draw)")
    p.add_argument("--no-broadcast", action="store_true",
                   help="shuffle-join the models instead of broadcasting")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("input")
    p.set_defaults(fn=cmd_select, min_copies=1)

    p = sub.add_parser(
        "member",
        help="flag docs already present in a reference corpus "
             "(Bloom-prefiltered exact membership)")
    p.add_argument("--ref", help="reference docs parquet (optional when "
                                 "--bloom-store exists and --no-confirm)")
    p.add_argument("--column", default="text",
                   help="fingerprint column compared across corpora")
    p.add_argument("--fpp", type=float, default=0.01,
                   help="Bloom false-positive rate the filter is sized for")
    p.add_argument("--no-confirm", action="store_true",
                   help="skip the exact confirm join; accept ~fpp false "
                        "positives (never false negatives)")
    p.add_argument("--bloom-store",
                   help="persist/reuse the built filter at this path")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("input")
    p.set_defaults(fn=cmd_member, min_copies=1)

    p = sub.add_parser(
        "ingest",
        help="WET/WARC crawl archives -> documents parquet table")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--format", choices=["wet", "warc"], default="wet",
                   help="wet: text conversions; warc: binary responses "
                        "(gzip ok) with html->text extraction")
    p.add_argument("input", help="directory of crawl archive files")
    p.set_defaults(fn=cmd_ingest, min_copies=1)

    p = sub.add_parser(
        "tiers",
        help="tiered dedup report: strictest dup tier + rep per doc")
    p.add_argument("-k", "--kmer", type=int, default=21)
    p.add_argument("-s", "--sketch-size", type=int, default=1000)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("-t", "--threshold", type=float, default=0.7,
                   help="near-tier verified Jaccard threshold")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("input")
    p.set_defaults(fn=cmd_tiers, min_copies=1)

    p = sub.add_parser(
        "clean",
        help="C4/Gopher page cleaning + span dedup -> cleaned parquet")
    p.add_argument("--sep", default="\n",
                   help="line/sentence separator (default newline)")
    p.add_argument("--min-words", type=int, default=5,
                   help="C4 minimum words per kept line")
    p.add_argument("--gopher", action="store_true",
                   help="apply the Gopher page-quality rules first")
    p.add_argument("--no-c4-lines", action="store_true",
                   help="skip the C4 line/page filters")
    p.add_argument("--min-docs", type=int, default=None,
                   help="strip lines occurring in >= N docs (CCNet)")
    p.add_argument("--span-n", type=int, default=None,
                   help="global n-sentence-span dedup (C4, n=3 typical)")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("input")
    p.set_defaults(fn=cmd_clean, min_copies=1)

    p = sub.add_parser(
        "profile",
        help="corpus composition report: volumes, dedup headroom, "
             "token stats")
    p.add_argument("--by", default="lang,source",
                   help="comma-separated stratum columns")
    p.add_argument("-o", "--output", default=None,
                   help="write the per-stratum profile parquet here")
    p.add_argument("input")
    p.set_defaults(fn=cmd_profile, min_copies=1)

    p = sub.add_parser(
        "tokenize",
        help="train a tokenizer (BPE or unigram-LM) and encode the "
             "corpus with it")
    p.add_argument("--model", choices=["bpe", "unigram"], default="bpe")
    p.add_argument("--train", help="training docs parquet (default: the "
                                   "input; at scale pass a hash-sample)")
    p.add_argument("-m", "--merges", type=int, default=512,
                   help="bpe: max merges to learn")
    p.add_argument("--min-frequency", type=int, default=2,
                   help="bpe: stop when the best pair is rarer than this")
    p.add_argument("--vocab-size", type=int, default=512,
                   help="unigram: target piece-vocabulary size")
    p.add_argument("--max-piece-len", type=int, default=6,
                   help="unigram: longest piece considered")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("input")
    p.set_defaults(fn=cmd_tokenize, min_copies=1)

    p = sub.add_parser(
        "diff",
        help="re-crawl delta: added/removed/changed urls vs an old "
             "snapshot")
    p.add_argument("--old", required=True, help="old snapshot parquet")
    p.add_argument("--ts-col", default=None,
                   help="timestamp column for revisit collapse "
                        "(default: min-id per url)")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("input", help="new snapshot parquet")
    p.set_defaults(fn=cmd_diff, min_copies=1)

    p = sub.add_parser(
        "budget",
        help="keep the best-scoring docs under a global token budget")
    p.add_argument("-t", "--tokens", type=int, required=True,
                   help="global token budget")
    p.add_argument("--score-col", default="score",
                   help="quality column to rank by (descending)")
    p.add_argument("--token-count-col", default=None,
                   help="precomputed token-count column (default: "
                        "whitespace tokens of text)")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("input")
    p.set_defaults(fn=cmd_budget, min_copies=1)

    p = sub.add_parser(
        "dedup-against",
        help="flag new docs that near-dup a reference corpus")
    _add_sketch_flags(p)
    p.add_argument("-j", "--jaccard", type=float, default=0.7)
    p.add_argument("--ref", help="reference docs parquet")
    p.add_argument("--ref-sketches",
                   help="committed ref sketch table (skips re-sketching)")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("input", help="new docs parquet")
    p.set_defaults(fn=cmd_dedup_against, min_copies=1)

    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    # reuse a live session (tests, notebooks); only own what we created
    existing = SparkSession.getActiveSession()
    spark = existing or get_spark(cores=args.cores, app_name="mashspark-cli")
    try:
        return args.fn(spark, args)
    finally:
        if existing is None:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
