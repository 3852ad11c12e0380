"""End-to-end near-duplicate pipeline:

documents -> sketches -> exact-dup collapse -> LSH candidates ->
Mash-exact verify -> duplicate edges -> connected components -> clusters.

Stage map to the reference: sketching = ``mash sketch``
(``Sketch.cpp:105-253``), pairwise verification = ``mash dist`` semantics
(``CommandDistance.cpp:336-448``) restricted to LSH candidates, edge list =
``mash triangle -E`` (``CommandTriangle.cpp:200-214``), clustering is ours
(the reference leaves clustering to the user).

Scale notes (the 100 TB story):
* sketching is map-only — linear in executors, no shuffle; its output is
  materialized once as raw row blocks (localCheckpoint — the columnar
  cache builder chokes on 8 KB binary rows, see dedup_pipeline) and on a
  real cluster is written bucketed by doc_id (Iceberg) so the doc_id
  joins read it shuffle-free;
* exact-dup collapse shuffles only (doc_id, fp128) — 24 B/doc — and
  removes the mirrored/templated mega-buckets (skew source #1) before LSH;
* the band join shuffles (band_key, doc_id) — 16 B per band entry, NOT the
  sketches — once: bucket sizes, the self-join and the star hubs all run
  co-partitioned on that one exchange;
* every groupBy/join key is salted or AQE-split per ``lsh.py``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cc as _cc
from . import lsh as _lsh
from . import verify as _verify
from .params import PipelineConfig, params_from_schema
from .sketch import sketch_documents


@dataclass
class DedupResult:
    sketches: DataFrame      # doc_id, sketch, n_kmers, card_est, band_key, fp1, fp2
    exact_groups: DataFrame  # doc_id, rep_id  (identical-sketch members)
    pairs: DataFrame         # verified rep pairs: id_a, id_b, common, denom, jaccard, mash_dist
    edges: DataFrame         # duplicate edges over ALL docs (src, dst)
    clusters: DataFrame      # doc_id, cluster_id (min doc_id of cluster)
    lsh_metrics: DataFrame   # bucket/skew metrics (one row)
    # what the run pinned: its localCheckpointed materializations
    # (sketches, exact_groups, tier-1 survivors, pairs, LSH internals)
    # and verify's sketch lookups.
    # NOTE a plain sketches.unpersist() is a SILENT NO-OP for checkpointed
    # DataFrames — the row blocks stay pinned until RDD GC or session end;
    # long-lived sessions running several pipelines must call release().
    held: _Held

    def release(self) -> None:
        """Free every block this pipeline materialized: the
        localCheckpointed sketch, exact-group, tier-1 survivor and pair
        blocks, and verify's sketch-lookup broadcasts."""
        self.held.release()


def _persistent_rdd_ids(spark: SparkSession) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


class _Held:
    """What a run pins, from ``_Held(spark)`` at its start to
    ``since()`` at its end: the RDDs it localCheckpointed (the new ids
    in the JVM persistent-RDD registry, the only handle Spark exposes
    for checkpointed blocks) and the sketch lookups verify broadcast on
    this thread meanwhile. ``release()`` frees both."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._rdds0 = _persistent_rdd_ids(spark)
        self.rdd_ids: list = []
        self.span = _verify._LookupSpan()

    def since(self) -> "_Held":
        self.rdd_ids = sorted(_persistent_rdd_ids(self.spark) - self._rdds0)
        self.span.close()
        return self

    def release(self) -> None:
        jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
        for rid in self.rdd_ids:
            rdd = jmap.get(rid)
            if rdd is not None:
                rdd.unpersist()
        self.span.destroy()


def exact_collapse(sketches: DataFrame) -> DataFrame:
    """(doc_id, rep_id): rep = min doc_id among docs with IDENTICAL sketch.

    Grouping key is the 128-bit sketch fingerprint (fp1, fp2) computed in
    the sketch UDF — exact duplicates and exact sketch-collisions collapse
    to one representative before LSH, removing mirrored/templated
    mega-buckets (skew source #1). Only (doc_id, fp1, fp2) crosses the
    shuffle (24 B/doc), not the 8 KB sketch array; 128 bits keeps the
    whole-corpus collision expectation ~1e-15 at 10^12 docs (64 bits would
    NOT: ~3e4 expected collisions).

    Empty sketches (docs shorter than k) are NOT collapsed together — an
    empty sketch carries no similarity evidence; such docs stay singletons.

    Shape: groupBy(min) + equi-join back, NOT a window. The groupBy does
    partial (map-side) aggregation — a page mirrored 10^7 times
    pre-reduces to one row per input partition before the exchange —
    and the join back is AQE-skew-splittable. A window over
    partitionBy(fp) would sort and would funnel each mega-group into a
    single unsplittable task (the exact straggler this stage exists to
    remove).
    """
    nonempty = sketches.filter(F.length("sketch") > 0).select("doc_id", "fp1", "fp2")
    reps = nonempty.groupBy("fp1", "fp2").agg(F.min("doc_id").alias("rep_id"))
    members = nonempty.join(reps, ["fp1", "fp2"]).select("doc_id", "rep_id")
    empty = (
        sketches.filter(F.length("sketch") == 0)
        .select("doc_id", F.col("doc_id").alias("rep_id"))
    )
    return members.unionByName(empty)


def dedup_pipeline(docs: DataFrame, config: PipelineConfig | None = None,
                   id_col: str = "doc_id", text_col: str = "text") -> DedupResult:
    config = config or PipelineConfig()
    sp = config.sketch
    spark = docs.sparkSession
    # open the run's span: every localCheckpoint created during this run
    # (sketches, exact groups, verify tier-1 survivors, pairs) and every
    # sketch lookup verify broadcasts is new-in-span and gets released by
    # DedupResult.release() — a plain unpersist() on the returned
    # DataFrames would silently skip all of them.
    held = _Held(spark)

    # small-input parallelism guard: a tiny parquet fixture arrives as ONE
    # split, which would serialize the (CPU-heavy, map-only) sketch stage
    # onto one core. At production scale input splits >> shuffle
    # partitions and this never triggers — no shuffle is added there.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if docs.rdd.getNumPartitions() < n_parts:
        docs = docs.repartition(n_parts)

    sketches = sketch_documents(docs, sp, config.lsh, id_col=id_col, text_col=text_col)
    # Materialize the sketch stage via localCheckpoint, NOT .persist():
    # DataFrame persist routes 8 KB binary rows through the columnar
    # in-memory builder, whose grow-by-doubling HeapByteBuffers generate
    # so much young-gen garbage that GC starves the python sketch workers
    # (measured: identical sketch+LSH job 145 s persisted vs 51 s
    # checkpointed at 70k docs, 8 cores; jstack showed every task inside
    # ColumnBuilder.ensureFreeSpace with 31 s of GC in 3 min).
    # localCheckpoint stores the task's UnsafeRow blocks as-is — no
    # columnar conversion — and truncates lineage so downstream joins
    # can't re-trigger the UDF. An explicit repartition(doc_id) sounds
    # right for downstream join reuse, but AQE re-plans joins against the
    # materialized relation and re-shuffles the fat side anyway (verified
    # via event log). On a real cluster the sketches table is written
    # bucketed by doc_id (Iceberg) and the joins read it shuffle-free;
    # localCheckpoint's lost-executor caveat doesn't apply to that path.
    # eager=True: sketches fans out to exact_collapse AND the reps
    # semi-join; with a lazy checkpoint AQE submits those consumers'
    # exchange-materialization jobs concurrently and their tasks race to
    # compute the same checkpoint — the loser blocks on the RDD
    # checkpoint lock (measured: 17 s zero-CPU task stall in a 40 s
    # 8-core run) and overlapping partitions compute the sketch UDF
    # twice. One ordered materialization is strictly cheaper.
    sketches = sketches.localCheckpoint(eager=True)
    return _cluster_sketches(spark, sketches, config, held)


def dedup_from_sketches(sketches: DataFrame,
                        config: PipelineConfig | None = None) -> DedupResult:
    """Clustering stages (exact collapse -> LSH -> verify -> CC) over a
    PRE-BUILT sketch table — the resume path: a committed sketch
    snapshot (``runs.dedup_snapshot_run``, ``io.read_sketches``) feeds
    clustering without re-running the sketch UDF. Param compatibility
    (F6) is enforced against the table's embedded params when present."""
    config = config or PipelineConfig()
    emb = params_from_schema(sketches)
    if emb is not None:
        config.sketch.check_compatible(emb)
    spark = sketches.sparkSession
    held = _Held(spark)
    # same materialization rationale as dedup_pipeline: multi-consumer
    # fan-out (exact collapse + reps semi-join) over fat binary rows
    sketches = sketches.localCheckpoint(eager=True)
    return _cluster_sketches(spark, sketches, config, held)


def _cluster_sketches(spark: SparkSession, sketches: DataFrame,
                      config: PipelineConfig, held: _Held) -> DedupResult:
    sp = config.sketch
    # exact_groups is consumed by reps, member edges, cluster assignment
    # and user inspection. localCheckpoint, NOT persist(): plans that read
    # a columnar-cached relation do not share exchanges, so each consumer
    # of reps (LSH, both verify attach sides) would re-run the rep-id
    # semi-join and everything below it, exchanging and broadcasting the
    # same rep-sketch side once per consumer. eager for the same
    # multi-consumer checkpoint-race reason as the sketches.
    exact_groups = exact_collapse(sketches).localCheckpoint(eager=True)
    rep_ids = exact_groups.filter(F.col("doc_id") == F.col("rep_id")).select("doc_id")
    # reps is NOT persisted: it is a cheap semi-join re-read of the
    # checkpointed sketch blocks (a second fat materialization costs more
    # than the re-scan; measured via event log)
    reps = sketches.join(rep_ids, "doc_id", "left_semi")

    cand, lsh_metrics = _lsh.candidate_pairs(
        reps,
        band_doc_cap=config.lsh.band_doc_cap,
        hard_bucket_cap=config.lsh.hard_bucket_cap,
    )
    pairs = _verify.verify_pairs(
        cand,
        reps,
        sp,
        jaccard_threshold=config.jaccard_threshold,
        max_distance=config.max_distance,
        max_pvalue=config.max_pvalue,
        prefix_filter=config.lsh.prefix,
    )

    # materialize verified pairs once: CC, edge derivation and user
    # inspection all reuse them (verification is the expensive join);
    # eager for the same multi-consumer checkpoint-race reason as
    # sketches above (CC's first two star rounds launch concurrently)
    pairs = pairs.localCheckpoint(eager=True)

    # duplicate edges: verified rep-rep edges + member->rep edges of
    # exact-dup groups (exact dups are duplicates by definition: j = 1).
    rep_edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    member_edges = (
        exact_groups.filter(F.col("doc_id") != F.col("rep_id"))
        .select(F.col("doc_id").alias("src"), F.col("rep_id").alias("dst"))
    )
    edges = rep_edges.unionByName(member_edges)

    comp = _cc.connected_components(
        edges,
        max_iterations=config.cc_max_iterations,
        driver_threshold=config.cc_driver_threshold,
    )
    # all_ids from the SKINNY checkpointed exact_groups map, not the fat
    # sketch checkpoint: exact_collapse emits exactly one row per input
    # doc (nonempty members + empty-sketch self-reps), so the id sets are
    # identical — and clusters is consumed by several bench/user actions,
    # each of which would otherwise re-deserialize the 8 KB-row checkpoint
    # blocks just to project doc_id (round-6: two extra fat scans per run)
    all_ids = exact_groups.select("doc_id")
    clusters = (
        all_ids.join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
    )

    return DedupResult(
        sketches=sketches,
        exact_groups=exact_groups,
        pairs=pairs,
        edges=edges,
        clusters=clusters,
        lsh_metrics=lsh_metrics,
        held=held.since(),
    )


@dataclass
class CrossDedupResult:
    decisions: DataFrame  # doc_id, is_dup, dup_of, jaccard (every new doc)
    metrics: DataFrame    # one row: candidate/drop accounting
    held: _Held

    def release(self) -> None:
        """Free the run's checkpoints and verify's sketch lookups; the
        decisions are lazy, so read them first."""
        self.held.release()


def dedup_against(new_docs: DataFrame, ref_docs: DataFrame,
                  config: PipelineConfig | None = None,
                  id_col: str = "doc_id", text_col: str = "text",
                  ref_sketches: DataFrame | None = None) -> CrossDedupResult:
    """Batch cross-corpus dedup: flag every ``new_docs`` row that
    near-dups ANY ``ref_docs`` row (the new-crawl-vs-existing-corpus
    stage; ``streaming.IncrementalDeduper`` runs the same cross band join
    and two-table verify per micro-batch against its history store).

    Candidates come from ``lsh.cross_candidate_pairs`` (new bands x ref
    bands on band_key), so no within-corpus pair is ever generated, and
    ``verify_pairs`` checks them against the two sketch tables in place
    (``id_a`` from the slice, ``id_b`` from the reference). Pass
    ``ref_sketches`` (e.g. from io.read_sketches) to read a committed
    sketch table instead of re-sketching ``ref_docs``; param
    compatibility is enforced (F6) before any comparison.

    Cost model: per-run shuffle and materialization follow the slice,
    not the reference. A committed reference table is read in place
    (only the slice and a freshly sketched reference are checkpointed).
    When the slice's band entries fit a broadcast, the reference's band
    entries are joined to the slice's per-key counts map-side, and the
    band join's exact size comes out of that join as one global sum;
    while it is within ``hard_bucket_cap`` no reference bucket is sized
    at all, so the band stage shuffles one partial sum per partition.
    When both sketch tables fit under the broadcast cap, verify counts
    them in one aggregate and reads each one once, collecting it into a
    lookup broadcast (``release()`` destroys those).

    Skew discipline: band keys whose candidate PRODUCT (new entries x
    ref entries) exceeds ``config.lsh.hard_bucket_cap`` are dropped,
    with per-side entry counts logged in ``metrics``.
    """
    config = config or PipelineConfig()
    sp = config.sketch
    spark = new_docs.sparkSession
    held = _Held(spark)

    # the slice's sketches feed the key probe, the band join and verify;
    # eager for the multi-consumer checkpoint-race reason of dedup_pipeline.
    # NOTE sketch_documents always emits the id as ``doc_id``.
    sk_new = sketch_documents(new_docs, sp, config.lsh, id_col=id_col,
                              text_col=text_col).localCheckpoint(eager=True)
    if ref_sketches is None:
        sk_ref = sketch_documents(ref_docs, sp, config.lsh, id_col=id_col,
                                  text_col=text_col).localCheckpoint(eager=True)
    else:
        emb = params_from_schema(ref_sketches)
        if emb is not None:
            sp.check_compatible(emb)
        sk_ref = ref_sketches

    cand, metrics = _lsh.cross_candidate_pairs(
        _lsh.explode_bands(sk_new).select(
            "band_key", F.col("doc_id").alias("id_a")),
        _lsh.explode_bands(sk_ref).select(
            "band_key", F.col("doc_id").alias("id_b")),
        config.lsh.hard_bucket_cap,
    )

    matched = _verify.verify_pairs(
        cand, sk_new, sp,
        jaccard_threshold=config.jaccard_threshold,
        max_distance=config.max_distance,
        max_pvalue=config.max_pvalue,
        prefix_filter=config.lsh.prefix,
        sketches_b=sk_ref,
    )
    # best ref match per new doc: highest jaccard, lowest ref id on ties
    # (bitwise_not reverses order totally — no ANSI overflow at Long.MIN,
    # unlike unary minus — and is self-inverse, so the id rides the
    # struct out)
    best = (
        matched.groupBy("id_a")
        .agg(F.max(F.struct(
            F.col("jaccard").alias("j"),
            F.bitwise_not(F.col("id_b")).alias("nref"))).alias("_m"))
        .select(
            F.col("id_a").alias(id_col),
            F.col("_m.j").alias("jaccard"),
            F.bitwise_not(F.col("_m.nref")).alias("dup_of"),
        )
    )
    decisions = (
        new_docs.select(id_col)
        .join(best, id_col, "left")
        .select(
            id_col,
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
            "jaccard",
        )
    )
    return CrossDedupResult(
        decisions=decisions,
        metrics=metrics,
        held=held.since(),
    )


def dedup_tiers(docs: DataFrame, clusters: DataFrame | None = None,
                config: PipelineConfig | None = None,
                id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Tiered dedup report: label every doc with the STRICTEST tier at
    which it duplicates another doc, plus its group representative —
    the per-corpus summary a curation run reads before deciding how
    aggressively to collapse.

    Tiers, strictest first (a doc gets the first that applies):

    - ``exact``      byte-identical text (md5 groups; null == '' by
                     coalesce, documented rather than silently assumed)
    - ``canonical``  identical after `normalize.canonical_text` (case/
                     punctuation/digit-masking invariant)
    - ``near``       same verified LSH cluster (Mash-exact Jaccard >=
                     the config threshold, `dedup_pipeline` semantics)
    - ``unique``     none of the above

    Output: (id, tier, rep_id, is_rep) for every input doc; reps of
    multi-doc groups carry their group's tier with ``is_rep = true``
    (so "docs removable at tier <= T" = rows with tier <= T and NOT
    is_rep).

    Scale shape: the exact and canonical passes are the same 16 B
    fingerprint groupBy+join-back as their standalone operators; the
    near tier reuses ``clusters`` when the caller already ran the
    pipeline (the common case — pass ``DedupResult.clusters``),
    otherwise runs ``dedup_pipeline`` once. The tier resolution itself
    is three LEFT equi-joins on doc_id and one CASE — no new shuffle
    shapes.
    """
    from mashspark.normalize import canonical_dup_groups

    base = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)
                       .alias("text"))

    def multi_groups(members: DataFrame) -> DataFrame:
        sizes = members.groupBy("rep_id").agg(F.count("*").alias("_n"))
        return (members.join(sizes.filter(F.col("_n") > 1), "rep_id")
                .select("doc_id", "rep_id"))

    e_members = (
        base.select("doc_id",
                    F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("_fp"))
        .join(
            base.select(F.md5(F.coalesce(F.col("text"), F.lit("")))
                        .alias("_fp"), F.col("doc_id").alias("rep_id"))
            .groupBy("_fp").agg(F.min("rep_id").alias("rep_id")),
            "_fp")
        .select("doc_id", "rep_id")
    )
    exact = multi_groups(e_members).withColumnRenamed("rep_id", "_e_rep")
    canon = multi_groups(canonical_dup_groups(base)) \
        .withColumnRenamed("rep_id", "_c_rep")
    if clusters is None:
        # materialize the skinny (16 B/row) cluster relation, then
        # release the pipeline's fat checkpointed blocks (8 KB/doc
        # sketches + pairs) immediately — discarding the DedupResult
        # without release() pinned them for the session lifetime
        res = dedup_pipeline(base, config)
        clusters = res.clusters.localCheckpoint(eager=True)
        res.release()
    near = multi_groups(
        clusters.select("doc_id", F.col("cluster_id").alias("rep_id"))
    ).withColumnRenamed("rep_id", "_n_rep")

    out = (
        base.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(canon, "doc_id", "left")
        .join(near, "doc_id", "left")
    )
    tier = (
        F.when(F.col("_e_rep").isNotNull(), F.lit("exact"))
        .when(F.col("_c_rep").isNotNull(), F.lit("canonical"))
        .when(F.col("_n_rep").isNotNull(), F.lit("near"))
        .otherwise(F.lit("unique"))
    )
    rep = F.coalesce("_e_rep", "_c_rep", "_n_rep", "doc_id")
    return out.select(
        "doc_id", tier.alias("tier"), rep.alias("rep_id"),
        (rep == F.col("doc_id")).alias("is_rep"),
    ).withColumnRenamed("doc_id", id_col)


def select_representatives(clusters: DataFrame, scores: DataFrame,
                           id_col: str = "doc_id",
                           cluster_col: str = "cluster_id",
                           score_col: str = "score") -> DataFrame:
    """Quality-aware cluster collapse: keep the HIGHEST-scoring member
    of every duplicate cluster (ties -> lowest id) instead of the
    min-id default — the curation policy that keeps the cleanest copy
    of each near-dup family (e.g. score = quality_prob from
    classify.score_quality, or -n_redactions, or n_chars).

    One join + one groupBy(cluster) with map-side partial aggregation
    (max of a (score, -id) struct — argmax without a window, so no
    per-cluster sort and no WindowExec funnel on mega-clusters).
    Returns (cluster_id, rep_id, rep_score).
    """
    # LEFT join: a cluster whose members all lack score rows (partial
    # score tables — sampled classifiers, failed scoring) must not
    # vanish from the output (that would delete every copy of the
    # family downstream); unscored members rank below any scored one
    # (score -> -inf in the argmax) and an all-unscored cluster falls
    # back to the min-id rep with a NULL rep_score. bitwise_not, not
    # unary minus, for the id tie-break: ~id reverses order totally
    # (no ANSI overflow at Long.MIN, unlike -id).
    joined = clusters.join(scores.select(id_col, score_col), id_col, "left")
    neg_inf = F.lit(float("-inf"))
    return (
        joined.groupBy(cluster_col)
        .agg(F.max(F.struct(
            F.coalesce(F.col(score_col), neg_inf).alias("s"),
            F.bitwise_not(F.col(id_col)).alias("nid"))).alias("_m"))
        .select(
            cluster_col,
            F.bitwise_not(F.col("_m.nid")).cast("long").alias("rep_id"),
            F.when(F.col("_m.s") == neg_inf, F.lit(None).cast("double"))
            .otherwise(F.col("_m.s")).alias("rep_score"),
        )
    )
