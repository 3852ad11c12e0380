"""LSH candidate generation: band explode, bucket self-join, skew handling.

Replaces the reference's all-pairs enumerator (``CommandDistance.cpp:195-237``
blocks of <=4096 pairs per thread) with a banded join so only plausible
pairs reach the Mash-exact verify pass. Band keys are computed in the
sketch UDF (``sketch.compute_band_keys``).

Skew strategy (north rule: explicit salting/repartitioning for
boilerplate-heavy hot buckets):

1. **Exact-duplicate pre-collapse** happens upstream (``pipeline.py``):
   docs with identical sketches never reach the band join, which removes
   the dominant web-scale skew source (mirrored/templated pages).
2. **One band exchange.** The (band_key, doc_id) entries are shuffled
   once, by band_key; a window over that partitioning counts each bucket
   and finds its minimum doc_id, so bucket sizes cost no second shuffle
   and no hot-key broadcast. Web band keys are almost all singletons, so
   a map-side-combined size exchange would write about one row per entry.
3. Buckets with <= band_doc_cap docs: plain self-join, co-partitioned on
   that exchange. Buckets with band_doc_cap < n <= hard_bucket_cap:
   **star candidates**, each member paired with the bucket's min doc_id
   only (linear, not O(n^2); see the comments in ``candidate_pairs`` for
   why this preserves both cluster connectivity and pair recall). Both
   come out of the one self-join: its left side keeps only the hub entry
   of a hot bucket.
4. Buckets with n > hard_bucket_cap: dropped whatever band_doc_cap is,
   with the drop count and the band entries affected returned as metrics
   (no silent caps); docs in such buckets still pair through their
   other, colder bands. A hot or dropped bucket still crosses the
   exchange whole and lands in one task, where it is counted and then
   starred or dropped: linear work, never the quadratic self-join.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import verify as _verify


def explode_bands(sketches: DataFrame) -> DataFrame:
    """(doc_id, band_key[]) -> (doc_id, band_key). The residue class is
    already folded into each key, so one int64 is the full bucket id."""
    return sketches.select("doc_id", F.explode("band_key").alias("band_key"))


def lsh_recall(jaccard: float, prefix: int, bands: int) -> float:
    """Closed-form candidate recall of residue-class banding at a given
    true Jaccard: a band matches iff the two docs' sketch members in that
    residue class are identical, which at union-sketch overlap
    f = 2j/(1+j) happens with probability ~ f**(u/bands) for u = prefix
    (each band holds u/bands union elements in expectation); the pair is
    a candidate if ANY band matches. See ``params.LSHParams`` for why
    residue-class banding (not positional bands / extra permutations)."""
    if jaccard <= 0.0:
        return 0.0
    if jaccard >= 1.0:
        return 1.0
    f = 2.0 * jaccard / (1.0 + jaccard)
    per_band = f ** (prefix / bands)
    return 1.0 - (1.0 - per_band) ** bands


def tune_lsh_params(threshold: float, s: int = 1000,
                    target_recall: float = 0.999,
                    background_jaccard: float = 0.1):
    """Solve for the cheapest (prefix, bands) meeting ``target_recall``
    at the dedup threshold — the knob a 100 TB operator actually turns.

    Cost model: the LSH stage's shuffle volume is ``bands`` exploded
    rows/doc and its false-candidate volume is driven by the recall the
    scheme leaks at sub-threshold similarity, so among configs meeting
    the target at ``threshold`` we pick the minimum ``bands``, breaking
    ties toward the LARGER prefix (more union elements per band = sharper
    per-band rejection of background pairs). Search space: power-of-two
    prefixes <= s and power-of-two band counts <= prefix (the residue
    mask ``h & (bands-1)`` requires a power of two).

    Returns (params.LSHParams, diagnostics dict with the predicted recall
    at the threshold and at ``background_jaccard``).
    """
    from .params import LSHParams

    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    best = None
    prefixes = [p for p in (32, 64, 128, 256, 512, 1024, 2048, 4096) if p <= s]
    if not prefixes:
        raise ValueError(f"sketch size {s} too small to band")
    for prefix in prefixes:
        for bands in (8, 16, 32, 64, 128, 256):
            if bands > prefix:
                continue
            r = lsh_recall(threshold, prefix, bands)
            if r < target_recall:
                continue
            leak = lsh_recall(background_jaccard, prefix, bands)
            key = (bands, -prefix, leak)
            if best is None or key < best[0]:
                best = (key, prefix, bands, r, leak)
    if best is None:
        raise ValueError(
            f"no (prefix<={s}, bands<=256) config reaches recall "
            f"{target_recall} at jaccard {threshold}; lower the target or "
            f"increase the sketch size")
    _, prefix, bands, recall, leak = best
    return (
        LSHParams(bands=bands, prefix=prefix),
        {"predicted_recall": recall,
         "background_leak": leak,
         "exploded_rows_per_doc": bands},
    )


def candidate_pairs(sketches: DataFrame, band_doc_cap: int = 1000,
                    hard_bucket_cap: int = 100_000, eager: bool = False,
                    checkpoint: bool = True):
    """Distinct candidate (id_a, id_b) pairs, id_a < id_b, plus skew metrics.

    Returns (pairs_df, metrics_df). metrics_df is one row over the
    buckets of two or more band entries, each figure 0 (never NULL) on a
    corpus without such buckets:

    * ``n_buckets``: those buckets;
    * ``n_hot_buckets``: the ones above ``band_doc_cap`` (starred, or
      dropped when also above ``hard_bucket_cap``);
    * ``n_dropped_buckets``: the ones above ``hard_bucket_cap``, which
      yield no pair whatever ``band_doc_cap`` is;
    * ``n_dropped_docs``: the band ENTRIES of the dropped buckets (a doc
      in k dropped buckets counts k), an upper bound on affected docs.

    Every bucket of at most ``min(band_doc_cap, hard_bucket_cap)``
    entries is self-joined; every bucket of ``band_doc_cap < n <=
    hard_bucket_cap`` pairs each member with its minimum doc_id only.

    One exchange: the band relation is shuffled once, by ``band_key``. A
    window on that partitioning counts each bucket and finds its minimum
    doc_id; the self-join's two sides and the metrics read the window
    output co-partitioned, with no further exchange. The join's left side
    keeps every entry of a cold bucket but only the hub entry of a hot
    one, so one ``id_a < id_b`` join yields the cold all-pairs and the
    hot star pairs alike, linear in a hot bucket's size.

    The trade-off, against the earlier map-side-combined size exchange
    plus broadcast hot-key anti/semi-joins: a hot or over-cap bucket
    crosses the exchange whole and lands in one task, where the window
    counts it (spilling past its in-memory buffer) before it is starred
    or dropped. That work is linear in the bucket, never quadratic: the
    all-pairs join only sees buckets of at most ``band_doc_cap``. And
    AQE's skew-join rule no longer splits the self-join, since the
    window sits between it and the exchange. In exchange, the size
    shuffle is gone: web band keys are almost all singletons, so it
    wrote about one row per entry, and at any scale where singleton keys
    dominate one exchange of the entries writes less in total.

    ``eager``/``checkpoint`` are RETAINED FOR API COMPATIBILITY but are
    no-ops since round 6, and a non-default value warns
    ``DeprecationWarning``. Earlier rounds eagerly localCheckpointed the
    band relation and the bucket-size table to stop concurrent AQE
    exchange-materialization jobs racing on a lazy checkpoint's lock (a
    measured 17 s zero-CPU stall). Nothing here is checkpointed now, so
    there is no lock to race on: every consumer of the band relation sits
    in the one downstream plan that reads its single exchange. Callers
    that collect ``metrics`` re-run the explode, the exchange and the
    window in their own job.
    """
    if eager or not checkpoint:
        warnings.warn(
            "candidate_pairs: 'eager' and 'checkpoint' have no effect "
            "and will be removed; stop passing them",
            DeprecationWarning, stacklevel=2)
    bucket = Window.partitionBy("band_key")
    n = F.col("bucket_n")
    bands = explode_bands(sketches).select(
        "band_key", "doc_id",
        F.count("*").over(bucket).alias("bucket_n"),
        F.min("doc_id").over(bucket).alias("hub"),
    )

    # coalesce every sum: bare F.sum over no multi-entry bucket is NULL
    def n_where(cond, value=F.lit(1)):
        return F.coalesce(F.sum(F.when(cond, value).otherwise(0)),
                          F.lit(0)).cast("long")

    metrics = (
        bands.filter(n > 1)
        .groupBy("band_key").agg(F.max("bucket_n").alias("bucket_n"))
        .agg(
            F.count("*").alias("n_buckets"),
            n_where(n > band_doc_cap).alias("n_hot_buckets"),
            n_where(n > hard_bucket_cap).alias("n_dropped_buckets"),
            n_where(n > hard_bucket_cap, n).alias("n_dropped_docs"),
        )
    )

    # SHUFFLE_HASH hint: both sides are the O(corpus) band relation, so a
    # broadcast is never the right plan, but at bench scale it slips
    # under autoBroadcastJoinThreshold and AQE would pick
    # BroadcastHashJoin, whose HashedRelation build is SERIAL DRIVER time
    # (measured: a 4.5 s zero-task gap at 224k docs). The hinted left
    # side is the build side: for a hot bucket, its one hub row.
    kept = bands.filter((n > 1) & (n <= hard_bucket_cap))
    left = kept.filter(
        (n <= band_doc_cap) | (F.col("doc_id") == F.col("hub"))
    ).select("band_key", F.col("doc_id").alias("id_a"))
    right = kept.select("band_key", F.col("doc_id").alias("id_b"))

    # A hot bucket is either (a) boilerplate-dominated, thousands of docs
    # sharing only a template fragment, whose all-pairs is O(n^2) junk
    # that verification would reject anyway, or (b) a genuine near-dup
    # mega-family, where all-pairs is equally infeasible and cluster
    # connectivity only needs a spanning set. Either way the star on the
    # bucket's minimum doc_id is a LINEAR candidate set that (b)-case
    # verification turns into a connected star, while (a)-case pairs die
    # in verification at linear cost. True pairs inside hot buckets also
    # co-occur in their colder content bands, so pair-level recall
    # survives (asserted by the recall gate test).
    pairs = (
        left.hint("shuffle_hash").join(right, "band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return pairs, metrics


def cross_candidate_pairs(bands_a: DataFrame, bands_b: DataFrame,
                          hard_bucket_cap: int):
    """Distinct cross candidate pairs (id_a, id_b) of two band relations
    ``(band_key, id_a)`` x ``(band_key, id_b)`` plus one metrics row
    (n_dropped_buckets, n_dropped_new_entries, n_dropped_ref_entries):
    the band join of ``pipeline.dedup_against`` and of the streaming
    deduper's history check, so no within-side pair is ever generated.

    Band keys whose candidate PRODUCT ``A*B`` exceeds ``hard_bucket_cap``
    are dropped and counted (drops are visible, never silent). Two paths
    find them:

    * **Join size first.** When side a's entries fit a broadcast (16 B
      each, one ``collect_at_most`` probe), the driver counts them per
      key, and one inner join of side b against a broadcast of those
      counts gives the band join's exact size ``sum(A*B)`` as a global
      sum: a partial sum per partition and a one-row exchange, no
      per-key exchange. Every key's product is at most that total, so
      a total within the cap proves that nothing is dropped: the pairs
      come straight from the join, and the metrics row is a literal
      zero.
    * **Exact bucket sizes.** When the total exceeds the cap, side b's
      entries are counted per key (side b is semi-joined to side a's
      keys map-side first), and the hot set is the keys whose product
      exceeds the cap. When side a's keys do not fit a broadcast, both
      sides' bucket sizes are shuffled. A dropped key has entries on
      both sides, so the semi-join leaves the dropped set and the
      metrics unchanged.

    The size path is still needed at scale: once the join is larger
    than the cap, only the per-key sizes tell which buckets to drop, and
    at web scale the slice's keys no longer fit a broadcast.
    """
    def distinct_pairs(a, b):
        return a.join(b, "band_key").select("id_a", "id_b").distinct()

    spark = bands_a.sparkSession
    keys = _verify.collect_at_most(
        bands_a.select("band_key"), _verify._broadcast_threshold(spark) // 16)
    if keys is not None:
        # per-key side-a counts from the collected keys; side b keeps
        # only the entries whose key side a has, filtered map-side
        sz_n = F.broadcast(spark.createDataFrame(
            keys.groupby("band_key").size().reset_index(name="n_new"),
            "band_key long, n_new long"))
        # the band join's size, summed in double for the product
        # compare's ANSI-overflow reason below; the inner join keeps
        # side b's entries under side a's keys, as the semi-join does
        joined = bands_b.join(sz_n, "band_key")
        total = joined.agg(F.sum(F.col("n_new").cast("double"))).first()[0]
        if (total or 0.0) <= int(hard_bucket_cap):
            pairs = distinct_pairs(bands_a, joined.select("band_key", "id_b"))
            # a literal row (an inline table: no Spark job to read it)
            # with the hot-set aggregates' types: never-NULL longs
            return pairs, spark.sql(
                "SELECT * FROM VALUES (0L, 0L, 0L) AS t(n_dropped_buckets, "
                "n_dropped_new_entries, n_dropped_ref_entries)")
        bands_b = bands_b.join(sz_n.select("band_key"), "band_key", "left_semi")
    else:
        sz_n = bands_a.groupBy("band_key").agg(F.count("*").alias("n_new"))
    sz_r = bands_b.groupBy("band_key").agg(F.count("*").alias("n_ref"))
    # cap the per-band candidate PRODUCT, not just each side: a band
    # with 10^5 new x 10^5 ref entries is far under a per-side cap yet
    # join-explodes to 10^10 rows. n_new*n_ref <= hard_bucket_cap
    # bounds every band's candidate volume directly (and subsumes the
    # per-side check, since the inner size-join keeps only bands
    # present on both sides). Compared in double: the long product
    # itself could overflow ANSI arithmetic at web-scale counts.
    hot = (
        sz_n.join(sz_r, "band_key")
        .filter(F.col("n_new").cast("double") * F.col("n_ref")
                > int(hard_bucket_cap))
        .localCheckpoint(eager=True)
    )
    metrics = hot.agg(
        F.count("*").alias("n_dropped_buckets"),
        F.coalesce(F.sum("n_new"), F.lit(0)).alias("n_dropped_new_entries"),
        F.coalesce(F.sum("n_ref"), F.lit(0)).alias("n_dropped_ref_entries"),
    )
    pairs = distinct_pairs(
        bands_a.join(hot.select("band_key"), "band_key", "left_anti"),
        bands_b.join(hot.select("band_key"), "band_key", "left_anti"))
    return pairs, metrics
