"""Mash-exact pair verification: capped-merge Jaccard + distance + p-value
as Spark column operations.

Replaces the reference's all-pairs worker (``CommandDistance.cpp:306-425``)
downstream of LSH candidate generation: the merge/cap/top-up semantics are
kept bit-for-bit (see ``compare.capped_merge``), then distance and the
cheap filters run as JVM column expressions (whole-stage codegen), and the
expensive binomial p-value is only computed for pairs that survive
(reference computes distance filter before p-value too:
``CommandDistance.cpp:409-417``).

The sketches reach the merge by one of two paths, picked from the sketch
tables' exact row counts:

* lookup, when every table's rows x 8·s bytes fits
  ``spark.sql.autoBroadcastJoinThreshold``: each table is collected once
  and broadcast to the Python workers as sorted ids, offsets and one flat
  hash array (``_sketch_lookups``), and one ``mapInArrow`` pass over the
  skinny (id_a, id_b) pairs looks both sketches up and merges them batch
  by batch (``_lookup_pass``), the way ``mash dist`` compares sketches
  already in memory (``CommandDistance.cpp:336-385``). No sketch byte
  crosses a JVM join or a shuffle, and no per-row ``bytes`` is built;
* shuffled, for a table over the cap (or broadcasting disabled): the
  sketches attach to the pairs through shuffled-hash joins
  (``_attach_sketches``) and a pandas UDF merges them.
"""

from __future__ import annotations

import math
import threading
import weakref

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                               StructField, StructType)

from .compare import capped_merge_sorted_batch, pvalue_dist
from .hashing import signed_sketch_bytes
from .params import SketchParams, params_from_schema

_MERGE_FIELDS = StructType(
    [StructField("common", IntegerType(), False), StructField("denom", IntegerType(), False)]
)


def make_verify_udf(sketch_size: int):
    """(sketch_a, sketch_b) -> struct(common, denom).

    sketch columns are binary blobs of sign-flip-encoded little-endian
    int64s (ascending unsigned); np.frombuffer gives a zero-copy view.
    """

    @pandas_udf(_MERGE_FIELDS)
    def verify_udf(a: pd.Series, b: pd.Series) -> pd.DataFrame:
        # sketch_size is min(s_a, s_b) of the PARAMETER s
        # (CommandDistance.cpp:313-315); both sides share one config here
        # (enforced by SketchParams.check_compatible). Short docs
        # (len < s) exhaust the merge early and top up, as in the
        # reference. One vectorized 2-D merge over the whole Arrow batch
        # (signed-encoded views are zero-copy and order-preserving).
        arrs_a = [signed_sketch_bytes(buf) for buf in a]
        arrs_b = [signed_sketch_bytes(buf) for buf in b]
        common, denom = capped_merge_sorted_batch(arrs_a, arrs_b, sketch_size)
        return pd.DataFrame({"common": common, "denom": denom})

    # The merge IS deterministic; the flag only forbids Catalyst from
    # duplicating the call. Without it, a downstream filter on a derived
    # column (jaccard >= t) is planned as Filter BETWEEN two ArrowEval
    # copies of the same UDF — every pair was merged twice (measured:
    # two ArrowEvalPython nodes over identical inputs in the verify plan,
    # doubling the dominant python cost of the q3 pipeline).
    return verify_udf.asNondeterministic()


_CONTAIN_FIELDS = StructType(
    [StructField("common", IntegerType(), False),
     StructField("used", IntegerType(), False)]
)


def _contain_counts(refs: list, qrys: list):
    """(common, used) int32 arrays of ``containSketches``
    (CommandContain.cpp:231-263) over signed-encoded sketch views, one
    batch at a time. Per contain_sketches: used = min(min(|ref|,|query|),
    |{q : q <= max(ref)}|) (the views are order-preserving) and common =
    the shared count over ref vs query[:used], which is exactly the
    batch merge with an uncapped sketch size."""
    n = len(refs)
    used = np.zeros(n, dtype=np.int32)
    trimmed = []
    for i in range(n):
        r, q = refs[i], qrys[i]
        if len(r) == 0 or len(q) == 0:
            trimmed.append(q[:0])
            continue
        u = min(min(len(r), len(q)),
                int(np.searchsorted(q, r[-1], side="right")))
        used[i] = u
        trimmed.append(q[:u])
    common, _denom = capped_merge_sorted_batch(refs, trimmed, 1 << 30)
    return common, used


def make_contain_udf():
    """(sketch_ref, sketch_query) -> struct(common, used), the shuffled
    path's form of ``_contain_counts``."""

    @pandas_udf(_CONTAIN_FIELDS)
    def contain_udf(a: pd.Series, b: pd.Series) -> pd.DataFrame:
        common, used = _contain_counts([signed_sketch_bytes(buf) for buf in a],
                                       [signed_sketch_bytes(buf) for buf in b])
        return pd.DataFrame({"common": common, "used": used})

    # single-eval guard: see make_verify_udf
    return contain_udf.asNondeterministic()


def contain_pairs(cands: DataFrame, sketches: DataFrame,
                  params: SketchParams,
                  sketches_b: DataFrame | None = None) -> DataFrame:
    """Containment mode (J6): for each candidate pair, the containment
    score of the id_b sketch (query) in the id_a sketch (ref) — the
    "page contains boilerplate template" op. Columns:
    (id_a, id_b, common, used, containment, error) with
    containment = common/used (0 when used = 0) and error = 1/sqrt(used)
    (``CommandContain.cpp:258-262``).

    ``id_a`` takes its sketch from ``sketches`` and ``id_b`` from
    ``sketches_b`` (default: ``sketches``) by the same lookup or
    shuffled path as ``verify_pairs``, so a reference and a query table
    whose ids overlap are compared in place, never unioned."""
    sk_a, sk_b = _sketch_tables(sketches, sketches_b, params)
    looks = _sketch_lookups(sk_a, sk_b, params.s)
    if looks is not None:
        df = _lookup_pass(cands, looks, _contain_score,
                          _CONTAIN_FIELDS.fields)
    else:
        cu = make_contain_udf()
        df = _attach_sketches(cands, sk_a, sk_b).withColumn(
            "_c", cu(F.col("sketch_a"), F.col("sketch_b"))).select(
            "id_a", "id_b",
            F.col("_c.common").alias("common"),
            F.col("_c.used").alias("used"))
    return df.select(
        "id_a", "id_b", "common", "used",
        F.when(F.col("used") > 0, F.col("common") / F.col("used"))
        .otherwise(F.lit(0.0)).alias("containment"),
        F.when(F.col("used") > 0, 1.0 / F.sqrt(F.col("used")))
        .otherwise(F.lit(1.0)).alias("error"),
    )


def make_pvalue_udf(kmer_space: float, sketch_size: int):
    """Binomial-tail p-value (``compare.pvalue_dist``) as a pandas UDF
    over (common, len_a, len_b); lengths are the distinct-shingle estimates
    (reads-mode semantics, ``Sketch.cpp:1272-1282``), clamped to >= 1."""

    @pandas_udf(DoubleType())
    def pvalue_udf(common: pd.Series, len_a: pd.Series, len_b: pd.Series) -> pd.Series:
        return pd.Series(pvalue_dist(
            common.to_numpy(dtype=np.int64),
            np.maximum(len_a.to_numpy(dtype=np.float64), 1.0),
            np.maximum(len_b.to_numpy(dtype=np.float64), 1.0),
            kmer_space, sketch_size))

    # single-eval guard (a max_pvalue filter would otherwise re-run the
    # tail computation): see make_verify_udf
    return pvalue_udf.asNondeterministic()


def _broadcast_threshold(spark) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes, as Spark parsed
    it. The key accepts byte strings ("10MB"), which ``conf.get`` hands
    back verbatim, so ``int(conf.get(...))`` raises on a valid setting;
    SQLConf's accessor returns the parsed number (<= 0 disables
    broadcasting)."""
    return int(spark._jsparkSession.sessionState().conf()
               .autoBroadcastJoinThreshold())


def collect_at_most(df: DataFrame, cap: int):
    """``df``'s rows as a pandas frame if there are at most ``cap`` > 0,
    else None: one collect of at most ``cap + 1`` rows (the limit(n+1)
    probe of ``cc.connected_components``), so an exact size, not an
    estimate, picks the plan."""
    if cap <= 0:
        return None
    head = df.limit(cap + 1).toPandas()
    return head if len(head) <= cap else None


def _sketch_tables(sketches: DataFrame, sketches_b: DataFrame | None,
                   params: SketchParams) -> tuple[DataFrame, DataFrame]:
    """The (doc_id, sketch, card_est) projections that ``id_a`` and
    ``id_b`` take their sketches from: ``sketches`` and ``sketches_b``
    (default: ``sketches``, returned as the same object), so two corpora
    whose id spaces overlap are compared in place: no id remap, no union.
    Both tables must match ``params`` (F6, Sketch.cpp:133-160)."""
    if sketches_b is None:
        sketches_b = sketches
    for t in (sketches, sketches_b):
        embedded = params_from_schema(t)
        if embedded is not None:  # refuse mismatched tables (F6, Sketch.cpp:133-160)
            params.check_compatible(embedded)
    sk_a = sketches.select("doc_id", "sketch", "card_est")
    if sketches_b is sketches:
        return sk_a, sk_a
    return sk_a, sketches_b.select("doc_id", "sketch", "card_est")


# Lookup broadcasts outlive verify_pairs (its output is lazy). Each one
# is handed to every open ``_LookupSpan`` of the thread that made it (a
# run's span, whose owner destroys what it collected), and nothing else
# here keeps it: a lookup no span owns is reclaimed with its plan by
# Spark's ContextCleaner, like a JVM broadcast join's table.
_spans = threading.local()


def _open_spans() -> weakref.WeakSet:
    if not hasattr(_spans, "open"):
        _spans.open = weakref.WeakSet()
    return _spans.open


class _LookupSpan:
    """The lookup broadcasts verify makes on this thread between this
    span's creation and ``close()``; ``destroy()`` frees them on the
    driver and the executors."""

    def __init__(self):
        self.lookups: list = []
        _open_spans().add(self)

    def close(self) -> "_LookupSpan":
        _open_spans().discard(self)
        return self

    def destroy(self) -> None:
        for bc in self.lookups:
            if bc._jbroadcast.isValid():  # an enclosing span may own it too
                bc.destroy()


def _sketch_lookups(sk_a: DataFrame, sk_b: DataFrame, s: int):
    """The two sketch tables as lookup broadcasts (``_broadcast_lookup``),
    or None when broadcasting is disabled or a table's exact row count x
    8·s bytes (an upper bound on its sketch bytes) exceeds
    ``autoBroadcastJoinThreshold``. A table passed for both sides is
    counted, collected and broadcast once.

    The size comes from ``count()`` (for two tables, one sum over their
    tagged union): its exchange carries one partial count per
    partition. ``collect_at_most``'s limit(n+1) probe would
    instead plan a single-partition exchange of every row it collects.

    The trade-off: the gate and the collect cover the whole table, not
    just the ids that occur in the pairs. A small slice verified against
    a reference near the cap (``pipeline.dedup_against``, or a streaming
    micro-batch against the history buckets it touches) pays for the
    reference's sketch column once per run, up to the cap, where the
    shuffled path moved the candidates' 1 KB prefixes plus the survivors'
    sketches."""
    thr = _broadcast_threshold(sk_a.sparkSession)
    if thr <= 0:
        return None
    if sk_b is sk_a:
        tables, counts = [sk_a], [sk_a.count()]
    else:
        # both counts from one aggregate over the tagged union: one
        # job's partial sums, where two count()s run two
        tagged = sk_a.select(F.lit(1).alias("a"), F.lit(0).alias("b")).union(
            sk_b.select(F.lit(0).alias("a"), F.lit(1).alias("b")))
        row = tagged.agg(F.coalesce(F.sum("a"), F.lit(0)),
                         F.coalesce(F.sum("b"), F.lit(0))).first()
        tables, counts = [sk_a, sk_b], list(row)
    if any(n * 8 * s > thr for n in counts):
        return None
    looks = [_broadcast_lookup(t) for t in tables]
    return looks[0], looks[-1]


def _broadcast_lookup(sk: DataFrame):
    """Collect a (doc_id, sketch, card_est) table once and broadcast it
    to the Python workers as (ids, offsets, hashes, card): ids ascending
    (a repeated id keeps each of its rows), row i's signed-encoded hashes
    at ``hashes[offsets[i]:offsets[i + 1]]`` in one flat int64 array."""
    pdf = sk.toPandas()
    ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    blobs = [pdf["sketch"].iat[i] or b"" for i in order]
    offsets = np.zeros(len(blobs) + 1, dtype=np.int64)
    np.cumsum([len(b) // 8 for b in blobs], out=offsets[1:])
    hashes = np.frombuffer(b"".join(blobs), dtype="<i8")
    card = pdf["card_est"].to_numpy(dtype=np.int64)[order]
    bc = sk.sparkSession.sparkContext.broadcast(
        (ids[order], offsets, hashes, card))
    for span in list(_open_spans()):
        span.lookups.append(bc)
    return bc


def _match(batch: pa.RecordBatch, look_a, look_b):
    """The inner join of a batch of (id_a, id_b) pairs with the two
    lookups, as (pair row, look_a row, look_b row) index arrays: one
    triple per matching pair of sketch rows, as the attach joins emit
    them, so a pair whose id is missing from its table yields none and
    an id repeated in a table yields one per row."""
    def rows(look, col):
        keys = col.to_numpy()
        lo = np.searchsorted(look[0], keys, "left")
        return lo, np.searchsorted(look[0], keys, "right") - lo

    lo_a, n_a = rows(look_a, batch.column(0))
    lo_b, n_b = rows(look_b, batch.column(1))
    k = n_a * n_b
    pair = np.repeat(np.arange(len(k)), k)
    j = np.arange(len(pair)) - np.repeat(np.cumsum(k) - k, k)
    n_b = n_b[pair]
    return pair, lo_a[pair] + j // n_b, lo_b[pair] + j % n_b


def _sketches(look, rows: np.ndarray, m: int | None = None) -> list:
    """Zero-copy views of the given lookup rows' sketches, cut to the
    bottom ``m`` hashes when ``m`` is set."""
    _ids, offsets, hashes, _card = look
    lo = offsets[rows]
    hi = offsets[rows + 1]
    if m is not None:
        hi = np.minimum(lo + m, hi)
    return [hashes[a:b] for a, b in zip(lo.tolist(), hi.tolist())]


def _lookup_pass(cands: DataFrame, looks, score, fields: list) -> DataFrame:
    """(id_a, id_b, *fields) from one ``mapInArrow`` pass over the
    skinny pairs: every batch is matched against the two lookup
    broadcasts (``_match``) and ``score(look_a, look_b, pair, row_a,
    row_b)`` returns the pair rows it keeps and their ``fields``
    columns."""
    bc_a, bc_b = looks

    def gen(batches):
        look_a, look_b = bc_a.value, bc_b.value
        for batch in batches:
            pair, cols = score(look_a, look_b, *_match(batch, look_a, look_b))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0).take(pair), batch.column(1).take(pair)]
                + [pa.array(c) for c in cols],
                names=["id_a", "id_b"] + [f.name for f in fields])

    pairs = cands.select("id_a", "id_b").dropna()
    return pairs.mapInArrow(gen, StructType(pairs.schema.fields + list(fields)))


_VERIFY_FIELDS = [StructField("card_a", LongType(), False),
                  StructField("card_b", LongType(), False),
                  StructField("common", IntegerType(), False),
                  StructField("denom", IntegerType(), False)]


def _verify_score(s: int, prefix: tuple[int, float] | None):
    """The lookup pass's verify: with ``prefix=(m, floor)``, tier 1 keeps
    the pairs whose bottom-m prefix merge gives common / max(denom, 1) >=
    floor, then the full-s merge scores the batch's survivors."""
    def score(look_a, look_b, pair, ra, rb):
        if prefix is not None:
            m, floor = prefix
            c, d = capped_merge_sorted_batch(
                _sketches(look_a, ra, m), _sketches(look_b, rb, m), m)
            keep = c / np.maximum(d, 1) >= floor
            pair, ra, rb = pair[keep], ra[keep], rb[keep]
        common, denom = capped_merge_sorted_batch(
            _sketches(look_a, ra), _sketches(look_b, rb), s)
        return pair, [look_a[3][ra], look_b[3][rb], common, denom]

    return score


def _contain_score(look_a, look_b, pair, ra, rb):
    """The lookup pass's containment: ``_contain_counts`` of every pair."""
    return pair, list(_contain_counts(_sketches(look_a, ra),
                                      _sketches(look_b, rb)))


def _survivor_sketches(cands: DataFrame, *tables: DataFrame) -> list[DataFrame]:
    """Restrict each fat sketch table to the ids of the surviving pairs
    ``cands`` BEFORE the attach joins, so they only move survivors'
    sketches instead of the whole table.

    One ``collect_at_most`` of the distinct survivor ids (``cap`` = the
    broadcast threshold over 8 B per id) serves every table. When they
    fit, each table is semi-joined against a broadcast of them —
    filtered map-side, never exchanged. Otherwise (the web-scale case,
    or broadcasting disabled) the semi-join shuffles both sides, with a
    SHUFFLE_HASH hint building on the skinny id set: without it the
    planner picked a sort-merge semi-join that SORTED the 8 KB-row
    sketch relation once per attach side (round-6 executed-plan
    audit)."""
    surv_ids = (
        cands.select(F.col("id_a").alias("doc_id"))
        .unionByName(cands.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    spark = cands.sparkSession
    head = collect_at_most(surv_ids, _broadcast_threshold(spark) // 8)
    if head is not None:
        ids = F.broadcast(spark.createDataFrame(head, surv_ids.schema))
    else:
        ids = surv_ids.hint("shuffle_hash")
    return [t.join(ids, "doc_id", "left_semi") for t in tables]


def _attach(cands: DataFrame, sk: DataFrame, id_col: str, suffix: str,
            payload_col) -> DataFrame:
    side = sk.select(
        F.col("doc_id").alias(id_col),
        payload_col.alias(f"sketch_{suffix}"),
        F.col("card_est").alias(f"card_{suffix}"),
    )
    # shuffle_hash, build side = the skinny pair relation: without the
    # hint AQE broadcasts the (fat, semi-joined) SKETCH side onto the
    # pair relation, so the downstream Arrow-UDF stage inherits the pair
    # relation's partitioning — which AQE coalesces to ~minPartitionSize
    # because pairs are 16 B/row (measured: the s=1000 merge UDF ran
    # 4-wide on 16 slots, 75 s of the 113 s verify wall; plus the driver
    # serially built 2x ~300 MB broadcasts). The shuffled-hash join lands
    # both sides on the configured shuffle width, the UDF runs at full
    # slot parallelism, and no fat-row sort or driver broadcast happens.
    return cands.hint("shuffle_hash").join(side, id_col)


def _attach_sketches(cands: DataFrame, sk_a: DataFrame, sk_b: DataFrame,
                     prefix: tuple[int, float] | None = None) -> DataFrame:
    """The shuffled path, for sketch tables over the lookup cap: (id_a,
    id_b) pairs -> (id_a, id_b, sketch_a, card_a, sketch_b, card_b),
    ``id_a``'s sketch from ``sk_a`` and ``id_b``'s from ``sk_b`` (see
    ``_sketch_tables``), attached by two shuffled-hash joins.

    ``prefix=(m, floor)`` is verify's tier 1: attach only the bottom-m
    prefix of each sketch, keep the pairs whose prefix Jaccard is >=
    ``floor``, restrict both tables to those survivors' ids
    (``_survivor_sketches``), then attach full sketches to them.
    """
    def attach(pairs: DataFrame, a: DataFrame, b: DataFrame, payload) -> DataFrame:
        pairs = _attach(pairs, a, "id_a", "a", payload)
        return _attach(pairs, b, "id_b", "b", payload)

    if prefix is not None:
        m, floor = prefix
        pvu = make_verify_udf(m)
        pre = F.substring(F.col("sketch"), 1, m * 8)
        tier1 = attach(cands, sk_a, sk_b, pre).withColumn(
            "_p", pvu(F.col("sketch_a"), F.col("sketch_b"))
        ).select(
            "id_a", "id_b",
            (F.col("_p.common") / F.greatest(F.col("_p.denom"), F.lit(1))).alias("_jpre"),
        )
        cands = tier1.filter(F.col("_jpre") >= floor).select("id_a", "id_b")
        # materialize the survivor list ONCE (16 B rows): it is consumed
        # by the tier-2 attach chain AND by the survivor-id set of
        # _survivor_sketches (its size probe, plus both union branches
        # on the shuffled path) — without this, the whole tier-1 subtree
        # (attach joins + prefix-verify UDF over EVERY candidate)
        # re-executes once per consumer (measured 3-5x in the optimized
        # plan; exchange reuse does not cover the differently-partitioned
        # branches). Block release is the caller's concern
        # (pipeline.DedupResult.release(), CrossDedupResult.release() and
        # the streaming deduper's per-batch release sweep every
        # checkpoint created during the run).
        # eager: on the shuffled path the survivor list has three
        # consumers whose AQE jobs launch concurrently; a lazy
        # checkpoint makes their tasks race on the checkpoint lock
        # (see lsh.candidate_pairs).
        cands = cands.localCheckpoint(eager=True)
        sk_a, sk_b = _survivor_sketches(cands, sk_a, sk_b)
    return attach(cands, sk_a, sk_b, F.col("sketch"))


# floor of verify_pairs' tier-1 margin below the Jaccard threshold
_PREFIX_MARGIN = 0.15


def verify_pairs(cands: DataFrame, sketches: DataFrame, params: SketchParams,
                 jaccard_threshold: float | None = None,
                 max_distance: float | None = None,
                 max_pvalue: float | None = None,
                 with_pvalue: bool = False,
                 prefix_filter: int | None = 128,
                 sketches_b: DataFrame | None = None) -> DataFrame:
    """Attach Mash-exact (common, denom, jaccard, mash_dist[, p_value]) to a
    candidate-pair DataFrame (id_a, id_b).

    ``id_a`` takes its sketch from ``sketches`` and ``id_b`` from
    ``sketches_b`` (default: ``sketches``), so cross pairs between two
    corpora (a new slice vs a committed reference, whose id spaces may
    overlap) verify against both tables in place. Tables under the
    broadcast cap are looked up in one Python pass over the pairs; a
    table over it makes both attach through shuffled joins (module
    docstring).

    Two-tier verification when ``jaccard_threshold`` and ``prefix_filter``
    are set: tier 1 merges only the bottom-``prefix_filter`` prefix of
    each sketch (on the shuffled path, 1 KB instead of 8 KB per side at
    m=128 crosses the joins) and drops pairs whose prefix-Jaccard
    estimate is below ``threshold - margin``; tier 2 runs the full-s
    Mash-exact merge on the survivors. The prefix estimate
    over m hashes has sd ~ sqrt(j(1-j)/m), and the margin is
    max(0.15, 6 sd): 6 sd = 0.243 at the default t=0.7, m=128, so
    borderline true pairs are essentially never pre-filtered
    (P < 1e-9/pair) while boilerplate-only candidate junk (j ~ 0.0-0.3)
    dies at 1/8 of the merge cost. The FINAL numbers are always the
    full-s exact ones (precision is never affected).

    The cheap jaccard threshold runs before the p-value UDF
    (cheap-filter-first, CommandDistance.cpp:409-417).
    """
    prefix = None
    if (prefix_filter is not None and jaccard_threshold is not None
            and prefix_filter < params.s):
        t = float(jaccard_threshold)
        sigma = math.sqrt(max(t * (1.0 - t), 0.05) / float(prefix_filter))
        prefix = (int(prefix_filter), t - max(_PREFIX_MARGIN, 6.0 * sigma))
    sk_a, sk_b = _sketch_tables(sketches, sketches_b, params)
    looks = _sketch_lookups(sk_a, sk_b, params.s)
    if looks is not None:
        df = _lookup_pass(cands, looks, _verify_score(params.s, prefix),
                          _VERIFY_FIELDS)
    else:
        vu = make_verify_udf(params.s)
        df = _attach_sketches(cands, sk_a, sk_b, prefix=prefix).withColumn(
            "_v", vu(F.col("sketch_a"), F.col("sketch_b"))).select(
            "id_a", "id_b", "card_a", "card_b",
            F.col("_v.common").alias("common"),
            F.col("_v.denom").alias("denom"),
        )
    df = df.withColumn(
        "jaccard",
        F.when(F.col("denom") > 0, F.col("common") / F.col("denom")).otherwise(F.lit(0.0)),
    )
    # Mash distance as a pure column expression (CommandDistance.cpp:387-407)
    j = F.col("jaccard")
    dist = -F.log(2.0 * j / (1.0 + j)) / F.lit(float(params.k))
    # common==0 is tested FIRST: the reference's branch order
    # (common==denom first) is safe only because mash drops sub-k
    # records at sketch time; we retain empty-sketch docs, and an
    # empty-vs-empty pair has common==denom==0 — it must score as
    # maximally distant (1.0), not as a perfect match (0.0)
    df = df.withColumn(
        "mash_dist",
        F.when(F.col("common") == 0, F.lit(1.0))
        .when(F.col("common") == F.col("denom"), F.lit(0.0))
        .otherwise(F.least(dist, F.lit(1.0))),
    )
    if jaccard_threshold is not None:
        df = df.filter(F.col("jaccard") >= float(jaccard_threshold))
    if max_distance is not None:  # reference -d filter, CommandDistance.cpp:409-412
        df = df.filter(F.col("mash_dist") <= float(max_distance))
    if with_pvalue or max_pvalue is not None:
        pu = make_pvalue_udf(params.kmer_space, params.s)
        df = df.withColumn("p_value", pu(F.col("common"), F.col("card_a"), F.col("card_b")))
        if max_pvalue is not None:  # reference -v filter, CommandDistance.cpp:419-422
            df = df.filter(F.col("p_value") <= float(max_pvalue))
    return df.drop("card_a", "card_b")


def cross_dist(ref_sketches: DataFrame, query_sketches: DataFrame,
               params: SketchParams,
               max_distance: float | None = None,
               max_pvalue: float | None = None,
               with_pvalue: bool = True,
               upper_only: bool = False) -> DataFrame:
    """Exhaustive ref × query Mash distances — the exact form of J4
    (``mash dist`` prints EVERY query×ref pair, ``CommandDistance.cpp``
    main loop; ``mash triangle`` is the self case with i<j,
    ``CommandTriangle.cpp:159-198``).

    The output is O(|ref|·|query|) BY DEFINITION, so this is the
    reference-parity surface for moderate N (a 10^4×10^4 run is 10^8
    skinny rows — fine distributed); at web scale the near-duplicate
    path is ``lsh.candidate_pairs`` + ``verify_pairs``, which never
    enumerates non-colliding pairs. The pair relation here is two 8-byte
    ids; ``verify_pairs`` then takes ``id_a``'s sketch from
    ``ref_sketches`` and ``id_b``'s from ``query_sketches`` and scores
    every pair, so no fat row ever enters the cross product.

    ``upper_only=True`` keeps id_a < id_b (triangle). Param compat is
    enforced against both tables' embedded params (Sketch.cpp:133-160).
    """
    return verify_pairs(all_pairs(ref_sketches, query_sketches, upper_only),
                        ref_sketches, params, max_distance=max_distance,
                        max_pvalue=max_pvalue, with_pvalue=with_pvalue,
                        sketches_b=query_sketches)


def all_pairs(ref: DataFrame, query: DataFrame,
              upper_only: bool = False) -> DataFrame:
    """Every (id_a, id_b) pair of a ``ref`` doc id and a ``query`` doc id
    (``upper_only``: only id_a < id_b), the pair relation of the
    exhaustive ops (``cross_dist``, ``mash contain``, the recall audit's
    ground truth).

    A cross product keeps its streamed side's partitioning, often one
    file split, so it is spread over ``spark.sql.shuffle.partitions``
    tasks and the merge that scores it runs on every slot (284 docs from
    one split, 40k pairs, 4 cores: 1.74 -> 1.30 s). An explicit N: AQE
    does not re-coalesce a user-numbered repartition."""
    cands = (
        ref.select(F.col("doc_id").alias("id_a"))
        .crossJoin(query.select(F.col("doc_id").alias("id_b")))
    )
    if upper_only:
        cands = cands.filter(F.col("id_a") < F.col("id_b"))
    return cands.repartition(int(ref.sparkSession.conf.get(
        "spark.sql.shuffle.partitions")))


def best_k_hits(pairs: DataFrame, b: int, query_col: str = "id_b",
                ref_col: str = "id_a") -> DataFrame:
    """F7: keep the ``b`` best hits per query, ties to the earlier ref —
    the reference's ``find -b`` semantics (``CommandFind.cpp:37``,
    compiled-out command; same shape as dist users' post-filter).

    A per-query ``row_number`` window: partitions shuffle on the query id,
    so the work distributes across executors; no driver-side sort. Skewed
    queries (one query hitting everything) are bounded by the upstream
    candidate caps, not by this operator.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(query_col).orderBy(
        F.asc("mash_dist"), F.asc(ref_col))
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(b))
        .drop("_rn")
    )
