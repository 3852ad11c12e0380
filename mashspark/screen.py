"""Containment screen as a DataFrame op (reference ``mash screen``,
``CommandScreen.cpp:54-461``): which reference sketches are contained in a
mixture/corpus of documents, with what estimated identity.

Reference physical model: inverted hash table + atomic counters shared by
threads (``CommandScreen.cpp:93-116,571-575``). Spark model: explode the
sketch db to (hash, ref_id) — typically small: refs × s rows — broadcast
it, hash the mixture's shingles with the same vectorized UDF, join, and
let Catalyst's partial+final aggregation replace the atomics.

Webtext use case: "which boilerplate/template sketches occur inside these
pages" — containment, not symmetric resemblance (J6/J7 in SURVEY.md §2.4).

Also winner-take-all reallocation (``screen -w``,
``CommandScreen.cpp:357-407``) as a window rank.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from .compare import pvalue_screen
from .hashing import (decode_signed, encode_signed, hash_shingles_concat,
                      signed_sketch_bytes)
from .minhash import kmv_set_size
from .params import SketchParams


@pandas_udf(ArrayType(LongType()))
def sketch_bytes_to_array(blobs: pd.Series) -> pd.Series:
    """binary sketch blob -> array<long> (signed-encoded values)."""
    return pd.Series([signed_sketch_bytes(b) for b in blobs])


def make_all_hashes_udf(k: int, seed: int):
    """text -> array of ALL distinct shingle hashes (sign-encoded).

    The mixture side of screen is NOT sketched — every shingle counts
    (``CommandScreen.cpp:560-576``). Distinct-per-doc with counts kept at
    the aggregation level instead (multiplicity = per-doc occurrences
    summed across docs downstream)."""

    @pandas_udf(ArrayType(LongType()))
    def all_hashes_udf(texts: pd.Series) -> pd.Series:
        vals = texts.fillna("").astype(str).tolist()
        bufs = [np.frombuffer(t.encode("utf-8"), dtype=np.uint8) for t in vals]
        lens = [len(b) for b in bufs]
        big = np.concatenate(bufs) if bufs else np.empty(0, dtype=np.uint8)
        all_h = hash_shingles_concat(big, k, seed)
        out = []
        off = 0
        for blen in lens:
            if blen < k:
                out.append(np.empty(0, dtype=np.int64))
            else:
                nk = blen - k + 1
                out.append(encode_signed(all_h[off : off + nk]))  # with repeats
            off += blen
        return pd.Series(out)

    return all_hashes_udf


def _kmv_set_size_from_hashes(exploded: DataFrame, s: int) -> int:
    """KMV bottom-s cardinality estimate over a sign-encoded hash column
    with NO shuffle: per-partition bottom-s distinct (mapInPandas, works
    under any hashes_udf kernel since it reads the built hash relation)
    then a driver merge of <= partitions*s values. Matches the reference's
    whole-mixture ``minHashHeap.estimateSetSize()`` (CommandScreen.cpp:322;
    screen's minCov is compiled out at 1, so EVERY mixture k-mer feeds the
    estimator)."""

    def _partial(batches):
        best = np.empty(0, dtype=np.uint64)
        for pdf in batches:
            h = decode_signed(pdf["hash"].to_numpy(np.int64))
            best = np.unique(np.concatenate([best, h]))[:s]
        yield pd.DataFrame({"h": encode_signed(best)})

    rows = exploded.mapInPandas(_partial, schema="h long").collect()
    vals = decode_signed(np.array([r.h for r in rows], dtype=np.int64))
    return kmv_set_size(np.unique(vals)[:s])


def make_screen_pvalue_udf(kmer_space: float, set_size: int):
    """screen p-value (``compare.pvalue_screen``): P(X >= shared) under
    Binomial(denom, set_size/kmer_space), as a vectorized pandas UDF over
    (shared, denom)."""
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def screen_pvalue_udf(shared: pd.Series, denom: pd.Series) -> pd.Series:
        return pd.Series(pvalue_screen(
            shared.to_numpy(dtype=np.int64), set_size, kmer_space,
            denom.to_numpy(dtype=np.int64)))

    # single-eval guard: without this the -v filter is planned between
    # two copies of the tail evaluation (see verify.make_verify_udf)
    return screen_pvalue_udf.asNondeterministic()


def screen(refs_sketches: DataFrame, mixture_docs: DataFrame,
           params: SketchParams, min_cov: int = 1,
           identity_min: float | None = None,
           max_pvalue: float | None = None,
           with_pvalue: bool = False,
           winner_take_all: bool = False,
           ref_id_col: str = "doc_id", text_col: str = "text",
           hashes_udf=None) -> DataFrame:
    """-> (ref_id, shared, denom, identity, median_multiplicity[, p_value]).

    refs_sketches: output of ``sketch.sketch_documents`` (or any table with
    ref_id + ``sketch`` array). mixture_docs: raw documents.
    Identity = (shared/denom) ** (1/k) (``estimateIdentity``,
    CommandScreen.cpp:463-482); median multiplicity uses the reference's
    sorted_depths[shared // 2] convention (CommandScreen.cpp:436).

    With ``with_pvalue``/``max_pvalue`` the reference's p-value column and
    ``-v`` filter (``CommandScreen.cpp:429-436,601-615``) are attached: the
    mixture distinct-shingle set size (``CommandScreen.cpp:322``) is a KMV
    bottom-s over the distinct-hash table the screen join already built —
    a per-partition top-s (TakeOrderedAndProject, no extra shuffle), never
    a full corpus sort.
    """
    from .params import params_from_schema

    embedded = params_from_schema(refs_sketches)
    if embedded is not None:  # refuse mismatched tables (F6, Sketch.cpp:133-160)
        params.check_compatible(embedded)
    # ref_len = the reference "length" (distinct-shingle estimate) used by
    # the winner-take-all tie-break (CommandScreen.cpp:394-399); falls back
    # to sketch size for hand-built tables without card_est
    ref_len = (
        F.col("card_est") if "card_est" in refs_sketches.columns
        else (F.length("sketch") / 8).cast("long")
    )
    index = refs_sketches.select(
        F.col(ref_id_col).alias("ref_id"),
        (F.length("sketch") / 8).cast("int").alias("denom"),
        ref_len.alias("ref_len"),
        F.explode(sketch_bytes_to_array(F.col("sketch"))).alias("hash"),
    )

    # hashes_udf: text -> array<long> of sign-encoded shingle hashes; the
    # default is web-text mode, DNA mode plugs dna.make_canonical_hashes_udf
    # (golden-parity tests run the reference's genomic fixtures through
    # this exact Spark path)
    udf = hashes_udf if hashes_udf is not None else make_all_hashes_udf(
        params.k, params.seed
    )
    exploded = mixture_docs.select(F.explode(udf(F.col(text_col))).alias("hash"))

    need_pvalue = with_pvalue or max_pvalue is not None
    set_size = None
    if need_pvalue:
        # KMV set size of the WHOLE mixture (CommandScreen.cpp:322) with NO
        # shuffle: per-partition bottom-s + driver merge of <= parts*s
        # values, over the already-built hash relation so custom
        # hashes_udf kernels are honored.
        set_size = _kmv_set_size_from_hashes(exploded, params.s)

    # SCALE: semi-join the exploded hashes against the broadcast index
    # key set BEFORE aggregating. The reference only ever counts hashes
    # that hit the inverted index (CommandScreen.cpp:571-575); aggregating
    # first would shuffle O(corpus shingles) rows where O(index hits)
    # suffice, and per-hit multiplicities are exact either way (every
    # occurrence of a surviving hash passes the semi-join).
    hash_keys = index.select("hash").distinct()
    mix = (
        exploded.join(F.broadcast(hash_keys), "hash", "left_semi")
        .groupBy("hash")
        .agg(F.count("*").alias("mult"))
    )
    if min_cov > 1:
        mix = mix.filter(F.col("mult") >= min_cov)

    hits = mix.join(F.broadcast(index), "hash")

    if winner_take_all:
        # first pass scores, then each hash credits only the best ref
        # (CommandScreen.cpp:357-407). Tie-break: max prelim identity, then
        # LARGER reference length (:394-399), then ref_id for determinism
        # (the reference's final tie is hash-table iteration order).
        prelim = hits.groupBy("ref_id", "denom").agg(F.count("*").alias("shared"))
        prelim = prelim.withColumn(
            "score", F.pow(F.col("shared") / F.col("denom"), 1.0 / params.k)
        )
        hits = hits.join(prelim.select("ref_id", "score"), "ref_id")
        w = Window.partitionBy("hash").orderBy(
            F.desc("score"), F.desc("ref_len"), F.asc("ref_id")
        )
        hits = hits.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)

    out = hits.groupBy("ref_id", "denom").agg(
        F.count("*").alias("shared"),
        F.sort_array(F.collect_list("mult")).alias("_depths"),
    )
    out = out.select(
        "ref_id",
        "shared",
        "denom",
        F.when(F.col("shared") == F.col("denom"), F.lit(1.0))
        .when(F.col("shared") == 0, F.lit(0.0))
        .otherwise(F.pow(F.col("shared") / F.col("denom"), 1.0 / params.k))
        .alias("identity"),
        F.element_at(
            F.col("_depths"), ((F.col("shared") / 2).cast("int") + 1)
        ).alias("median_multiplicity"),
    )
    if need_pvalue:
        pu = make_screen_pvalue_udf(params.kmer_space, set_size)
        out = out.withColumn("p_value", pu(F.col("shared"), F.col("denom")))
        if max_pvalue is not None:  # reference -v filter
            out = out.filter(F.col("p_value") <= float(max_pvalue))
    if identity_min is not None:
        out = out.filter(F.col("identity") >= identity_min)
    return out

