"""``lsh.candidate_pairs`` against a pure-Python grouping of its band
entries: every pair and every metric, across cold, star and dropped
buckets."""

from __future__ import annotations

import random
from collections import defaultdict

import pytest

from mashspark.lsh import candidate_pairs, explode_bands

METRICS = ("n_buckets", "n_hot_buckets", "n_dropped_buckets", "n_dropped_docs")


def brute_force(entries, band_doc_cap, hard_bucket_cap):
    """Pairs and metrics of ``(doc_id, band_key)`` entries: a bucket of
    n > hard_bucket_cap is dropped, n > band_doc_cap is a star on its
    minimum doc_id, anything else is all-pairs."""
    buckets = defaultdict(list)
    for doc, key in entries:
        buckets[key].append(doc)
    pairs = set()
    sizes = [len(ids) for ids in buckets.values() if len(ids) > 1]
    for ids in buckets.values():
        n = len(ids)
        if n < 2 or n > hard_bucket_cap:
            continue
        if n <= band_doc_cap:
            pairs |= {(a, b) for a in ids for b in ids if a < b}
        else:
            hub = min(ids)
            pairs |= {(hub, d) for d in ids if d != hub}
    metrics = {
        "n_buckets": len(sizes),
        "n_hot_buckets": sum(n > band_doc_cap for n in sizes),
        "n_dropped_buckets": sum(n > hard_bucket_cap for n in sizes),
        "n_dropped_docs": sum(n for n in sizes if n > hard_bucket_cap),
    }
    return pairs, metrics


def _bucketed_sketches(spark):
    """40 docs and 5 buckets of every size 1..10 (docs drawn at random,
    so one pair shares several buckets), plus two docs without keys."""
    rng = random.Random(13)
    keys = defaultdict(list)
    key = 1000
    for size in range(1, 11):
        for _ in range(5):
            key += 1
            for doc in rng.sample(range(1, 41), size):
                keys[doc].append(key)
    rows = [(doc, keys[doc]) for doc in range(1, 43)]
    return spark.createDataFrame(rows, "doc_id long, band_key array<long>")


def _run(sketches, band_doc_cap, hard_bucket_cap):
    pairs, metrics = candidate_pairs(sketches, band_doc_cap=band_doc_cap,
                                     hard_bucket_cap=hard_bucket_cap)
    return {tuple(r) for r in pairs.collect()}, metrics.first().asDict()


@pytest.mark.parametrize("band_doc_cap, hard_bucket_cap", [
    (3, 6),        # cold <= 3, star 4..6, dropped 7..10
    (6, 3),        # hard cap under the star cap: no star, dropped 4..10
    (1000, 10**6), # everything cold
    (1, 10),       # everything starred
])
def test_candidate_pairs_match_brute_force(spark, band_doc_cap, hard_bucket_cap):
    sk = _bucketed_sketches(spark)
    entries = [tuple(r) for r in explode_bands(sk).collect()]
    want_pairs, want_metrics = brute_force(entries, band_doc_cap, hard_bucket_cap)
    got_pairs, got_metrics = _run(sk, band_doc_cap, hard_bucket_cap)
    assert got_pairs == want_pairs
    assert got_metrics == want_metrics


def test_all_singleton_buckets_give_zero_metrics(spark):
    """No bucket holds two entries: no pairs, and every metric is 0 (an
    aggregate over no rows would be NULL)."""
    sk = spark.createDataFrame([(d, [10 * d, 10 * d + 1]) for d in range(1, 6)],
                               "doc_id long, band_key array<long>")
    pairs, metrics = _run(sk, 1, 1)
    assert pairs == set()
    assert metrics == dict.fromkeys(METRICS, 0)


def test_buckets_over_hard_cap_are_dropped_under_star_cap(spark):
    """Two identical pages share every band bucket. With hard_bucket_cap
    below band_doc_cap, each of those two-doc buckets is dropped, and the
    metrics count exactly those buckets and their entries."""
    from mashspark.params import LSHParams, SketchParams
    from mashspark.sketch import sketch_documents

    page = " ".join(f"word{i}" for i in range(300))
    docs = spark.createDataFrame(
        [(1, page), (2, page), (3, "an unrelated page about other things " * 20)],
        "doc_id long, text string")
    sk = sketch_documents(docs, SketchParams(), LSHParams())
    shared = len(set.intersection(*(set(r.band_key) for r in
                                    sk.filter("doc_id < 3").collect())))
    assert shared > 0
    pairs, metrics = _run(sk, 1000, 1)
    assert pairs == set()
    assert metrics["n_dropped_buckets"] == shared
    assert metrics["n_dropped_docs"] == 2 * shared
    assert _run(sk, 1000, 2)[0] == {(1, 2)}


def _cross_brute_force(new, ref, hard_bucket_cap):
    """The cross band join of (band_key, id) entries in plain Python:
    every key whose product of side sizes exceeds the cap is dropped and
    counted; every other key pairs each new id with each ref id."""
    by_new, by_ref = defaultdict(list), defaultdict(list)
    for key, doc in new:
        by_new[key].append(doc)
    for key, doc in ref:
        by_ref[key].append(doc)
    pairs, dropped = set(), []
    for key in by_new.keys() & by_ref.keys():
        a, b = by_new[key], by_ref[key]
        if len(a) * len(b) > hard_bucket_cap:
            dropped.append((len(a), len(b)))
        else:
            pairs.update((i, j) for i in a for j in b)
    metrics = {
        "n_dropped_buckets": len(dropped),
        "n_dropped_new_entries": sum(a for a, _ in dropped),
        "n_dropped_ref_entries": sum(b for _, b in dropped),
    }
    return pairs, metrics


def test_cross_candidate_pairs_fast_path_matches_brute_force(spark):
    """``cross_candidate_pairs`` on ``dedup_against``'s inputs (a slice of
    reference copies plus unrelated pages, against the reference) gives
    the brute-force pairs and drop metrics at every cap. A cap at or
    above the band join's total size takes the join-size path, whose
    metrics row is a literal zero; one below it sizes every bucket. The
    metrics row has the same columns and types on both paths."""
    from pyspark.sql import functions as F

    from mashspark.lsh import cross_candidate_pairs
    from mashspark.params import LSHParams, SketchParams
    from mashspark.sketch import sketch_documents
    from mashspark.webtext import webtext_spark_df

    sp, lp = SketchParams(k=21, s=256, seed=42), LSHParams(bands=32, prefix=64)
    ref = webtext_spark_df(spark, n_base=30, seed=1).select("doc_id", "text")
    new = (ref.filter(F.col("doc_id") % 3 == 0)
           .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
           .unionByName(webtext_spark_df(spark, n_base=5, seed=99)
                        .select("doc_id", "text")))
    bands_a = explode_bands(sketch_documents(new, sp, lp)).select(
        "band_key", F.col("doc_id").alias("id_a")).localCheckpoint(eager=True)
    bands_b = explode_bands(sketch_documents(ref, sp, lp)).select(
        "band_key", F.col("doc_id").alias("id_b")).localCheckpoint(eager=True)
    new_e = [tuple(r) for r in bands_a.collect()]
    ref_e = [tuple(r) for r in bands_b.collect()]
    n_new = defaultdict(int)
    for key, _ in new_e:
        n_new[key] += 1
    total = sum(n_new[key] for key, _ in ref_e)
    assert total > 0

    schemas = set()
    for cap, fast in ((total - 1, False), (total, True), (total + 1, True),
                      (2, False), (LSHParams().hard_bucket_cap, True)):
        want_pairs, want_metrics = _cross_brute_force(new_e, ref_e, cap)
        pairs, metrics = cross_candidate_pairs(bands_a, bands_b, cap)
        assert {tuple(r) for r in pairs.collect()} == want_pairs, cap
        assert metrics.first().asDict() == want_metrics, cap
        plan = metrics._jdf.queryExecution().executedPlan().toString()
        assert ("LocalTableScan" in plan) == fast, (cap, plan)
        schemas.add(tuple((f.name, f.dataType.simpleString(), f.nullable)
                          for f in metrics.schema.fields))
    assert len(schemas) == 1, schemas
    assert _cross_brute_force(new_e, ref_e, 2)[1]["n_dropped_buckets"] > 0
