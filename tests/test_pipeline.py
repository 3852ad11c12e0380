"""End-to-end dedup pipeline vs the brute-force Mash-semantics oracle
(SURVEY.md §5 item 4): dup-pair recall >= 0.99 (gate; expected 1.0 at these
params), precision == 1.0 (verification is Mash-exact), and exact cluster
agreement with union-find over the oracle edges."""

import itertools
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from mashspark.params import LSHParams, PipelineConfig, SketchParams
from mashspark.pipeline import dedup_pipeline
from mashspark.webtext import webtext_spark_df
from tests import oracle

N_BASE = 50
SEED = 42
THRESHOLD = 0.7
# smaller s than production default keeps the brute-force oracle fast while
# exercising identical code paths
PARAMS = SketchParams(k=21, s=256, seed=42)
LSH = LSHParams(bands=32, prefix=64, band_doc_cap=50)  # low cap exercises the salted hot path
CONFIG = PipelineConfig(sketch=PARAMS, lsh=LSH, jaccard_threshold=THRESHOLD)


@pytest.fixture(scope="module")
def webtext(spark):
    df = webtext_spark_df(spark, n_base=N_BASE, seed=SEED)
    pdf = df.select("doc_id", "text").toPandas().sort_values("doc_id")
    return df, pdf


@pytest.fixture(scope="module")
def truth(webtext):
    """Oracle results keyed by real doc_id (generator ids have gaps)."""
    _, pdf = webtext
    ids = pdf["doc_id"].tolist()
    sketches = oracle.sketch_all(pdf["text"].tolist(), PARAMS)
    pairs_pos = oracle.truth_pairs(sketches, PARAMS, THRESHOLD)
    clusters_pos = oracle.truth_clusters(len(pdf), pairs_pos)
    sk_by_id = dict(zip(ids, sketches))
    pairs = {(min(ids[a], ids[b]), max(ids[a], ids[b])) for a, b in pairs_pos}
    clusters = {ids[i]: ids[lab] for i, lab in clusters_pos.items()}
    return sk_by_id, pairs, clusters


@pytest.fixture(scope="module")
def result(spark, webtext):
    df, _ = webtext
    res = dedup_pipeline(df, CONFIG)
    pairs = {
        (r.id_a, r.id_b)
        for r in res.pairs.select("id_a", "id_b").collect()
    }
    exact = {r.doc_id: r.rep_id for r in res.exact_groups.collect()}
    clusters = {r.doc_id: r.cluster_id for r in res.clusters.collect()}
    return res, pairs, exact, clusters


def _expand_detected_pairs(rep_pairs, exact):
    """rep-level verified pairs + exact groups -> doc-level detected pairs."""
    import collections

    members = collections.defaultdict(list)
    for doc, rep in exact.items():
        members[rep].append(doc)
    out = set()
    for a, b in rep_pairs:
        for x in members[a]:
            for y in members[b]:
                out.add((min(x, y), max(x, y)))
    for rep, ms in members.items():
        for x, y in itertools.combinations(sorted(ms), 2):
            out.add((x, y))
    return out


def test_sketches_match_oracle(result, truth, webtext):
    """Spark UDF sketches == numpy oracle sketches, bit for bit."""
    from mashspark.hashing import decode_sketch_bytes

    res, _, _, _ = result
    oracle_sk, _, _ = truth
    got = {
        r.doc_id: decode_sketch_bytes(r.sketch)
        for r in res.sketches.select("doc_id", "sketch").collect()
    }
    assert set(got) == set(oracle_sk)
    for did, osk in oracle_sk.items():
        assert np.array_equal(got[did], osk), f"doc {did}"


def test_dup_pair_recall_and_precision(result, truth):
    _, rep_pairs, exact, _ = result
    _, truth_pairs, _ = truth
    detected = _expand_detected_pairs(rep_pairs, exact)
    assert truth_pairs, "fixture must plant duplicate pairs"
    missed = truth_pairs - detected
    recall = 1 - len(missed) / len(truth_pairs)
    assert recall >= 0.99, f"recall {recall}: missed {sorted(missed)[:10]}"
    false = detected - truth_pairs
    assert not false, f"verification must be exact; false pairs {sorted(false)[:10]}"


def test_cluster_agreement(result, truth):
    _, _, _, clusters = result
    _, _, truth_clusters = truth
    assert clusters == truth_clusters


def test_partitioning_invariance(spark, webtext, result):
    """Same clusters regardless of input partitioning (determinism under
    different task layouts — SURVEY.md §5 item 6)."""
    df, _ = webtext
    _, _, _, clusters = result
    res2 = dedup_pipeline(df.repartition(7, "lang"), CONFIG)
    clusters2 = {r.doc_id: r.cluster_id for r in res2.clusters.collect()}
    assert clusters2 == clusters


def test_lsh_metrics_shape(result):
    res, _, _, _ = result
    row = res.lsh_metrics.collect()[0]
    assert row.n_buckets > 0
    assert row.n_dropped_buckets == 0


def test_candidate_pairs_warns_on_noop_params(spark):
    """``eager``/``checkpoint`` do nothing; passing a non-default value
    warns once, the defaults stay silent, and the pairs are the same."""
    import warnings

    from mashspark.lsh import candidate_pairs

    sk = spark.createDataFrame(
        [(1, [10, 20]), (2, [10, 30]), (3, [40, 20])],
        "doc_id long, band_key array<long>")
    with warnings.catch_warnings():
        warnings.simplefilter("error", DeprecationWarning)
        want = {tuple(r) for r in candidate_pairs(sk)[0].collect()}
    assert want == {(1, 2), (1, 3)}
    for kwargs in ({"eager": True}, {"checkpoint": False},
                   {"eager": True, "checkpoint": False}):
        with pytest.warns(DeprecationWarning, match="eager") as rec:
            cand, _m = candidate_pairs(sk, **kwargs)
        assert len([w for w in rec
                    if issubclass(w.category, DeprecationWarning)]) == 1
        assert {tuple(r) for r in cand.collect()} == want


def test_sketch_documents_matches_numpy_reference(spark):
    """sketch_documents (the mapInArrow generator) against the scalar
    numpy reference, row by row, across null text, empty docs, docs
    shorter than k, a doc of exactly k bytes, unicode, a full sketch (the
    KMV card_est branch) and non-default column names."""
    from mashspark.hashing import encode_signed
    from mashspark.minhash import kmv_set_size, sketch_text_bytes
    from mashspark.sketch import (compute_band_keys, sketch_documents,
                                  sketch_fp128)

    rows = [(1, "the quick brown fox jumps over the lazy dog " * 30),
            (2, None), (3, ""), (4, "tiny"), (5, "x" * 21),
            (6, "the quick brown fox jumps over the lazy dog " * 30),
            (7, "unicode éèê content " * 40),
            (8, " ".join("w%d" % i for i in range(400)))]
    docs = spark.createDataFrame(rows, "my_id long, body string")
    sp, lp = SketchParams(s=64), LSHParams(prefix=32)

    got = {r["doc_id"]: r for r in
           sketch_documents(docs, sp, lp, id_col="my_id",
                            text_col="body").collect()}
    assert set(got) == {d for d, _ in rows}
    full = 0
    for doc_id, text in rows:
        data = (text or "").encode("utf-8")
        sk = sketch_text_bytes(data, sp.k, sp.s, sp.seed)
        r = got[doc_id]
        assert bytes(r["sketch"]) == encode_signed(sk).tobytes(), doc_id
        assert r["n_kmers"] == max(len(data) - sp.k + 1, 0), doc_id
        card = kmv_set_size(sk) if len(sk) >= sp.s else len(sk)
        assert r["card_est"] == card, doc_id
        keys = compute_band_keys(sk, lp.bands, lp.prefix).view(np.int64)
        assert list(r["band_key"]) == keys.tolist(), doc_id
        assert (r["fp1"], r["fp2"]) == sketch_fp128(sk), doc_id
        full += len(sk) == sp.s
    assert full >= 1 and len(got[5]["sketch"]) == 8


def _near_dup_docs(spark):
    """40 random-word docs, every third with a near-dup variant."""
    rng = np.random.default_rng(3)
    words = ["w%03d" % i for i in range(300)]
    rows = []
    for i in range(40):
        base = " ".join(words[j] for j in rng.integers(0, 300, 80))
        rows.append((i, base))
        if i % 3 == 0:
            rows.append((1000 + i, base + " extra tail"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _all_pairs(sk):
    ids = sk.select("doc_id")
    return (ids.withColumnRenamed("doc_id", "id_a")
            .crossJoin(ids.withColumnRenamed("doc_id", "id_b"))
            .filter(F.col("id_a") < F.col("id_b")))


def test_verify_broadcast_attach_matches_hint_path(spark, tmp_path):
    """Round-6: verify_pairs broadcasts the sketch side when its size
    ESTIMATE is under the broadcast threshold (parquet scans estimate
    from file sizes; a localCheckpoint keeps its origin plan's estimate,
    which can be far below its sketch bytes). Pin output equality
    between the two attach strategies on a parquet-backed table, and
    that the small path actually fires there."""
    from mashspark.sketch import sketch_documents
    from mashspark import verify as V

    docs = _near_dup_docs(spark)
    sp, lp = SketchParams(s=128), LSHParams(prefix=64)
    path = str(tmp_path / "sk.parquet")
    sketch_documents(docs, sp, lp).write.parquet(path)
    sk = spark.read.parquet(path).select("doc_id", "sketch", "card_est")
    assert V._sketch_side_small(sk), "parquet-backed small table must qualify"

    pairs = _all_pairs(sk)
    got = V.verify_pairs(pairs, sk, sp, jaccard_threshold=0.5,
                         prefix_filter=None).orderBy("id_a", "id_b").collect()
    # force the hint path for the same inputs
    orig = V._sketch_side_small
    V._sketch_side_small = lambda _sk: False
    try:
        ref = V.verify_pairs(pairs, sk, sp, jaccard_threshold=0.5,
                             prefix_filter=None).orderBy("id_a", "id_b").collect()
    finally:
        V._sketch_side_small = orig
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]
    assert len(got) > 0


def test_broadcast_threshold_parses_byte_strings(spark, tmp_path):
    """autoBroadcastJoinThreshold accepts byte strings; conf.get hands
    them back verbatim ("10MB"), so the threshold must come from Spark's
    parsed value — int() of the raw string raised, and the small-side
    check silently took the slow attach path."""
    from mashspark import verify as V
    from mashspark.sketch import sketch_documents

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    docs = spark.createDataFrame(
        [(i, f"document {i} " + "shared boilerplate words " * 20) for i in range(8)],
        "doc_id long, text string")
    path = str(tmp_path / "sk.parquet")
    sketch_documents(docs, SketchParams(s=64), LSHParams(prefix=32)).write.parquet(path)
    sk = spark.read.parquet(path).select("doc_id", "sketch", "card_est")
    spark.conf.set(key, "10MB")
    try:
        assert spark.conf.get(key) == "10MB"
        assert V._broadcast_threshold(spark) == 10 * 1024 * 1024
        assert V._sketch_side_small(sk)
        spark.conf.set(key, "-1")
        assert V._broadcast_threshold(spark) == -1
        assert not V._sketch_side_small(sk)
    finally:
        spark.conf.set(key, prev)


def test_verify_survivor_paths_match(spark):
    """verify_pairs with the prefix tier restricts the sketch table to
    tier-1 survivor ids either by a map-side semi-join against the
    collected ids (they fit under the broadcast cap) or by a shuffled
    semi-join (broadcasting disabled). Both must return identical
    pairs."""
    from mashspark import verify as V
    from mashspark.sketch import sketch_documents

    sp = SketchParams(s=128)
    # localCheckpoint: the pipeline's own materialization of the table
    sk = sketch_documents(_near_dup_docs(spark), sp,
                          LSHParams(prefix=64)).localCheckpoint(eager=True)
    pairs = _all_pairs(sk)

    def run():
        out = V.verify_pairs(pairs, sk, sp, jaccard_threshold=0.5, prefix_filter=64)
        return [tuple(r) for r in out.orderBy("id_a", "id_b").collect()], out

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    got, _ = run()
    spark.conf.set(key, "-1")
    try:
        ref, out = run()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"ShuffledHashJoin .*LeftSemi", plan), plan
    finally:
        spark.conf.set(key, prev)
    assert got == ref
    assert len(got) > 0


def test_exact_groups_one_row_per_sketch(spark):
    """exact_groups holds exactly one (doc_id, rep_id) row per sketch row
    — cluster assignment takes its id set from this map instead of the
    sketch table. Verbatim mirrors map to the smallest id of their
    group; a doc shorter than k (empty sketch) stays its own rep."""
    rows = [(i, f"page {i} " + " ".join(f"tok{i}x{j}" for j in range(60)))
            for i in range(10)]
    rows += [(100, rows[0][1]), (101, rows[0][1]), (103, rows[3][1])]
    rows.append((200, "tiny"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    res = dedup_pipeline(docs, PipelineConfig(sketch=SketchParams(k=21, s=64)))
    try:
        n_sk = res.sketches.count()
        groups = res.exact_groups.collect()
        assert n_sk == len(rows)
        assert len(groups) == n_sk
        assert len({r.doc_id for r in groups}) == n_sk
        rep = {r.doc_id: r.rep_id for r in groups}
        assert rep[100] == rep[101] == 0 and rep[103] == 3 and rep[200] == 200
        assert sorted(r.doc_id for r in res.clusters.collect()) == sorted(rep)
    finally:
        res.release()
