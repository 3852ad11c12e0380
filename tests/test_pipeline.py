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


def _lookup_spy(monkeypatch):
    """Record whether each verify/contain call took the lookup path."""
    from mashspark import verify as V

    took = []
    lookups = V._sketch_lookups

    def spy(*args):
        looks = lookups(*args)
        took.append(looks is not None)
        return looks

    monkeypatch.setattr(V, "_sketch_lookups", spy)
    return took


def test_verify_broadcast_attach_matches_hint_path(spark, tmp_path,
                                                   monkeypatch):
    """verify_pairs and contain_pairs look sketches up from broadcasts
    when both tables fit under the broadcast threshold, and attach them
    through shuffled-hash joins otherwise (threshold -1). Both paths must
    return the same rows, on parquet-backed and on checkpointed tables,
    with the prefix tier on and off, over two tables whose id spaces
    overlap, with an id repeated in ``sketches_b`` (one row per sketch
    row, as the join emits), ids missing from either table (the pair is
    dropped) and docs too short to sketch."""
    from mashspark import verify as V
    from mashspark.sketch import sketch_documents

    sp, lp = SketchParams(s=128), LSHParams(prefix=64)
    docs_a = _near_dup_docs(spark).unionByName(spark.createDataFrame(
        [(500, "tiny"), (501, "")], "doc_id long, text string"))
    texts = {r.doc_id: r.text for r in docs_a.collect()}
    # b reuses a's ids for other texts: id 3 holds doc 1000's text twice
    # over (a repeated id), id 4 a short doc, ids 0-2 near copies of a's
    # docs 1000, 1003 and 1006
    rows_b = [(0, texts[1000]), (1, texts[1003] + " more"), (2, texts[1006]),
              (3, texts[1000]), (3, texts[9] + " tail"), (4, "short"),
              (7, texts[1009])]
    docs_b = spark.createDataFrame(rows_b, "doc_id long, text string")
    sk_a = sketch_documents(docs_a, sp, lp)
    sk_b = sketch_documents(docs_b, sp, lp)
    ids_a = [r for r in texts] + [9999]   # 9999: missing from a
    ids_b = sorted({r[0] for r in rows_b}) + [8888]
    pairs = spark.createDataFrame([(a, b) for a in ids_a for b in ids_b],
                                  "id_a long, id_b long")
    for name in ("a", "b"):
        sketch_documents({"a": docs_a, "b": docs_b}[name], sp, lp) \
            .write.parquet(str(tmp_path / name))
    tables = {
        "parquet": (spark.read.parquet(str(tmp_path / "a")),
                    spark.read.parquet(str(tmp_path / "b"))),
        "checkpoint": (sk_a.localCheckpoint(eager=True),
                       sk_b.localCheckpoint(eager=True)),
    }

    def runs(a, b):
        yield "verify", V.verify_pairs(pairs, a, sp, with_pvalue=True,
                                       prefix_filter=None, sketches_b=b)
        yield "verify+prefix", V.verify_pairs(
            pairs, a, sp, jaccard_threshold=0.5, prefix_filter=64,
            sketches_b=b)
        yield "contain", V.contain_pairs(pairs, a, sp, sketches_b=b)

    took = _lookup_spy(monkeypatch)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    for kind, (a, b) in tables.items():
        got = {name: sorted(tuple(r) for r in out.collect())
               for name, out in runs(a, b)}
        spark.conf.set(key, "-1")
        try:
            ref = {name: sorted(tuple(r) for r in out.collect())
                   for name, out in runs(a, b)}
        finally:
            spark.conf.set(key, prev)
        assert took == [True] * 3 + [False] * 3, (kind, took)
        took.clear()
        for name in got:
            assert got[name] == ref[name], (kind, name)
        all_pairs = got["verify"]
        # one row per (a row, b row): id 3 twice, missing ids never
        assert len(all_pairs) == (len(ids_a) - 1) * (len(rows_b)), kind
        assert not {r[0] for r in all_pairs} & {9999}
        assert not {r[1] for r in all_pairs} & {8888}
        assert sum(r[:2] == (1000, 3) for r in all_pairs) == 2
        # empty sketches score as maximally distant, never as matches
        assert all(r[5] == 1.0 for r in all_pairs if r[0] in (500, 501))
        assert (1000, 0) in {r[:2] for r in got["verify+prefix"]}
        assert len(got["contain"]) == len(all_pairs)


def test_broadcast_threshold_parses_byte_strings(spark, tmp_path):
    """autoBroadcastJoinThreshold accepts byte strings; conf.get hands
    them back verbatim ("10MB"), so the threshold must come from Spark's
    parsed value — int() of the raw string raised. The lookup gate is
    exact: a table whose rows x 8·s bytes equals the threshold is looked
    up, one byte less is not, and -1 disables the lookup."""
    from mashspark import verify as V
    from mashspark.sketch import sketch_documents

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    sp = SketchParams(s=64)
    docs = spark.createDataFrame(
        [(i, f"document {i} " + "shared boilerplate words " * 20) for i in range(8)],
        "doc_id long, text string")
    path = str(tmp_path / "sk.parquet")
    sketch_documents(docs, sp, LSHParams(prefix=32)).write.parquet(path)
    sk = spark.read.parquet(path).select("doc_id", "sketch", "card_est")

    def looked_up() -> bool:
        span = V._LookupSpan()
        looks = V._sketch_lookups(sk, sk, sp.s)
        span.close().destroy()
        # one table for both sides: broadcast once, destroyed with the span
        assert len(span.lookups) == (looks is not None)
        assert not any(bc._jbroadcast.isValid() for bc in span.lookups)
        return looks is not None

    try:
        spark.conf.set(key, "10MB")
        assert spark.conf.get(key) == "10MB"
        assert V._broadcast_threshold(spark) == 10 * 1024 * 1024
        assert looked_up()
        spark.conf.set(key, str(8 * 8 * sp.s))
        assert looked_up()
        spark.conf.set(key, str(8 * 8 * sp.s - 1))
        assert not looked_up()
        spark.conf.set(key, "-1")
        assert V._broadcast_threshold(spark) == -1
        assert not looked_up()
    finally:
        spark.conf.set(key, prev)


def test_verify_survivor_paths_match(spark, monkeypatch):
    """verify_pairs with the prefix tier on a sketch table over the
    lookup cap restricts the table to tier-1 survivor ids either by a
    map-side semi-join against the collected ids (they fit under the
    broadcast cap) or by a shuffled semi-join (broadcasting disabled).
    Both must return the pairs the lookup path returns."""
    from mashspark import verify as V
    from mashspark.sketch import sketch_documents

    sp = SketchParams(s=128)
    # localCheckpoint: the pipeline's own materialization of the table
    sk = sketch_documents(_near_dup_docs(spark), sp,
                          LSHParams(prefix=64)).localCheckpoint(eager=True)
    pairs = _all_pairs(sk)
    n_docs = sk.count()

    def run():
        out = V.verify_pairs(pairs, sk, sp, jaccard_threshold=0.5, prefix_filter=64)
        return [tuple(r) for r in out.orderBy("id_a", "id_b").collect()], out

    took = _lookup_spy(monkeypatch)
    probes = []
    collect = V.collect_at_most
    monkeypatch.setattr(V, "collect_at_most", lambda df, cap: probes.append(
        collect(df, cap)) or probes[-1])
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    looked, _ = run()
    # the table (n_docs x 1 KB) is over the cap, its survivor ids are not
    spark.conf.set(key, str(n_docs * 8 * sp.s // 4))
    try:
        got, _ = run()
        spark.conf.set(key, "-1")
        ref, out = run()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"ShuffledHashJoin .*LeftSemi", plan), plan
    finally:
        spark.conf.set(key, prev)
    assert took == [True, False, False]
    assert [p is not None for p in probes] == [True, False]
    assert got == ref == looked
    assert len(got) > 0


def test_release_destroys_verify_lookups(spark, tmp_path):
    """verify's lookup broadcasts outlive verify_pairs (its output is
    lazy), and the run's release path destroys them: DedupResult and
    CrossDedupResult.release() and the streaming deduper's per-batch
    sweep. Five dedup_against runs in one session leave no live lookup
    behind."""
    from mashspark import verify as V
    from mashspark.pipeline import dedup_against
    from mashspark.streaming import IncrementalDeduper

    cfg = PipelineConfig(sketch=SketchParams(k=21, s=64))
    docs = _near_dup_docs(spark)
    # an enclosing span sees every lookup made below
    seen = V._LookupSpan()

    def live() -> int:
        return sum(bc._jbroadcast.isValid() for bc in seen.lookups)

    res = dedup_pipeline(docs, cfg)
    bcs = res.held.span.lookups
    assert len(bcs) == 1  # one table, looked up for both sides
    assert all(bc._jbroadcast.isValid() for bc in bcs)
    res.release()
    assert not any(bc._jbroadcast.isValid() for bc in bcs)
    assert live() == 0

    new = docs.filter(F.col("doc_id") >= 1000)
    ref = docs.filter(F.col("doc_id") < 1000)
    for _ in range(5):
        res = dedup_against(new, ref, cfg)
        dup_of = {r.doc_id: r.dup_of for r in res.decisions.collect()}
        bcs = res.held.span.lookups
        res.release()
        assert dup_of[1000] == 0 and len(bcs) == 2
        assert not any(bc._jbroadcast.isValid() for bc in bcs)
    assert len(seen.lookups) == 11 and live() == 0

    dd = IncrementalDeduper(str(tmp_path / "store"), cfg)
    for batch_id, batch in enumerate((ref, new)):
        dd.process_batch(batch, batch_id)
        assert live() == 0
    assert len(seen.lookups) > 11  # the batches did look sketches up
    seen.close()


def test_unowned_lookups_are_left_to_spark(spark, monkeypatch):
    """Outside a run's span verify keeps no reference to its lookup
    broadcasts, so Spark's ContextCleaner reclaims them with their plan;
    the plan still runs once the driver's Python object is gone."""
    import gc
    import weakref

    from mashspark import verify as V
    from mashspark.sketch import sketch_documents

    sp = SketchParams(s=64)
    sk = sketch_documents(_near_dup_docs(spark), sp,
                          LSHParams(prefix=32)).localCheckpoint(eager=True)
    pairs = _all_pairs(sk)
    made = []
    lookup = V._broadcast_lookup

    def spy(t):
        bc = lookup(t)
        made.append(weakref.ref(bc))
        return bc

    monkeypatch.setattr(V, "_broadcast_lookup", spy)
    out = V.verify_pairs(pairs, sk, sp, jaccard_threshold=0.5,
                         prefix_filter=None)
    gc.collect()
    assert len(made) == 1 and made[0]() is None
    got = sorted(tuple(r) for r in out.collect())
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        ref = sorted(tuple(r) for r in V.verify_pairs(
            pairs, sk, sp, jaccard_threshold=0.5,
            prefix_filter=None).collect())
    finally:
        spark.conf.set(key, prev)
    assert got == ref and len(got) > 0


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
