"""Round-3 additions: language-ID votes, vectorized binomial tails,
pipeline block release, screen shuffle-free KMV set size, URL
canonicalization, html extraction, IVF ANN, semantic dedup, substring
span removal, deterministic sampling/splits/epoch shuffle, PII
redaction, n-gram-LM scoring, TF-IDF/BM25 keywords, trained quality
classifier, cross-corpus dedup, quality-aware representatives — with
plan guards pinning each operator's scale shape."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mashspark.params import PipelineConfig, SketchParams


def test_language_id_votes(spark):
    """Stopword-vote heuristic: clear en/de/fr texts classify correctly,
    stopword-free text falls back to 'und'."""
    from mashspark.textstats import language_id

    rows = [
        (1, "the cat and the dog ran to the house and it is big"),
        (2, "der hund und die katze und das haus ist hier und der baum"),
        (3, "le chat et la maison et les arbres et des fleurs et le chien"),
        (4, "xyzzy plugh quux"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.lang_pred for r in language_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_binom_sf_vectorized_matches_scalar():
    """The batched tail (dedup + per-row-offset matrix logsumexp) must
    agree with the scalar reference across the whole parameter space,
    including boundary cases, to well inside the golden tolerance."""
    from mashspark.compare import _binom_sf_scalar, binom_sf

    rng = np.random.default_rng(7)
    xs = rng.integers(-2, 1200, 2000)
    rs = rng.random(2000) * 1.3 - 0.15  # includes r<=0 and r>=1
    ns = np.where(rng.random(2000) < 0.8, 1000, rng.integers(1, 3000, 2000))
    got = binom_sf(xs, rs, ns)
    want = np.array(
        [_binom_sf_scalar(int(x), float(r), int(n)) for x, r, n in zip(xs, rs, ns)]
    )
    rel = np.abs(got - want) / np.maximum(np.abs(want), 1e-300)
    assert rel.max() < 1e-8


def test_release_frees_all_checkpoint_blocks(spark, tmp_path):
    """DedupResult.release() must unpin EVERY localCheckpoint the pipeline
    created (sketches, tier-1 survivors, pairs, lsh internals) — a plain
    unpersist() on the returned DataFrames is a silent no-op for
    checkpointed RDDs."""
    from mashspark.pipeline import dedup_pipeline
    from mashspark.webtext import webtext_spark_df

    docs = webtext_spark_df(spark, n_base=40, seed=5).select("doc_id", "text")
    before = set(
        int(k) for k in
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    res = dedup_pipeline(
        docs, PipelineConfig(sketch=SketchParams(s=128), jaccard_threshold=0.7)
    )
    res.clusters.count()
    mid = set(
        int(k) for k in
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    assert mid - before, "pipeline should have created checkpoint blocks"
    res.release()
    after = set(
        int(k) for k in
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    assert after <= before, f"leaked persistent RDDs: {sorted(after - before)}"


def test_screen_set_size_matches_shuffled_formulation(spark):
    """The shuffle-free per-partition bottom-s KMV must equal the old
    distinct()-then-sort set size (same bottom-s distinct hashes)."""
    from mashspark.minhash import kmv_set_size
    from mashspark.hashing import decode_signed
    from mashspark.screen import _kmv_set_size_from_hashes, make_all_hashes_udf
    from mashspark.webtext import webtext_spark_df

    sp = SketchParams(k=21, s=64, seed=42)
    docs = webtext_spark_df(spark, n_base=30, seed=11).select("doc_id", "text")
    udf = make_all_hashes_udf(sp.k, sp.seed)
    exploded = docs.select(F.explode(udf(F.col("text"))).alias("hash"))
    got = _kmv_set_size_from_hashes(exploded, sp.s)
    rows = exploded.distinct().orderBy("hash").limit(sp.s).collect()
    vals = decode_signed(np.array([r.hash for r in rows], dtype=np.int64))
    want = kmv_set_size(vals)
    assert got == want


def test_url_normalization_variants(spark):
    """Canonicalization folds fragment / www / default-port / tracking /
    trailing-slash variants together and keeps real differences apart."""
    from mashspark.urls import with_normalized_url

    rows = [
        (0, "https://example.com/p/7/"),
        (1, "https://WWW.Example.COM/p/7#frag"),
        (2, "https://example.com:443/p/7?utm_source=x&utm_campaign=y"),
        (3, "HTTP://example.com:80/p/7"),
        (4, "https://example.com/p/7?b=2&a=1"),
        (5, "https://example.com/p/7?a=1&b=2&fbclid=zzz"),
        (6, "https://example.com/p/8"),
        (7, "http://example.com/p/7"),
        (8, "https://example.com"),
        (9, "https://example.com/"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r.doc_id: r.norm_url for r in with_normalized_url(df).collect()}
    # 0,1,2 fold to the canonical https form
    assert got[0] == got[1] == got[2] == "https://example.com/p/7"
    # :80 stripped only under http; scheme difference is preserved
    assert got[3] == got[7] == "http://example.com/p/7"
    assert got[3] != got[0]
    # param order is not semantic; tracking params are dropped
    assert got[4] == got[5] == "https://example.com/p/7?a=1&b=2"
    assert got[4] != got[0]
    # different path stays different; bare host == trailing-slash host
    assert got[6] == "https://example.com/p/8"
    assert got[8] == got[9] == "https://example.com"


def test_url_dedup_keeps_min_id_rep(spark):
    from mashspark.urls import url_dedup, url_dup_groups

    rows = [
        (10, "https://a.com/x?utm_source=1"),
        (11, "https://www.a.com/x"),
        (12, "https://a.com/y"),
        (13, "https://a.com/x/"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    kept = sorted(r.doc_id for r in url_dedup(df).collect())
    assert kept == [10, 12]
    groups = url_dup_groups(df).collect()
    assert len(groups) == 1
    assert groups[0].n_docs == 3 and groups[0].min_doc_id == 10


def test_extract_text_byte_identical_per_url(spark):
    """input_hint invariant: extracted text is a pure function of the html
    bytes — re-extracting the synthetic corpus's html reproduces its text
    column byte-for-byte at any partitioning."""
    from mashspark.extract import extraction_invariant_violations
    from mashspark.webtext import webtext_spark_df

    docs = webtext_spark_df(spark, n_base=40, seed=9)
    assert extraction_invariant_violations(docs).count() == 0
    assert extraction_invariant_violations(docs.repartition(7)).count() == 0


def test_extract_text_handles_markup(spark):
    from mashspark.extract import extract_text

    rows = [
        (1, b"<html><head><script>var x=1; if (x<2) {}</script>"
            b"<style>a { color: red }</style></head>"
            b"<body><h1>Title</h1>\n<p>hello   <b>world</b></p>"
            b"<!-- hidden --> a &amp;lt; b &amp; c &lt;tag&gt;</body></html>"),
        (2, b"plain text no markup"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html binary")
    got = {r.doc_id: r.text for r in extract_text(df).collect()}
    # &amp;lt; decodes to the literal text "&lt;" (no double decode)
    assert got[1] == "Title hello world a &lt; b & c <tag>"
    assert got[2] == "plain text no markup"


# --- IVF ANN (coarse-quantizer scale path) ---


def _synth_embeddings(spark, n_clusters=6, per_cluster=40, dim=32, seed=3):
    """Clustered unit vectors: n_clusters well-separated directions with
    small within-cluster noise, so true neighbors share a cluster."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(n_clusters):
        pts = centers[c] + 0.08 * rng.standard_normal((per_cluster, dim))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        for p in pts:
            rows.append((vid, [float(x) for x in p], c))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_ivf_train_converges_and_is_deterministic(spark):
    """Lloyd iterations must strictly improve (or hold) mean max-cosine to
    the quantizer, and two trainings of the same input must be identical
    (deterministic init + deterministic partials combine)."""
    from mashspark.ann import _normalize_rows, ivf_train

    vecs = _synth_embeddings(spark)
    mat = np.stack(
        [np.asarray(r.embedding, dtype=np.float64)
         for r in vecs.orderBy("vec_id").collect()]
    )
    mat = _normalize_rows(mat)

    def quality(cent):
        return (mat @ _normalize_rows(cent).T).max(axis=1).mean()

    c0 = ivf_train(vecs, n_lists=6, n_iters=0)
    c5 = ivf_train(vecs, n_lists=6, n_iters=5)
    assert quality(c5) >= quality(c0) - 1e-12
    c5b = ivf_train(vecs, n_lists=6, n_iters=5)
    np.testing.assert_allclose(c5, c5b, rtol=0, atol=0)


def test_ivf_search_recall_vs_bruteforce(spark):
    """Trained quantizer + nprobe=2 of 6 lists must recover >=95% of the
    exact top-5 on the clustered corpus (neighbors share the query's
    cluster, which a converged quantizer maps to one probed list); with
    nprobe = n_lists the probe set is everything, so IVF must equal
    brute force EXACTLY."""
    from mashspark.ann import ivf_search, ivf_train, knn_bruteforce

    vecs = _synth_embeddings(spark)
    queries = vecs.filter(F.col("vec_id") % 17 == 0)
    cent = ivf_train(vecs, n_lists=6, n_iters=5)

    exact = {
        (r.query_id, r.neighbor_id)
        for r in knn_bruteforce(vecs, queries, top_k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_search(vecs, queries, cent, top_k=5, nprobe=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.95, f"IVF nprobe=2 recall {recall:.3f}"

    full = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivf_search(vecs, queries, cent, top_k=5, nprobe=6).collect()
    }
    exact_ranked = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in knn_bruteforce(vecs, queries, top_k=5).collect()
    }
    assert full == exact_ranked


def test_ivf_assignment_prunes_scored_fraction(spark):
    """The list_id equi-join IS the pruning: with nprobe=2 of 6 lists on
    a balanced corpus, the scored candidate volume must be well under
    half of brute force's (the 100 TB argument, measured)."""
    from mashspark.ann import (ivf_train, make_ivf_assign_udf,
                               make_ivf_probe_udf)

    vecs = _synth_embeddings(spark)
    cent = ivf_train(vecs, n_lists=6, n_iters=5)
    n = vecs.count()
    assign = make_ivf_assign_udf(cent)
    probe = make_ivf_probe_udf(cent, 2)
    v = vecs.select("vec_id", assign(F.col("embedding")).alias("list_id"))
    q = (
        vecs.filter(F.col("vec_id") % 17 == 0)
        .select(F.col("vec_id").alias("qid"),
                F.explode(probe(F.col("embedding"))).alias("list_id"))
    )
    n_queries = vecs.filter(F.col("vec_id") % 17 == 0).count()
    scored = v.join(q, "list_id").count()
    assert scored < 0.5 * n * n_queries


# --- repetition / line-dedup operators ---


def test_repetition_signals_known_docs(spark):
    """Hand-computed duplicate-line fractions, including the all-unique
    and all-duplicate extremes and the empty doc."""
    from mashspark.repetition import repetition_signals

    rows = [
        (1, "aa\nbb\ncc"),          # no dups
        (2, "aa\nbb\naa"),          # 'aa' twice: 2 of 3 lines, 4 of 6 chars
        (3, "xx\nxx\nxx"),          # everything duplicated
        (4, ""),                    # one empty line, no dups
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_signals(df).collect()}
    assert (got[1].n_lines, got[1].n_dup_lines, got[1].dup_line_frac) == (3, 0, 0.0)
    assert (got[2].n_lines, got[2].n_dup_lines) == (3, 2)
    assert got[2].dup_line_frac == pytest.approx(2 / 3, abs=1e-6)
    assert got[2].dup_line_char_frac == pytest.approx(4 / 6, abs=1e-6)
    assert (got[3].n_dup_lines, got[3].dup_line_frac) == (3, 1.0)
    assert (got[4].n_lines, got[4].n_dup_lines) == (1, 0)


def test_top_ngram_stats_known_docs(spark):
    """Most-frequent bigram count: 'a b' occurs 3x in doc 1's 5 bigrams;
    a doc with <2 words has zero bigrams."""
    from mashspark.repetition import top_ngram_stats

    rows = [(1, "a b a b c a b"), (2, "only"), (3, "x y")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in top_ngram_stats(df, n=2).collect()}
    assert (got[1].n_ngrams, got[1].top_ngram_count) == (6, 3)
    assert (got[2].n_ngrams, got[2].top_ngram_count) == (0, 0)
    assert (got[3].n_ngrams, got[3].top_ngram_count) == (1, 1)


def test_remove_boilerplate_strips_shared_lines(spark):
    """Lines shared by >= min_docs distinct docs are stripped everywhere
    (every copy, including intra-doc repeats); order of survivors is
    preserved; a fully-boilerplate doc survives with cleaned=''."""
    from mashspark.repetition import boilerplate_lines, remove_boilerplate

    rows = [
        (1, "NAV\nreal content one\nNAV\nFOOTER"),
        (2, "NAV\nreal content two\nFOOTER"),
        (3, "NAV\nFOOTER"),
        (4, "unique only"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    boiler = {r.line: r.n_docs for r in boilerplate_lines(df, min_docs=3).collect()}
    assert boiler == {"NAV": 3, "FOOTER": 3}
    assert boilerplate_lines(df, min_docs=4).count() == 0
    got = {r.doc_id: r for r in remove_boilerplate(df, min_docs=2).collect()}
    assert got[1].cleaned == "real content one"
    assert got[1].n_lines_kept == 1
    assert got[2].cleaned == "real content two"
    assert got[3].cleaned == "" and got[3].n_lines_kept == 0
    assert got[4].cleaned == "unique only"


def test_boilerplate_count_is_distinct_docs(spark):
    """A line repeated many times INSIDE one doc counts that doc once."""
    from mashspark.repetition import boilerplate_lines

    rows = [(1, "x\nx\nx\nx"), (2, "x\ny")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.line: r.n_docs for r in boilerplate_lines(df, min_docs=2).collect()}
    assert got == {"x": 2}


def test_bpe_token_count_runs(spark):
    """Letter/digit/symbol run counting with edge cases pinned: mixed
    runs, punctuation clusters, empty and null text."""
    from mashspark.textstats import bpe_token_count

    rows = [
        (1, "hello world"),          # 2 letter runs
        (2, "abc123def"),            # letter, digit, letter
        (3, "a-b... c!"),            # a,-,b,...,c,! = 6 runs
        (4, ""),
        (5, None),
        (6, "2024 was 99% fine"),    # 2024,was,99,%,fine = 5
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.n for r in df.select(
        "doc_id", bpe_token_count(F.col("text")).alias("n")).collect()}
    assert got == {1: 2, 2: 3, 3: 6, 4: 0, 5: 0, 6: 5}


def test_gopher_quality_flags_rules(spark):
    """Each rule triggers on a doc constructed to violate exactly it."""
    from mashspark.repetition import gopher_quality_flags

    good = "the quick brown fox jumps over and past the lazy dog here " * 10
    rows = [
        (1, good),                                   # passes everything
        (2, "the cat sat"),                          # too few words
        (3, ("internationalization disproportionate " * 60).strip()),  # long words
        (4, good + "\ndup line\ndup line\ndup line\ndup line\ndup line"),
        (5, "xyzzy plugh " * 50),                    # no stopwords
        (6, good + " " + "#" * 40),                  # symbol storm
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in gopher_quality_flags(
        df, min_words=50, max_words=1000).collect()}
    assert got[1].keep
    assert not got[2].word_count_ok and not got[2].keep
    assert not got[3].mean_word_len_ok and not got[3].keep
    assert not got[4].dup_line_frac_ok and not got[4].keep
    assert not got[5].stopwords_ok and not got[5].keep
    assert not got[6].symbol_ratio_ok and not got[6].keep


def test_domain_stats_rollup(spark):
    """Per-host rollup: doc counts, distinct canonical urls, refetch-dup
    docs, and text volume — pinned against a hand-computed fixture."""
    from mashspark.urls import domain_stats

    rows = [
        # a.com: /x fetched twice (www variant), /y once
        (0, "https://a.com/x", "aaaa"),
        (1, "https://www.a.com/x#f", "bbb"),
        (2, "https://a.com/y?utm_source=t", "cc"),
        # b.com: one url fetched three times
        (3, "https://b.com/only", "d"),
        (4, "https://b.com/only/", "ee"),
        (5, "http://b.com/only", "fff"),  # http != https: NOT a dup
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    got = {r["host"]: r for r in domain_stats(df).collect()}
    assert set(got) == {"a.com", "b.com"}
    a = got["a.com"]
    assert (a["n_docs"], a["n_unique_urls"], a["n_dup_url_docs"],
            a["total_text_chars"]) == (3, 2, 2, 9)
    b = got["b.com"]
    assert (b["n_docs"], b["n_unique_urls"], b["n_dup_url_docs"],
            b["total_text_chars"]) == (3, 2, 2, 6)


# --- SemDeDup-style semantic dedup ---


def _synth_dup_embeddings(spark, dim=32, seed=9):
    """Planted semantic-dup groups: 4 groups of near-identical unit
    vectors (within-group cosine ~0.999) + 30 well-separated singletons."""
    rng = np.random.default_rng(seed)
    rows, vid = [], 0
    group_sizes = [4, 3, 2, 2]
    for g in group_sizes:
        base = rng.standard_normal(dim)
        base /= np.linalg.norm(base)
        for _ in range(g):
            p = base + 0.01 * rng.standard_normal(dim)
            p /= np.linalg.norm(p)
            rows.append((vid, [float(x) for x in p]))
            vid += 1
    for _ in range(30):
        p = rng.standard_normal(dim)
        p /= np.linalg.norm(p)
        rows.append((vid, [float(x) for x in p]))
        vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), group_sizes


def _bruteforce_semantic_groups(df, min_cos):
    """Numpy all-pairs + union-find oracle: {frozenset(group ids)} of
    size >= 2 components at the threshold."""
    from tests.oracle import UnionFind

    rows = df.orderBy("vec_id").collect()
    ids = [r.vec_id for r in rows]
    mat = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    uf = UnionFind(len(ids))
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if sims[i, j] >= min_cos:
                uf.union(i, j)
    groups = {}
    for i in range(len(ids)):
        groups.setdefault(uf.find(i), []).append(ids[i])
    return {frozenset(g) for g in groups.values() if len(g) >= 2}


def _groups_from_labels(rows):
    got = {}
    for r in rows:
        got.setdefault(r.rep_id, []).append(r.vec_id)
    return {frozenset(g) for g in got.values()}


def test_semantic_dedup_exact_matches_bruteforce(spark):
    """Exact path: components, representative choice (min id), sizes and
    is_rep flags all agree with the numpy union-find oracle."""
    from mashspark.ann import semantic_dedup

    df, _ = _synth_dup_embeddings(spark)
    out = semantic_dedup(df, min_cos=0.95, exact=True).collect()
    want = _bruteforce_semantic_groups(df, 0.95)
    assert _groups_from_labels(out) == want
    by_rep = {}
    for r in out:
        by_rep.setdefault(r.rep_id, []).append(r)
    for rep_id, members in by_rep.items():
        ids = {m.vec_id for m in members}
        assert rep_id == min(ids), "representative must be the min id"
        for m in members:
            assert m.cluster_size == len(ids)
            assert m.is_rep == (m.vec_id == rep_id)


def test_semantic_dedup_srp_path_recovers_planted_groups(spark):
    """Scale path (SRP OR-construction, t=8 tables x 6 bits): at
    within-group cosine ~0.999 the per-table agree probability is ~0.95,
    so the miss probability across 8 tables is ~1e-10 — every planted
    group must be recovered exactly, and no false groups can appear
    (exact cosine verification prunes bucket collisions)."""
    from mashspark.ann import semantic_dedup

    df, _ = _synth_dup_embeddings(spark)
    out = semantic_dedup(df, min_cos=0.95, n_bits=6, n_tables=8).collect()
    want = _bruteforce_semantic_groups(df, 0.95)
    assert _groups_from_labels(out) == want


def test_semantic_dedup_no_dups_yields_empty(spark):
    """A dup-free corpus produces zero rows (every doc is a singleton
    representative), not a crash on the empty edge list."""
    from mashspark.ann import semantic_dedup

    df, _ = _synth_dup_embeddings(spark)
    singles = df.filter(F.col("vec_id") >= 11)  # drop the planted groups
    assert semantic_dedup(singles, min_cos=0.95, exact=True).count() == 0


# --- LSH parameter tuning ---


def test_lsh_recall_closed_form_properties():
    from mashspark.lsh import lsh_recall

    assert lsh_recall(0.0, 128, 32) == 0.0
    assert lsh_recall(1.0, 128, 32) == 1.0
    # monotone in jaccard; the documented default operating points
    js = [0.1, 0.3, 0.5, 0.7, 0.9]
    rs = [lsh_recall(j, 128, 32) for j in js]
    assert all(a < b for a, b in zip(rs, rs[1:]))
    assert lsh_recall(0.7, 128, 32) > 0.999
    assert lsh_recall(0.1, 128, 32) < 0.05
    # more bands (fixed prefix) can only increase recall
    assert lsh_recall(0.5, 128, 64) > lsh_recall(0.5, 128, 16)


def test_tune_lsh_params_meets_target_and_is_minimal():
    from mashspark.lsh import lsh_recall, tune_lsh_params

    cfg, diag = tune_lsh_params(0.7, s=1000, target_recall=0.999)
    assert diag["predicted_recall"] >= 0.999
    assert diag["background_leak"] < 0.05
    assert cfg.bands & (cfg.bands - 1) == 0  # residue mask needs 2^k
    assert cfg.prefix <= 1000
    # minimality: no admissible config with fewer bands exists
    for prefix in (32, 64, 128, 256, 512):
        for bands in (8, 16, 32, 64, 128, 256):
            if bands < cfg.bands and bands <= prefix <= 1000:
                assert lsh_recall(0.7, prefix, bands) < 0.999
    # impossible target must raise, not silently under-deliver
    with pytest.raises(ValueError):
        tune_lsh_params(0.02, s=32, target_recall=0.999999)


def test_tuned_config_recall_monte_carlo_real_band_keys():
    """The tuned config must deliver its promised recall on sketches run
    through the REAL band-key kernel: pairs constructed at jaccard 0.7
    (shared fraction m = 2*P*j/(1+j) of each prefix sketch) collide in
    >= target_recall of trials, and background pairs at jaccard 0.1
    stay rare."""
    from mashspark.lsh import tune_lsh_params
    from mashspark.sketch import compute_band_keys

    cfg, _ = tune_lsh_params(0.7, s=1000, target_recall=0.999)
    rng = np.random.default_rng(17)

    def collide_rate(j, trials=400):
        p = cfg.prefix
        m = int(round(2 * p * j / (1 + j)))
        hits = 0
        for _ in range(trials):
            pool = rng.integers(0, 2**64, size=2 * p - m, dtype=np.uint64)
            shared, xa, xb = pool[:m], pool[m:p], pool[p:]
            ka = compute_band_keys(np.sort(np.r_[shared, xa]), cfg.bands)
            kb = compute_band_keys(np.sort(np.r_[shared, xb]), cfg.bands)
            if len(np.intersect1d(ka, kb)):
                hits += 1
        return hits / trials

    assert collide_rate(0.7) >= 0.99
    assert collide_rate(0.1) <= 0.10


# --- exact-substring span REMOVAL (Lee et al. cut step) ---


def _substr_corpus(spark):
    """Docs 0, 2, 3 share an 80-char block; docs 1, 4 are unique filler."""
    rng = np.random.default_rng(23)

    def words(n):
        return " ".join(
            "".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), 6))
            for _ in range(n)
        )

    block = "the exact same eighty byte long boilerplate block repeated " \
            "verbatim in three docs"
    rows = [
        (0, words(20) + " " + block + " " + words(20)),
        (1, words(45)),
        (2, words(25) + " " + block + " " + words(15)),
        (3, block + " " + words(40)),
        (4, words(45)),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string"), block


def test_remove_shared_spans_keeps_one_occurrence(spark):
    from mashspark.substring import remove_shared_spans, substring_dup_pairs

    docs, block = _substr_corpus(spark)
    cleaned = remove_shared_spans(docs, min_len=40, stride=1)
    got = {r.doc_id: r for r in cleaned.collect()}
    assert len(got) == 5
    # smallest doc id keeps its occurrence; others lose theirs
    assert block in got[0].text and got[0].n_removed_bytes == 0
    for d in (2, 3):
        assert block not in got[d].text
        assert got[d].n_removed_bytes >= len(block)
        assert got[d].n_removed_spans >= 1
    # untouched docs pass through byte-identical
    orig = {r.doc_id: r.text for r in docs.collect()}
    assert got[1].text == orig[1] and got[4].text == orig[4]
    # the cleaned corpus has NO cross-document repeat >= min_len left
    again = substring_dup_pairs(
        cleaned.select("doc_id", "text"), min_len=40, stride=1)
    assert again.count() == 0


def test_remove_shared_spans_snaps_to_utf8_boundaries(spark):
    from mashspark.substring import remove_shared_spans

    shared = "αβγδε ζηθικ λμνξο πρστυ φχψω αβγδε ζηθικ λμνξο"  # 2-byte chars
    rows = [
        (0, "first unique prefix " + shared + " first unique suffix"),
        (1, "second distinct intro " + shared + " second distinct outro"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           remove_shared_spans(docs, min_len=30, stride=1).collect()}
    assert shared in got[0].text
    assert shared not in got[1].text
    # output is valid text containing the intact unique parts
    assert "second distinct intro" in got[1].text.replace("  ", " ") or \
           "second distinct" in got[1].text


# --- hashing-TF text vectors -> semantic dedup bridge ---


def test_hashing_tf_vectors_semantic_dedup_bridge(spark):
    """Raw text -> hashing-TF vectors -> semantic_dedup groups the
    near-identical texts and leaves distinct ones alone; vectors are
    L2-normalized and deterministic across partitionings."""
    from mashspark.ann import semantic_dedup
    from mashspark.textstats import hashing_tf_vectors

    base = ("the quick brown fox jumps over the lazy dog near the " * 8)
    rows = [
        (0, base + "riverbank today"),
        (1, base + "riverbank yesterday"),          # near-dup of 0
        (2, "completely different text about spark shuffles and "
            "partition pruning at terabyte scale " * 6),
        (3, ""),                                    # empty -> zero vector
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    vecs = hashing_tf_vectors(docs, dim=128).withColumnRenamed(
        "doc_id", "vec_id")
    got = {r.vec_id: np.asarray(r.embedding) for r in vecs.collect()}
    for vid in (0, 1, 2):
        assert abs(np.linalg.norm(got[vid]) - 1.0) < 1e-5
    assert np.linalg.norm(got[3]) == 0.0
    assert float(got[0] @ got[1]) > 0.95
    assert float(got[0] @ got[2]) < 0.5

    groups = semantic_dedup(vecs.filter("vec_id < 3"), min_cos=0.95,
                            exact=True).collect()
    assert {(r.vec_id, r.rep_id) for r in groups} == {(0, 0), (1, 0)}

    # determinism across partitionings (stateless hashing, no fit step)
    again = {r.vec_id: np.asarray(r.embedding)
             for r in hashing_tf_vectors(docs.repartition(5), dim=128)
             .withColumnRenamed("doc_id", "vec_id").collect()}
    for vid in got:
        np.testing.assert_allclose(got[vid], again[vid], rtol=0, atol=0)


# ---------------------------------------------------------------------------
# deterministic sampling (mashspark/sampling.py)
# ---------------------------------------------------------------------------


def _sample_docs(spark, n=400):
    rows = [(i, f"doc {i}", ["en", "de", "fr"][i % 3], f"src{i % 4}")
            for i in range(n)]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")


def test_split_assign_deterministic_and_partition_invariant(spark):
    """Same rows -> same split regardless of partitioning; fractions land
    near nominal; every row is assigned exactly one split."""
    from mashspark.sampling import split_assign

    docs = _sample_docs(spark)
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r.doc_id: r.split
         for r in split_assign(docs, fr).collect()}
    b = {r.doc_id: r.split
         for r in split_assign(docs.repartition(13), fr).collect()}
    assert a == b and len(a) == 400
    n_train = sum(1 for v in a.values() if v == "train")
    assert 0.7 * 400 < n_train < 0.9 * 400
    assert set(a.values()) == {"train", "val", "test"}


def test_split_assign_stable_under_append(spark):
    """Adding rows never reshuffles existing assignments (the property
    df.sample() lacks)."""
    from mashspark.sampling import split_assign

    fr = {"train": 0.8, "val": 0.2}
    small = {r.doc_id: r.split
             for r in split_assign(_sample_docs(spark, 100), fr).collect()}
    big = {r.doc_id: r.split
           for r in split_assign(_sample_docs(spark, 400), fr).collect()}
    assert all(big[k] == v for k, v in small.items())


def test_stratified_sample_rates(spark):
    """Per-stratum keep-rates honored (1.0 keeps all, 0.0 drops all,
    default applies to unlisted strata); deterministic across runs."""
    from mashspark.sampling import stratified_sample

    docs = _sample_docs(spark, 600)
    out = stratified_sample(
        docs, {"en": 1.0, "de": 0.0}, strata_col="lang", default_rate=0.5)
    got = out.groupBy("lang").count().collect()
    counts = {r.lang: r["count"] for r in got}
    assert counts.get("en") == 200
    assert "de" not in counts
    assert 50 < counts.get("fr", 0) < 150
    again = stratified_sample(
        docs, {"en": 1.0, "de": 0.0}, strata_col="lang", default_rate=0.5)
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in again.collect())


def test_group_topk_sample_shape_and_determinism(spark):
    """Exactly k per group (or the whole group when smaller), ranks
    1..k, repartition-invariant selection."""
    from mashspark.sampling import group_topk_sample

    docs = _sample_docs(spark, 200)  # 4 sources x 50
    out = group_topk_sample(docs, k=7, group_col="source").collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append((r.sample_rank, r.doc_id))
    assert set(by_src) == {"src0", "src1", "src2", "src3"}
    for ranks in by_src.values():
        assert sorted(r for r, _ in ranks) == list(range(1, 8))
    out2 = group_topk_sample(
        docs.repartition(11), k=7, group_col="source").collect()
    assert sorted((r.source, r.doc_id) for r in out) == sorted(
        (r.source, r.doc_id) for r in out2)
    # tiny group: returns the whole group
    tiny = spark.createDataFrame(
        [(1, "a", "en", "s"), (2, "b", "en", "s")],
        "doc_id long, text string, lang string, source string")
    assert group_topk_sample(tiny, k=7, group_col="source").count() == 2


def test_group_topk_plan_has_window_group_limit(spark):
    """Scale guard: the per-group sample must ride WindowGroupLimit
    (map-side partial top-k before the shuffle), not a full sort of
    every group."""
    from mashspark.sampling import group_topk_sample

    docs = _sample_docs(spark, 200)
    plan = group_topk_sample(docs, k=3, group_col="source")._jdf \
        .queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_mixture_plan_temperature_math(spark):
    """T=1 reproduces the raw weights; T->inf flattens toward uniform;
    epochs_per_doc = target_frac * total / n_docs."""
    from mashspark.sampling import mixture_plan

    docs = _sample_docs(spark, 400)  # 4 sources x 100
    w = {"src0": 0.6, "src1": 0.3, "src2": 0.1}
    t1 = {r.source: r for r in mixture_plan(docs, w, temperature=1.0).collect()}
    assert abs(t1["src0"].target_frac - 0.6) < 1e-12
    assert abs(t1["src0"].epochs_per_doc - 0.6 * 400 / 100) < 1e-9
    flat = {r.source: r.target_frac
            for r in mixture_plan(docs, w, temperature=100.0).collect()}
    assert max(flat.values()) - min(flat.values()) < 0.01
    with pytest.raises(ValueError):
        mixture_plan(docs, w, temperature=0.0)


# ---------------------------------------------------------------------------
# PII detection / redaction (mashspark/pii.py)
# ---------------------------------------------------------------------------


def test_pii_signals_counts_each_class(spark):
    from mashspark.pii import pii_signals

    rows = [
        (1, "mail a@b.com and c.d+x@e-f.org twice"),
        (2, "host 10.0.0.1 and 192.168.255.3"),
        (3, "ssn 123-45-6789 ok"),
        (4, "call +1 (555) 123-4567 or 44 555 123 4567"),
        (5, "perfectly clean text with no identifiers at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in pii_signals(df).collect()}
    assert got[1].n_email == 2 and got[1].has_pii
    assert got[2].n_ipv4 == 2
    assert got[3].n_ssn == 1
    assert got[4].n_phone == 2
    assert not got[5].has_pii
    assert got[5].n_email == got[5].n_ipv4 == got[5].n_ssn == got[5].n_phone == 0


def test_redact_pii_placeholders_and_counts(spark):
    from mashspark.pii import redact_pii

    rows = [
        (1, "write a@b.com from 10.0.0.1 re 123-45-6789"),
        (2, "clean"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in redact_pii(df).collect()}
    assert got[1].text == "write <EMAIL> from <IPV4> re <SSN>"
    assert got[1].n_redactions == 3
    assert got[2].text == "clean" and got[2].n_redactions == 0


def test_redact_pii_ssn_beats_phone_order(spark):
    """Pass order is fixed: a 3-2-4 id is typed SSN even though the
    phone pattern could consume overlapping digits."""
    from mashspark.pii import redact_pii

    df = spark.createDataFrame([(1, "id 123-45-6789 x")],
                               "doc_id long, text string")
    assert redact_pii(df).collect()[0].text == "id <SSN> x"


# ---------------------------------------------------------------------------
# unigram LM scoring (mashspark/lm.py)
# ---------------------------------------------------------------------------


def test_unigram_scores_match_numpy(spark):
    """Integer stats and the add-one-smoothed logprob agree with a
    direct numpy computation; OOV tokens contribute log(1/(N+V))."""
    import math

    from mashspark.lm import score_documents, unigram_counts

    train = [(0, "the cat sat"), (2, "the dog sat down")]
    score = [(0, "the cat sat"), (1, "the purple unicorn"), (3, "")]
    tdf = spark.createDataFrame(train, "doc_id long, text string")
    sdf = spark.createDataFrame(score, "doc_id long, text string")
    counts = unigram_counts(tdf)
    model = {r.token: r["count"] for r in counts.collect()}
    n_total, v = sum(model.values()), len(model)  # 7 tokens, 5 distinct
    assert (n_total, v) == (7, 5)
    got = {r.doc_id: r for r in score_documents(sdf, counts).collect()}
    # doc 0: all in-vocab; sum_count = the(2)+cat(1)+sat(2) = 5
    assert got[0].n_tokens == 3 and got[0].n_invocab == 3
    assert got[0].sum_count == 5
    want0 = (math.log(3 / 12) + math.log(2 / 12) + math.log(3 / 12)) / 3
    assert abs(got[0].logprob_per_token - want0) < 1e-12
    # doc 1: 'purple','unicorn' OOV
    assert got[1].n_tokens == 3 and got[1].n_invocab == 1
    assert got[1].sum_count == 2
    want1 = (math.log(3 / 12) + 2 * math.log(1 / 12)) / 3
    assert abs(got[1].logprob_per_token - want1) < 1e-12
    # doc 3: empty text -> no token rows at all (documented: empty docs
    # drop out of the per-token rollup; callers left-join if they need 0s)
    assert 3 not in got


def test_unigram_broadcast_and_shuffle_paths_agree(spark):
    from mashspark.lm import score_documents, unigram_counts

    docs = _sample_docs(spark, 300)
    counts = unigram_counts(docs.filter(F.col("doc_id") % 2 == 0))
    a = {r.doc_id: (r.n_tokens, r.n_invocab, r.sum_count)
         for r in score_documents(docs, counts, broadcast_counts=True).collect()}
    b = {r.doc_id: (r.n_tokens, r.n_invocab, r.sum_count)
         for r in score_documents(docs, counts, broadcast_counts=False).collect()}
    assert a == b and len(a) == 300


# ---------------------------------------------------------------------------
# TF-IDF / BM25 keywords (mashspark/keywords.py)
# ---------------------------------------------------------------------------


def test_tfidf_top_terms_hand_computed(spark):
    import math

    from mashspark.keywords import top_terms

    rows = [
        (1, "apple apple banana common"),
        (2, "banana cherry common"),
        (3, "cherry cherry cherry common"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_id, r.token): r
           for r in top_terms(df, k=2, scheme="tfidf").collect()}
    # doc 1: apple tf=2 df=1 -> 2*ln(4/2); banana tf=1 df=2 -> ln(4/3)
    r = got[(1, "apple")]
    assert (r.tf, r.df, r.term_rank) == (2, 1, 1)
    assert abs(r.score - 2 * math.log(4 / 2)) < 1e-12
    assert got[(1, "banana")].term_rank == 2
    # 'common' (df=3) never outranks the distinctive terms
    assert (1, "common") not in got
    # doc 3: cherry rank 1
    assert got[(3, "cherry")].term_rank == 1


def test_bm25_saturation_and_length_norm(spark):
    """BM25's tf saturation: tf=30 of a term scores < 30x its tf=1
    score; longer docs are penalized at equal tf."""
    from mashspark.keywords import top_terms

    rows = [
        (1, "term " * 30 + "pad"),
        (2, "term pad"),
        (3, "other words entirely distinct here"),
    ]
    df = spark.createDataFrame(
        [(i, t.strip()) for i, t in rows], "doc_id long, text string")
    got = {(r.doc_id, r.token): r.score
           for r in top_terms(df, k=5, scheme="bm25").collect()}
    assert got[(1, "term")] < 30 * got[(2, "term")]
    assert got[(1, "term")] > got[(2, "term")]  # still increasing in tf
    with pytest.raises(ValueError):
        top_terms(df, scheme="nope")


def test_top_terms_plan_has_window_group_limit(spark):
    from mashspark.keywords import top_terms

    docs = _sample_docs(spark, 50)
    plan = top_terms(docs, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


# ---------------------------------------------------------------------------
# trained quality classifier (mashspark/classify.py)
# ---------------------------------------------------------------------------


def test_quality_classifier_recovers_planted_rule(spark):
    """Plant a lexically separable rule (docs containing 'sparkle' are
    high-quality), train on half, score all: the classifier must
    recover the rule essentially perfectly at dim large enough to avoid
    fatal hash collisions."""
    from mashspark.classify import score_quality, train_quality_model

    rng = np.random.default_rng(11)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rows = []
    for i in range(300):
        words = [vocab[j] for j in rng.integers(0, len(vocab), 8)]
        label = 1 if i % 3 == 0 else 0
        if label:
            words[int(rng.integers(0, 8))] = "sparkle"
        rows.append((i, " ".join(words), label))
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    model = train_quality_model(
        df.filter(F.col("doc_id") % 2 == 0), dim=512)
    got = {r.doc_id: r for r in score_quality(df, model, dim=512).collect()}
    correct = sum(
        1 for i, (_, _, label) in enumerate(rows)
        if got[i].keep == bool(label))
    assert correct >= 297  # >=99% incl. held-out odd ids
    probs = [got[i].quality_prob for i in range(300)]
    assert all(0.0 <= p <= 1.0 for p in probs)


# ---------------------------------------------------------------------------
# batch cross-corpus dedup (pipeline.dedup_against)
# ---------------------------------------------------------------------------


def test_dedup_against_flags_planted_cross_dups(spark):
    """New docs that copy (exactly or with a small tail edit) a ref doc
    are flagged with the right dup_of; unrelated docs pass clean."""
    from mashspark.params import LSHParams, PipelineConfig, SketchParams
    from mashspark.pipeline import dedup_against
    from mashspark.webtext import webtext_spark_df

    cfg = PipelineConfig(
        sketch=SketchParams(k=21, s=256, seed=42),
        lsh=LSHParams(bands=32, prefix=64),
        jaccard_threshold=0.7,
    )
    ref = webtext_spark_df(spark, n_base=40, seed=1).select("doc_id", "text")
    ref_rows = {r.doc_id: r.text for r in ref.collect()}
    src_ids = sorted(ref_rows)[:10]
    new_rows = []
    for i, sid in enumerate(src_ids[:5]):  # exact copies
        new_rows.append((100_000 + i, ref_rows[sid], sid, True))
    for i, sid in enumerate(src_ids[5:]):  # near copies (small tail edit)
        new_rows.append(
            (100_100 + i, ref_rows[sid] + " tiny tail here", sid, False))
    fresh = webtext_spark_df(spark, n_base=15, seed=99).select(
        "doc_id", "text").collect()
    for i, r in enumerate(fresh):
        new_rows.append((200_000 + i, r.text, None, False))
    new = spark.createDataFrame(
        [(i, t) for i, t, _, _ in new_rows], "doc_id long, text string")

    res = dedup_against(new, ref, cfg)
    got = {r.doc_id: r for r in res.decisions.collect()}
    assert len(got) == len(new_rows)
    for nid, _, sid, is_exact in new_rows:
        if sid is None:
            assert not got[nid].is_dup, f"{nid} false positive"
            assert got[nid].dup_of is None
        else:
            assert got[nid].is_dup, f"{nid} missed"
            assert got[nid].dup_of in ref_rows
            if is_exact:
                # exact copy: jaccard 1.0 vs the source beats any other
                # family member, so dup_of is pinned
                assert got[nid].dup_of == sid
                assert abs(got[nid].jaccard - 1.0) < 1e-12
    m = res.metrics.collect()[0]
    assert m.n_dropped_buckets == 0
    res.release()


def test_dedup_against_accepts_prebuilt_ref_sketches(spark):
    """Passing a committed ref sketch table skips re-sketching and
    yields identical decisions; incompatible params are refused (F6)."""
    from mashspark.params import (LSHParams, PipelineConfig, SketchParams)
    from mashspark.pipeline import dedup_against
    from mashspark.sketch import sketch_documents
    from mashspark.webtext import webtext_spark_df

    cfg = PipelineConfig(
        sketch=SketchParams(k=21, s=256, seed=42),
        lsh=LSHParams(bands=32, prefix=64),
        jaccard_threshold=0.7,
    )
    ref = webtext_spark_df(spark, n_base=20, seed=1).select("doc_id", "text")
    new = ref.select((F.col("doc_id") + 500).alias("doc_id"), "text")
    sk_ref = sketch_documents(ref, cfg.sketch, cfg.lsh)
    a = {r.doc_id: (r.is_dup, r.dup_of)
         for r in dedup_against(new, ref, cfg).decisions.collect()}
    b = {r.doc_id: (r.is_dup, r.dup_of)
         for r in dedup_against(new, None, cfg,
                                ref_sketches=sk_ref).decisions.collect()}
    assert a == b and all(v[0] for v in a.values())
    bad = sketch_documents(ref, SketchParams(k=17, s=256, seed=42),
                           cfg.lsh)
    with pytest.raises(ValueError):
        dedup_against(new, None, cfg, ref_sketches=bad)


def test_select_representatives_argmax_with_tiebreak(spark):
    """Highest score wins; equal scores -> lowest id; singleton clusters
    keep their only member."""
    from mashspark.pipeline import select_representatives

    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 40), (5, 50), (6, 50)],
        "doc_id long, cluster_id long")
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (4, 0.1), (5, 0.5), (6, 0.5)],
        "doc_id long, score double")
    got = {r.cluster_id: (r.rep_id, r.rep_score)
           for r in select_representatives(clusters, scores).collect()}
    assert got[10] == (2, 0.9)   # max score, tie vs 3 -> lower id
    assert got[40] == (4, 0.1)   # singleton
    assert got[50] == (5, 0.5)   # tie -> lower id


def test_epoch_shuffle_deterministic_balanced_and_epoch_varying(spark):
    """Same epoch -> identical layout; different epoch -> different
    permutation; range buckets are balanced for a uniform key."""
    from mashspark.sampling import epoch_shuffle

    docs = _sample_docs(spark, 800)
    a = epoch_shuffle(docs, epoch=1, num_partitions=8)
    b = epoch_shuffle(docs, epoch=1, num_partitions=8)
    order_a = [r.doc_id for r in a.select("doc_id").collect()]
    order_b = [r.doc_id for r in b.select("doc_id").collect()]
    assert order_a == order_b
    c = [r.doc_id for r in
         epoch_shuffle(docs, epoch=2, num_partitions=8)
         .select("doc_id").collect()]
    assert c != order_a and sorted(c) == sorted(order_a)
    assert order_a != sorted(order_a)  # actually permuted
    sizes = (
        a.withColumn("p", F.spark_partition_id())
        .groupBy("p").count().collect()
    )
    counts = [r["count"] for r in sizes]
    assert len(counts) == 8 and min(counts) > 0.5 * max(counts)


def test_bigram_lm_scores_match_numpy(spark):
    """n=2 model: bigram counts and per-doc stats agree with a direct
    computation; docs with <2 tokens produce no bigram rows."""
    import math

    from mashspark.lm import score_documents, unigram_counts

    train = [(0, "a b a b c"), (1, "b c d")]
    tdf = spark.createDataFrame(train, "doc_id long, text string")
    counts = {r.token: r["count"]
              for r in unigram_counts(tdf, n=2).collect()}
    # bigrams: doc0: "a b","b a","a b","b c"; doc1: "b c","c d"
    assert counts == {"a b": 2, "b a": 1, "b c": 2, "c d": 1}
    n_total, v = 6, 4
    score = [(10, "a b c"), (11, "z"), (12, "x y")]
    sdf = spark.createDataFrame(score, "doc_id long, text string")
    got = {r.doc_id: r
           for r in score_documents(sdf, unigram_counts(tdf, n=2),
                                    n=2).collect()}
    # doc 10 bigrams: "a b"(2), "b c"(2) -> all in vocab
    assert got[10].n_tokens == 2 and got[10].n_invocab == 2
    assert got[10].sum_count == 4
    want = (math.log(3 / (n_total + v)) * 2) / 2
    assert abs(got[10].logprob_per_token - want) < 1e-12
    assert 11 not in got            # single token: no bigrams
    assert got[12].n_invocab == 0   # OOV bigram
    assert got[12].sum_count == 0


def test_lm_scoring_plan_broadcasts_model_and_partial_aggs(spark):
    """Scale guard: with broadcast_counts=True the model join is a
    BroadcastHashJoin (no fat shuffle of the corpus terms against the
    model) and every aggregate has a map-side partial phase."""
    from mashspark.lm import score_documents, unigram_counts

    docs = _sample_docs(spark, 100)
    model = unigram_counts(docs.filter(F.col("doc_id") % 2 == 0))
    plan = score_documents(docs, model, broadcast_counts=True)._jdf \
        .queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan and "partial_count" in plan
    assert "SortMergeJoin" not in plan


def test_pii_plan_is_map_only(spark):
    """PII detection/redaction must stay a pure projection over the
    scan — no Exchange anywhere in the plan."""
    from mashspark.pii import pii_signals, redact_pii

    docs = _sample_docs(spark, 50)
    for df in (pii_signals(docs), redact_pii(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "ArrowEvalPython" not in plan  # JVM regex, not python


def test_perplexity_buckets_match_numpy_terciles(spark):
    """Exact-percentile bucketing agrees with numpy type-7 quantiles:
    bucket 0 holds the scores >= q(2/3), bucket 2 the scores < q(1/3),
    and the buckets partition the corpus."""
    from mashspark.lm import perplexity_buckets

    rng = np.random.RandomState(7)
    scores = rng.uniform(0, 100, size=301)
    df = spark.createDataFrame(
        [(int(i), float(s)) for i, s in enumerate(scores)],
        "doc_id long, score double")
    got = {r.doc_id: r.bucket
           for r in perplexity_buckets(df, "score", exact=True).collect()}
    c1, c2 = np.quantile(scores, [1 / 3, 2 / 3])  # numpy default: type 7
    want = {i: (0 if s >= c2 else 1 if s >= c1 else 2)
            for i, s in enumerate(scores)}
    assert got == want
    sizes = sorted(
        np.bincount(np.array(list(got.values()), dtype=int)).tolist())
    assert sizes == [100, 100, 101]


def test_perplexity_buckets_degenerate_and_null(spark):
    """All-equal scores collapse into bucket 0; NULL scores are routed
    to the tail bucket."""
    from mashspark.lm import perplexity_buckets

    df = spark.createDataFrame(
        [(0, 5.0), (1, 5.0), (2, 5.0), (3, None)],
        "doc_id long, score double")
    got = {r.doc_id: r.bucket
           for r in perplexity_buckets(df, "score", exact=True).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 2}


def test_perplexity_buckets_assignment_is_map_only(spark):
    """Scale guard: after the one tiny cutoff aggregate, bucket
    assignment is a pure projection — no Window (i.e. no global ntile
    sort) and no Exchange in the returned plan."""
    from mashspark.lm import perplexity_buckets

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 97).cast("double").alias("score"))
    plan = perplexity_buckets(df, "score")._jdf \
        .queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Exchange" not in plan


def test_latest_snapshot_recrawl_collapse(spark):
    """urls.latest_snapshot: newest fetch per canonical URL survives,
    timestamp ties break to the largest doc_id, NULL urls and NULL
    timestamps follow the documented rules."""
    from mashspark.urls import latest_snapshot

    rows = [
        # one canonical url, three fetches: doc 3 is newest
        (1, "https://a.com/x", 10), (2, "https://www.a.com/x", 30),
        (3, "https://a.com/x/", 40),
        # timestamp tie: larger id (12) wins
        (11, "https://a.com/y?utm_source=f", 7), (12, "https://www.a.com/y", 7),
        # NULL ts loses to any dated fetch
        (21, "https://a.com/z", None), (22, "https://a.com/z", 1),
        # NULL urls: both kept as-is
        (31, None, 5), (32, None, 6),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, warc_ts long")
    kept = sorted(r.doc_id for r in
                  latest_snapshot(df, ts_col="warc_ts").collect())
    assert kept == [3, 12, 22, 31, 32]


def test_url_dedup_keeps_null_urls(spark):
    """Regression: a NULL norm_url must not be treated as one duplicate
    group (the old equi-join silently DROPPED every url-less row)."""
    from mashspark.urls import url_dedup

    df = spark.createDataFrame(
        [(1, "https://a.com/x"), (2, "https://a.com/x"),
         (3, None), (4, None)],
        "doc_id long, url string")
    kept = sorted(r.doc_id for r in url_dedup(df).collect())
    assert kept == [1, 3, 4]


def test_snapshot_diff_statuses(spark):
    """urls.snapshot_diff: added/removed/changed classified per canonical
    URL, unchanged omitted, revisits collapsed to the newest fetch before
    diffing, NULL urls excluded (no cross-snapshot identity)."""
    from mashspark.urls import snapshot_diff

    old = spark.createDataFrame(
        [(1, "https://a.com/keep", "same text", 10),
         (2, "https://a.com/edit", "old body", 10),
         (3, "https://a.com/gone", "bye", 10),
         # revisit: newest (ts=20) is what the diff must compare
         (4, "https://a.com/multi", "stale", 10),
         (5, "https://www.a.com/multi", "fresh", 20),
         (6, None, "no url", 10)],
        "doc_id long, url string, text string, warc_ts long")
    new = spark.createDataFrame(
        [(11, "https://a.com/keep", "same text", 30),
         (12, "https://a.com/edit", "new body", 30),
         (14, "https://a.com/multi", "fresh", 30),
         (15, "https://a.com/born", "hi", 30),
         (16, None, "still no url", 30)],
        "doc_id long, url string, text string, warc_ts long")
    got = {r.norm_url: (r.status, r.old_doc_id, r.new_doc_id)
           for r in snapshot_diff(old, new, ts_col="warc_ts").collect()}
    assert got == {
        "https://a.com/edit": ("changed", 2, 12),
        "https://a.com/gone": ("removed", 3, None),
        "https://a.com/born": ("added", None, 15),
    }
    # keep (identical) and multi (newest copies identical) are absent;
    # null-url rows never appear
    assert "https://a.com/keep" not in got
    assert "https://a.com/multi" not in got


def test_snapshot_diff_null_text_is_change(spark):
    """eqNullSafe guard: text going NULL (or arriving NULL) is a change,
    not a silent 'unchanged'."""
    from mashspark.urls import snapshot_diff

    old = spark.createDataFrame(
        [(1, "https://a.com/x", None)], "doc_id long, url string, text string")
    new = spark.createDataFrame(
        [(2, "https://a.com/x", "now real")],
        "doc_id long, url string, text string")
    rows = snapshot_diff(old, new).collect()
    assert [(r.norm_url, r.status) for r in rows] == [
        ("https://a.com/x", "changed")]


def test_dedup_against_tie_breaks_on_original_ref_id_full_range(spark):
    """Tie-break contract at full-range int64 ids: identical ref docs
    whose ids straddle the shiftleft bit-63 wrap (2^62 encodes NEGATIVE
    while small positives stay positive) must still resolve dup_of to
    the lowest ORIGINAL ref id, not the lowest encoded id."""
    from mashspark.params import LSHParams, PipelineConfig, SketchParams
    from mashspark.pipeline import dedup_against
    from mashspark.webtext import webtext_spark_df

    cfg = PipelineConfig(
        sketch=SketchParams(k=21, s=256, seed=42),
        lsh=LSHParams(bands=32, prefix=64),
        jaccard_threshold=0.7,
    )
    text = webtext_spark_df(spark, n_base=1, seed=7).collect()[0].text
    big = 1 << 62  # encodes to Long.MIN|1 (negative) < enc(5)
    ref = spark.createDataFrame(
        [(big, text), (5, text), (-9, "totally unrelated filler " * 40)],
        "doc_id long, text string")
    new = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = dedup_against(new, ref, cfg).decisions.collect()
    assert len(got) == 1 and got[0].is_dup
    assert got[0].dup_of == 5, (
        f"tie must break on original ref id (5), got {got[0].dup_of}")


def _random_text(seed: int, n_words: int = 120) -> str:
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return " ".join("".join(rng.choice(letters, size=rng.integers(3, 9)))
                    for _ in range(n_words))


def test_dedup_against_ids_differing_in_bit_63(spark):
    """Ids of one corpus that differ only in bit 63 are distinct docs:
    each new copy resolves to its own source, not to the other one."""
    from mashspark.params import LSHParams, PipelineConfig, SketchParams
    from mashspark.pipeline import dedup_against

    cfg = PipelineConfig(
        sketch=SketchParams(k=21, s=256, seed=42),
        lsh=LSHParams(bands=32, prefix=64),
        jaccard_threshold=0.7,
    )
    text_a, text_b = _random_text(1), _random_text(2)
    far = 5 - (1 << 63)
    ref = spark.createDataFrame([(5, text_a), (far, text_b)],
                                "doc_id long, text string")
    new = spark.createDataFrame([(1, text_a), (2, text_b)],
                                "doc_id long, text string")
    res = dedup_against(new, ref, cfg)
    got = {r.doc_id: (r.is_dup, r.dup_of) for r in res.decisions.collect()}
    res.release()
    assert got == {1: (True, 5), 2: (True, far)}


def test_dedup_against_band_reduction_paths_match(spark, monkeypatch):
    """The reference's band entries are filtered to the slice's keys
    against a broadcast of them (default threshold) or the bucket sizes
    of both sides are shuffled (broadcasting disabled). With a bucket cap
    small enough to drop bands, both give identical decisions and an
    identical metrics row."""
    from mashspark import verify as V
    from mashspark.params import LSHParams, PipelineConfig, SketchParams
    from mashspark.pipeline import dedup_against
    from mashspark.webtext import webtext_spark_df

    cfg = PipelineConfig(
        sketch=SketchParams(k=21, s=256, seed=42),
        lsh=LSHParams(bands=32, prefix=64, hard_bucket_cap=2),
        jaccard_threshold=0.7,
    )
    ref = webtext_spark_df(spark, n_base=30, seed=1).select("doc_id", "text")
    new = (ref.filter(F.col("doc_id") % 3 == 0)
           .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
           .unionByName(webtext_spark_df(spark, n_base=5, seed=99)
                        .select("doc_id", "text")))
    key_probes = []
    probe = V.collect_at_most

    def spy(df, cap):
        out = probe(df, cap)
        if df.columns == ["band_key"]:
            key_probes.append(out is not None)
        return out

    monkeypatch.setattr(V, "collect_at_most", spy)

    def run():
        res = dedup_against(new, ref, cfg)
        dec = sorted(tuple(r) for r in res.decisions.collect())
        m = res.metrics.collect()[0]
        res.release()
        return dec, m

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    got, m_got = run()
    spark.conf.set(key, "-1")
    try:
        ref_dec, m_ref = run()
    finally:
        spark.conf.set(key, prev)
    assert key_probes == [True, False]
    assert m_got.n_dropped_buckets > 0
    assert m_got == m_ref
    assert got == ref_dec
    assert any(d[1] for d in got)
