"""Round-2 surfaces: counts pipeline (A2/A6/A7), screen p-value +
winner-take-all through the Spark op, containment (J6), param-compat
enforcement (F6), sinks (S6 TSV, S7 JSON dump, S8 Phylip, S9 paste),
bounds table, empty-edge CC, and the scale-safe mixture set size."""

import json
import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from mashspark import compare, minhash
from mashspark.hashing import decode_sketch_bytes, encode_signed
from mashspark.params import LSHParams, SketchParams
from mashspark.webtext import webtext_spark_df
from tests.conftest import REF, golden_sketch, requires_reference

K, S, SEED = 21, 1000, 42
KMER_SPACE = 4.0**21


@pytest.fixture(scope="module")
def docs(spark):
    return webtext_spark_df(spark, n_base=12, seed=7).select(
        "doc_id", "text"
    ).persist()


# ---------------------------------------------------------------------------
# A2/A6/A7: counts pipeline
# ---------------------------------------------------------------------------


def test_sketch_with_counts_matches_numpy(spark, docs):
    from mashspark.sketch import sketch_documents_with_counts

    sp = SketchParams(k=21, s=64, seed=42)
    got = {
        r.doc_id: r
        for r in sketch_documents_with_counts(docs, sp).collect()
    }
    for row in docs.collect():
        sk, cnt = minhash.sketch_text_bytes(
            row.text.encode("utf-8"), 21, 64, 42, with_counts=True
        )
        g = got[row.doc_id]
        assert np.array_equal(decode_sketch_bytes(g.sketch), sk), row.doc_id
        assert list(g.counts) == list(cnt), row.doc_id


def test_count_histogram_and_coverage(spark):
    from mashspark.info import count_histogram, coverage_estimates
    from mashspark.sketch import sketch_documents_with_counts

    # doc with known multiplicities: shingle stream of "abc...":
    # text = (frag * 3) -> every surviving hash has multiplicity ~3
    frag = "the quick brown fox jumps over the lazy dog 0123456789 "
    d = spark.createDataFrame(
        [(1, frag * 3), (2, frag)], "doc_id long, text string"
    )
    sp = SketchParams(k=21, s=1000, seed=42)
    sk = sketch_documents_with_counts(d, sp).persist()

    hist = {
        (r.doc_id, r.multiplicity): r.n_hashes
        for r in count_histogram(sk).collect()
    }
    # doc 2 (single copy): all multiplicities 1
    assert all(m == 1 for (doc, m) in hist if doc == 2)
    # doc 1: dominated by multiplicity 3 (boundary shingles are rarer)
    n3 = hist.get((1, 3), 0)
    assert n3 > sum(v for (doc, m), v in hist.items() if doc == 1 and m != 3)

    cov = {r.doc_id: r.coverage for r in coverage_estimates(sk).collect()}
    # numpy oracle: mean multiplicity
    for doc_id, text in [(1, frag * 3), (2, frag)]:
        _, cnt = minhash.sketch_text_bytes(
            text.encode("utf-8"), 21, 1000, 42, with_counts=True
        )
        assert math.isclose(cov[doc_id], float(np.mean(cnt)), rel_tol=1e-12)
    sk.unpersist()


def test_min_cov_filter_through_spark(spark):
    """-m 2: hashes seen once are excluded (MinHashHeap.cpp:96-118)."""
    from mashspark.sketch import sketch_documents_with_counts

    frag = "abcdefghijklmnopqrstuvwxyz0123456789 repeat me twice please "
    d = spark.createDataFrame(
        [(1, frag + " unique tail xyzzy plugh " + frag)],
        "doc_id long, text string",
    )
    sp = SketchParams(k=21, s=1000, seed=42, min_cov=2)
    row = sketch_documents_with_counts(d, sp).collect()[0]
    assert len(row.counts) > 0
    assert all(c >= 2 for c in row.counts)


# ---------------------------------------------------------------------------
# J7: screen p-value + golden parity THROUGH the Spark op
# ---------------------------------------------------------------------------


def _golden_screen_rows():
    rows = []
    with open(os.path.join(REF, "test", "ref", "screen")) as f:
        for line in f:
            ident, shared, med, pval, name, _comment = line.split("\t", 5)
            c, d = shared.split("/")
            rows.append((float(ident), int(c), int(d), int(med), float(pval), name))
    return rows


@requires_reference
def test_screen_goldens_through_spark_op(spark, genomes_golden):
    """The reference's own `mash screen genomes.msh reads1.fastq
    reads2.fastq` fixture reproduced through screen() — the full Spark
    path (index explode, mixture hash UDF, mult aggregation, KMV set size,
    p-value UDF), not the numpy core."""
    from mashspark.dna import make_canonical_hashes_udf, read_fastq
    from mashspark.screen import screen

    # mixture: one row per FASTQ record (k-mers never cross records)
    seqs = []
    for f in ("reads1.fastq", "reads2.fastq"):
        seqs.extend(
            s.decode("ascii") for s in read_fastq(os.path.join(REF, "test", f))
        )
    mix = spark.createDataFrame(
        [(i, s) for i, s in enumerate(seqs)], "doc_id long, text string"
    )

    # refs: golden sketches as binary blobs
    name_by_id = {}
    rows = []
    for i, sk in enumerate(genomes_golden["sketches"]):
        h = golden_sketch(genomes_golden, i)
        rows.append((i, bytearray(encode_signed(h).astype("<i8").tobytes())))
        name_by_id[i] = sk["name"]
    refs = spark.createDataFrame(rows, "doc_id long, sketch binary")

    sp = SketchParams(k=K, s=S, seed=SEED, alphabet_size=4)
    out = screen(
        refs, mix, sp, with_pvalue=True,
        hashes_udf=make_canonical_hashes_udf(K, SEED),
    ).collect()
    got = {name_by_id[r.ref_id]: r for r in out}
    for ident_g, common_g, denom_g, med_g, pval_g, name in _golden_screen_rows():
        r = got[name]
        assert (r.shared, r.denom) == (common_g, denom_g), name
        assert r.median_multiplicity == med_g, name
        assert math.isclose(r.identity, ident_g, abs_tol=1e-6), name
        assert math.isclose(r.p_value, pval_g, rel_tol=5e-5), (name, r.p_value)


def test_screen_winner_take_all_tiebreak(spark):
    """WTA reallocation (CommandScreen.cpp:357-407): each mixture hash
    credits only the best-scoring ref; ties go to the LONGER ref."""
    from mashspark.screen import screen
    from mashspark.sketch import sketch_documents

    sp = SketchParams(k=21, s=128, seed=42)
    frag = "shared payload both references contain this exact fragment "
    extra = "ref a only content making it score higher on the mixture "
    # ref 1 = frag + extra (matches mixture better), ref 2 = frag only
    refs = spark.createDataFrame(
        [(1, (frag + extra) * 3), (2, frag * 3)], "doc_id long, text string"
    )
    mixture = spark.createDataFrame(
        [(10, (frag + extra) * 2)], "doc_id long, text string"
    )
    refs_sk = sketch_documents(refs, sp, LSHParams(bands=32))

    plain = {r.ref_id: r.shared for r in screen(refs_sk, mixture, sp).collect()}
    wta = {
        r.ref_id: r.shared
        for r in screen(refs_sk, mixture, sp, winner_take_all=True).collect()
    }
    # without WTA both refs get credit for the shared fragment
    assert plain.get(2, 0) > 0
    # with WTA ref 1 (higher identity) takes ALL shared hashes
    assert wta.get(2, 0) == 0
    assert wta[1] == plain[1]


def test_mixture_set_size_matches_numpy(spark):
    """The mixture set size ``screen(with_pvalue=True)`` uses: KMV over
    the all-shingle hash relation, per-partition bottom-s + driver merge."""
    from mashspark.minhash import bottom_k, kmv_set_size
    from mashspark.screen import _kmv_set_size_from_hashes, make_all_hashes_udf

    pdf_docs = [(i, f"document number {i} " + "common filler text " * 20)
                for i in range(30)]
    d = spark.createDataFrame(pdf_docs, "doc_id long, text string").repartition(4)
    hashes = d.select(F.explode(make_all_hashes_udf(21, 42)(F.col("text")))
                      .alias("hash"))
    got = _kmv_set_size_from_hashes(hashes, 100)

    from mashspark.hashing import hash_shingles_concat

    all_h = []
    for _, t in pdf_docs:
        b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
        # .copy(): hash_shingles_concat may return a view into a reused
        # per-process scratch buffer; holding results across calls needs one
        all_h.append(hash_shingles_concat(b, 21, 42).copy())
    expected = kmv_set_size(bottom_k(np.concatenate(all_h), 100))
    assert got == expected


# ---------------------------------------------------------------------------
# J1-J3 goldens THROUGH the Spark verify op
# ---------------------------------------------------------------------------


@requires_reference
def test_dist_goldens_through_spark_op(spark, genomes_golden):
    """Every genomes.dist row (distance, p-value, common/denom) reproduced
    by verify_pairs — the production Spark operator, not the numpy core."""
    import json as _json

    with open(os.path.join(REF, "test", "ref", "reads.json")) as f:
        reads_golden = _json.load(f)
    reads = golden_sketch(reads_golden, 0)
    reads_len = reads_golden["sketches"][0]["length"]

    rows = [(100, bytearray(encode_signed(reads).astype("<i8").tobytes()),
             int(reads_len))]
    name_by_id = {}
    for i, s in enumerate(genomes_golden["sketches"]):
        h = golden_sketch(genomes_golden, i)
        rows.append(
            (i, bytearray(encode_signed(h).astype("<i8").tobytes()),
             int(s["length"]))
        )
        name_by_id[i] = s["name"]
    sk = spark.createDataFrame(rows, "doc_id long, sketch binary, card_est long")
    cands = spark.createDataFrame(
        [(i, 100) for i in name_by_id], "id_a long, id_b long"
    )
    from mashspark.verify import verify_pairs

    sp = SketchParams(k=K, s=S, seed=SEED, alphabet_size=4)
    out = {
        name_by_id[r.id_a]: r
        for r in verify_pairs(
            cands, sk, sp, with_pvalue=True, prefix_filter=None
        ).collect()
    }
    golden = []
    with open(os.path.join(REF, "test", "ref", "genomes.dist")) as f:
        for line in f:
            ref, _q, dist, pval, shared = line.split("\t")
            c, d = shared.strip().split("/")
            golden.append((ref, float(dist), float(pval), int(c), int(d)))
    assert len(golden) > 0
    for name, dist_g, pval_g, common_g, denom_g in golden:
        r = out[name]
        assert (r.common, r.denom) == (common_g, denom_g), name
        assert math.isclose(r.mash_dist, dist_g, abs_tol=5e-6), name
        assert math.isclose(r.p_value, pval_g, rel_tol=5e-5), (name, r.p_value)


# ---------------------------------------------------------------------------
# J6: containment
# ---------------------------------------------------------------------------


def _contain_reference_loop(ref, query):
    """Direct transcription of containSketches (CommandContain.cpp:231-263)
    — the oracle the closed form must match."""
    common = 0
    denom = min(len(ref), len(query))
    i = j = steps = 0
    while steps < denom and i < len(ref):
        if ref[i] < query[j]:
            i += 1
            continue  # steps-- then steps++ cancels
        elif query[j] < ref[i]:
            j += 1
        else:
            i += 1
            j += 1
            common += 1
        steps += 1
    return common, j


def test_capped_merge_sorted_equivalence():
    """The verify hot path's sorted-merge kernel must equal the
    golden-tested capped_merge on every input shape."""
    rng = np.random.default_rng(7)
    cases = []
    for _ in range(300):
        na, nb = rng.integers(0, 50, size=2)
        pool = rng.choice(np.arange(200, dtype=np.uint64), size=120, replace=False)
        a = np.sort(rng.choice(pool, size=na, replace=False))
        b = np.sort(rng.choice(pool, size=nb, replace=False))
        s = int(rng.integers(1, 60))
        cases.append((a, b, s))
    cases.append((np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.uint64), 10))
    for a, b, s in cases:
        assert compare.capped_merge_sorted(a, b, s) == compare.capped_merge(a, b, s)


def test_contain_closed_form_vs_reference_loop():
    rng = np.random.default_rng(11)
    for trial in range(200):
        na, nb = rng.integers(1, 40, size=2)
        pool = rng.choice(np.arange(100, dtype=np.uint64), size=60, replace=False)
        a = np.sort(rng.choice(pool, size=na, replace=False))
        b = np.sort(rng.choice(pool, size=nb, replace=False))
        got = compare.contain_sketches(a, b)
        want = _contain_reference_loop(list(a), list(b))
        assert got == want, (trial, a, b)


def test_contain_pairs_spark(spark):
    from mashspark.sketch import sketch_documents
    from mashspark.verify import contain_pairs

    sp = SketchParams(k=21, s=200, seed=42)
    needle = "unique template fragment repeated for containment testing " * 5
    host = ("host page filler content words " * 30) + needle
    d = spark.createDataFrame(
        [(1, host), (2, needle), (3, "completely unrelated other page " * 20)],
        "doc_id long, text string",
    )
    sk = sketch_documents(d, sp, LSHParams(bands=32))
    cands = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    out = {(r.id_a, r.id_b): r for r in contain_pairs(cands, sk, sp).collect()}
    # needle (query side) is fully contained in host
    assert out[(1, 2)].containment > 0.9
    assert out[(1, 3)].containment < 0.2
    # numpy cross-check
    rows = {r.doc_id: decode_sketch_bytes(r.sketch) for r in sk.collect()}
    c, u = compare.contain_sketches(rows[1], rows[2])
    assert out[(1, 2)].common == c and out[(1, 2)].used == u


# ---------------------------------------------------------------------------
# F6: param-compat enforcement
# ---------------------------------------------------------------------------


def test_incompatible_params_raise(spark, docs):
    from mashspark.info import paste
    from mashspark.sketch import sketch_documents
    from mashspark.verify import verify_pairs

    sk21 = sketch_documents(docs, SketchParams(k=21, s=64), LSHParams())
    sk12 = sketch_documents(docs, SketchParams(k=12, s=64), LSHParams())
    cands = spark.createDataFrame([(0, 6)], "id_a long, id_b long")

    with pytest.raises(ValueError, match="incompatible"):
        verify_pairs(cands, sk21, SketchParams(k=12, s=64))
    with pytest.raises(ValueError, match="incompatible"):
        paste(sk21, sk12)
    # compatible params pass through
    assert verify_pairs(cands, sk21, SketchParams(k=21, s=64)).count() == 1
    assert paste(sk21, sk21).count() == 2 * docs.count()


def test_verify_pvalue_filter_and_screen_identity_min(spark, docs):
    """F2 (-v max-pvalue on dist) and F3 (-i min-identity on screen)
    exercised through the Spark ops."""
    from mashspark.screen import screen
    from mashspark.sketch import sketch_documents
    from mashspark.verify import verify_pairs

    sp = SketchParams(k=21, s=64)
    sk = sketch_documents(docs, sp, LSHParams())
    ids = sk.select("doc_id")
    cands = (
        ids.withColumnRenamed("doc_id", "id_a")
        .crossJoin(ids.withColumnRenamed("doc_id", "id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .limit(200)
    )
    allp = verify_pairs(cands, sk, sp, with_pvalue=True)
    n_all = allp.count()
    assert n_all > 0
    # p-values on random-ish text pairs are heavily bimodal; a mid cutoff
    # must drop the high-p (non-significant) pairs and keep the rest
    cutoff = 1e-3
    kept = verify_pairs(cands, sk, sp, max_pvalue=cutoff).count()
    manual = allp.filter(F.col("p_value") <= cutoff).count()
    assert kept == manual

    refs = docs.limit(3)
    refs_sk = sketch_documents(refs, sp, LSHParams())
    scr = screen(refs_sk, docs, sp)
    hi = scr.filter(F.col("identity") >= 0.99).count()
    assert screen(refs_sk, docs, sp, identity_min=0.99).count() == hi


def test_pvalue_columns_match_compare_formulas(spark, docs):
    """The p-value columns of ``verify_pairs`` and ``screen`` are
    ``compare.pvalue_dist`` (lengths clamped to >= 1) and
    ``compare.pvalue_screen`` (numpy KMV mixture set size), row by row."""
    from mashspark.hashing import hash_shingles_concat
    from mashspark.screen import screen
    from mashspark.sketch import sketch_documents
    from mashspark.verify import verify_pairs

    sp = SketchParams(k=21, s=64)
    sk = sketch_documents(docs, sp, LSHParams())
    card = {r.doc_id: r.card_est for r in sk.select("doc_id", "card_est").collect()}
    ids = sk.select("doc_id")
    cands = (
        ids.withColumnRenamed("doc_id", "id_a")
        .crossJoin(ids.withColumnRenamed("doc_id", "id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    rows = verify_pairs(cands, sk, sp, with_pvalue=True).collect()
    assert {r.common == 0 for r in rows} == {True, False}
    for r in rows:
        want = compare.pvalue_dist(r.common, max(card[r.id_a], 1),
                                   max(card[r.id_b], 1), sp.kmer_space, sp.s)[0]
        assert r.p_value == pytest.approx(want, rel=1e-9, abs=1e-300), r

    texts = [r.text for r in docs.collect()]
    hashes = np.concatenate([
        hash_shingles_concat(np.frombuffer(t.encode("utf-8"), np.uint8),
                             sp.k, sp.seed).copy()
        for t in texts])
    set_size = minhash.kmv_set_size(minhash.bottom_k(hashes, sp.s))
    refs_sk = sketch_documents(docs.limit(3), sp, LSHParams())
    scr = screen(refs_sk, docs, sp, with_pvalue=True).collect()
    assert scr
    for r in scr:
        want = compare.pvalue_screen(r.shared, set_size, sp.kmer_space,
                                     r.denom)[0]
        assert r.p_value == pytest.approx(want, rel=1e-9, abs=1e-300), r


def test_params_survive_parquet_roundtrip(spark, docs, tmp_path):
    from mashspark.params import params_from_schema
    from mashspark.sketch import sketch_documents

    sk = sketch_documents(docs, SketchParams(k=17, s=64, seed=9), LSHParams())
    p = str(tmp_path / "sk.parquet")
    sk.write.parquet(p)
    back = spark.read.parquet(p)
    got = params_from_schema(back)
    assert got is not None and got.k == 17 and got.seed == 9


# ---------------------------------------------------------------------------
# sinks: S6 TSV, S7 JSON dump, S8 Phylip, S9 paste
# ---------------------------------------------------------------------------


def test_sketch_json_dump_roundtrip(spark, docs):
    import base64

    from mashspark.info import sketch_json_dump
    from mashspark.sketch import sketch_documents

    sp = SketchParams(k=21, s=64, seed=42)
    sk = sketch_documents(docs, sp, LSHParams()).persist()
    dumped = sketch_json_dump(sk, sp).collect()
    by_id = {r.doc_id: decode_sketch_bytes(r.sketch) for r in sk.collect()}
    assert len(dumped) == len(by_id)
    for r in dumped:
        obj = json.loads(r.json)
        assert obj["params"]["kmer"] == 21
        assert obj["params"]["hashSeed"] == 42
        blob = base64.b64decode(obj["hashes_b64"])
        assert np.array_equal(
            decode_sketch_bytes(blob), by_id[obj["name"]]
        ), obj["name"]
    sk.unpersist()


def test_write_dist_tsv(spark, tmp_path):
    from mashspark.io import write_dist_tsv

    pairs = spark.createDataFrame(
        [(1, 2, 3, 1000, 0.05, 1e-10)],
        "id_a long, id_b long, common int, denom int, mash_dist double, p_value double",
    )
    p = str(tmp_path / "dist_tsv")
    write_dist_tsv(pairs, p)
    lines = spark.read.option("sep", "\t").csv(p).collect()
    assert len(lines) == 1
    vals = list(lines[0])
    assert vals[0] == "1" and vals[1] == "2"
    assert float(vals[2]) == 0.05
    assert float(vals[3]) == 1e-10
    assert vals[4] == "3/1000"


def test_phylip_triangle(spark):
    from mashspark.io import phylip_triangle

    pairs = spark.createDataFrame(
        [(1, 2, 0.1), (1, 3, 0.2), (2, 3, 0.3)],
        "id_a long, id_b long, mash_dist double",
    )
    text = phylip_triangle(pairs)
    lines = text.rstrip("\n").split("\n")
    assert lines[0] == "\t3"
    assert lines[1] == "1"
    assert lines[2].split("\t") == ["2", "0.1"]
    assert lines[3].split("\t") == ["3", "0.2", "0.3"]


def test_bounds_table_sanity():
    from mashspark.info import bounds_table

    rows = bounds_table(SketchParams(k=21, s=1000), prob=0.99)
    for r in rows:
        # the 99% interval must bracket zero error and be ordered
        assert r["err_low"] <= 0.0 <= r["err_high"]
    # tight regime: at d=0.05 (j~0.26, ~260 shared hashes) the bound is small
    assert abs(rows[0]["err_high"]) < 0.02 and abs(rows[0]["err_low"]) < 0.02
    # error grows with distance (fewer shared hashes -> noisier); at d=0.30
    # the 99% CI legitimately includes 0 shared -> err_high = 1 - d
    assert rows[0]["err_high"] - rows[0]["err_low"] < (
        rows[-1]["err_high"] - rows[-1]["err_low"]
    ) + 1e-9


# ---------------------------------------------------------------------------
# substring dedup (third north-rule family)
# ---------------------------------------------------------------------------


def test_substring_planted_repeat(spark):
    from mashspark.substring import substring_dup_spans

    rng = np.random.default_rng(2)

    def rand_text(n):
        return "".join(rng.choice(list("abcdefghij kmnopq")) for _ in range(n))

    shared = rand_text(230)
    rows = [
        (1, rand_text(300) + shared + rand_text(120)),
        (2, rand_text(80) + shared + rand_text(350)),
        (3, rand_text(600)),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    spans, metrics = substring_dup_spans(d, min_len=50, stride=16)
    got = spans.collect()
    pairs = {(r.id_a, r.id_b) for r in got}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)
    best = max(r.match_len for r in got if (r.id_a, r.id_b) == (1, 2))
    # content-defined anchor resolution: match_len is a lower bound, tight
    # to a few strides (geometric anchor spacing, mean = stride)
    assert 230 - 5 * 16 <= best <= 230
    m = metrics.collect()[0]
    assert m.n_capped_buckets == 0


def test_substring_stride1_matches_bruteforce(spark):
    """stride=1: pair reported iff the docs share an exact L-byte gram."""
    from mashspark.substring import substring_dup_pairs

    rng = np.random.default_rng(9)
    alphabet = list("abcdef ")
    texts = ["".join(rng.choice(alphabet) for _ in range(120)) for _ in range(12)]
    # plant one genuine share
    texts[4] = texts[4][:40] + texts[7][30:55] + texts[4][65:]
    L = 20
    d = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r.id_a, r.id_b)
        for r in substring_dup_pairs(d, min_len=L, stride=1).collect()
    }
    want = set()
    grams = [
        {t[i : i + L] for i in range(len(t) - L + 1)} for t in texts
    ]
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            if grams[i] & grams[j]:
                want.add((i, j))
    assert got == want
    assert want, "fixture must contain at least one shared gram"


# ---------------------------------------------------------------------------
# ANN: multi-table SRP recall gate
# ---------------------------------------------------------------------------


def test_srp_multitable_recall(spark):
    """OR-construction recall >= 0.95 for planted cos>=0.9 pairs (single
    table at the same total bit budget misses most of them)."""
    from mashspark.ann import embedding_dup_pairs

    rng = np.random.default_rng(3)
    dim, n_planted = 32, 60
    rows = []
    vid = 0
    planted = []
    for i in range(n_planted):
        base = rng.standard_normal(dim)
        base /= np.linalg.norm(base)
        noise = rng.standard_normal(dim) * 0.055  # |noise|~0.31 -> cos~0.95
        near = base + noise
        near /= np.linalg.norm(near)
        if float(base @ near) >= 0.9:
            planted.append((vid, vid + 1))
        rows.append((vid, [float(x) for x in base]))
        rows.append((vid + 1, [float(x) for x in near]))
        vid += 2
    # background vectors (near-orthogonal in expectation)
    for _ in range(200):
        v = rng.standard_normal(dim)
        v /= np.linalg.norm(v)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = {
        (r.id_a, r.id_b)
        for r in embedding_dup_pairs(
            vecs, min_cos=0.9, n_bits=6, n_tables=8, seed=11
        ).collect()
    }
    assert planted, "fixture must plant pairs"
    recall = sum(1 for p in planted if p in got) / len(planted)
    assert recall >= 0.95, (recall, len(planted))

    single = {
        (r.id_a, r.id_b)
        for r in embedding_dup_pairs(
            vecs, min_cos=0.9, n_bits=12, n_tables=1, seed=11
        ).collect()
    }
    recall_single = sum(1 for p in planted if p in single) / len(planted)
    # the whole point of the OR-construction:
    assert recall > recall_single


# ---------------------------------------------------------------------------
# CC: empty edge set (ADVICE high)
# ---------------------------------------------------------------------------


def test_cc_empty_edges(spark):
    from mashspark.cc import connected_components

    edges = spark.createDataFrame([], "src long, dst long")
    out = connected_components(edges)
    assert out.count() == 0
    assert set(out.columns) == {"doc_id", "cluster_id"}


def test_pipeline_dup_free_corpus(spark):
    """A corpus with NO duplicates must run end-to-end (round-1 crash:
    empty edge set -> CANNOT_INFER_EMPTY_SCHEMA)."""
    from mashspark.params import PipelineConfig
    from mashspark.pipeline import dedup_pipeline

    rows = [(i, f"totally unique document {i} " + f"payload {i} " * 30 +
             " ".join(f"w{i}x{j}" for j in range(40))) for i in range(12)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    res = dedup_pipeline(d, PipelineConfig(sketch=SketchParams(k=21, s=64)))
    clusters = res.clusters.collect()
    assert len(clusters) == 12
    assert all(r.doc_id == r.cluster_id for r in clusters)  # all singletons
    res.sketches.unpersist()
    res.exact_groups.unpersist()


def test_best_k_hits_tiebreak(spark):
    """F7: b best hits per query by distance; ties -> earlier ref id
    (find -b, CommandFind.cpp:37)."""
    from mashspark.verify import best_k_hits

    rows = [
        # query 1: dists 0.1(ref 5), 0.1(ref 2), 0.3(ref 9), 0.4(ref 1)
        (5, 1, 0.1), (2, 1, 0.1), (9, 1, 0.3), (1, 1, 0.4),
        # query 2: single hit
        (7, 2, 0.9),
    ]
    pairs = spark.createDataFrame(rows, "id_a long, id_b long, mash_dist double")
    out = best_k_hits(pairs, b=2)
    got = {(r["id_b"], r["id_a"]) for r in out.collect()}
    # query 1 keeps the two 0.1 hits, tie-broken to refs 2 and 5; query 2 keeps its one
    assert got == {(1, 2), (1, 5), (2, 7)}
    assert best_k_hits(pairs, b=3).filter("id_b = 1").count() == 3
