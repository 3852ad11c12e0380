"""CLI parity surface: every reference command (mash.cpp:23-37) through
``mashspark.cli.main`` on tiny deterministic fixtures, plus the exact
all-pairs ``cross_dist`` operator it is built on."""

import json
import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from mashspark import cli, compare
from mashspark.compare import capped_merge_sorted, mash_distance
from mashspark.hashing import decode_sketch_bytes
from mashspark.params import LSHParams, SketchParams
from mashspark.sketch import sketch_documents
from mashspark.verify import cross_dist

PARAMS = SketchParams(k=8, s=64)
FLAGS = ["-k", "8", "-s", "64"]


def _mkdocs(spark, path, rows):
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite").parquet(path)
    return path


@pytest.fixture(scope="module")
def docs_parquet(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("cli") / "docs.parquet")
    rows = []
    for i in range(12):
        fam = i % 6  # ids 6..11 duplicate 0..5
        rng = np.random.RandomState(100 + fam)
        words = [f"tok{fam}q{j}" for j in range(12)]  # disjoint vocab per family
        text = " ".join(words[rng.randint(0, len(words))] for _ in range(120))
        rows.append((i, text))
    return _mkdocs(spark, base, rows)


def test_cross_dist_matches_numpy(spark, docs_parquet):
    docs = spark.read.parquet(docs_parquet)
    sk = sketch_documents(docs, PARAMS, LSHParams())
    out = cross_dist(sk, sk, PARAMS, upper_only=True).toPandas()
    n = docs.count()
    assert len(out) == n * (n - 1) // 2
    blobs = {r["doc_id"]: r["sketch"] for r in sk.select("doc_id", "sketch").collect()}
    for _, row in out.sample(n=10, random_state=0).iterrows():
        a = np.sort(decode_sketch_bytes(bytes(blobs[row["id_a"]])))
        b = np.sort(decode_sketch_bytes(bytes(blobs[row["id_b"]])))
        common, denom = capped_merge_sorted(a, b, PARAMS.s)
        assert row["common"] == common and row["denom"] == denom
        assert math.isclose(row["mash_dist"], mash_distance(common, denom, PARAMS.k),
                            rel_tol=1e-12)
    # doc i and i+6 share a seed => identical text => distance 0
    ident = out[(out.id_a + 6) == out.id_b]
    assert (ident.mash_dist == 0.0).all() and len(ident) == 6

    # two tables whose ids overlap: even docs vs odd docs, each renumbered
    # from 0 (disjoint families), so id_a must read the first table and
    # id_b the second
    def half(parity):
        d = docs.filter(F.col("doc_id") % 2 == parity)
        return sketch_documents(d.withColumn("doc_id", F.expr("doc_id div 2")),
                                PARAMS, LSHParams())

    ref, qry = half(0), half(1)
    out = cross_dist(ref, qry, PARAMS).toPandas()
    assert len(out) == 6 * 6
    blobs = [{r["doc_id"]: r["sketch"] for r in t.select("doc_id", "sketch").collect()}
             for t in (ref, qry)]
    for _, row in out.iterrows():
        a = np.sort(decode_sketch_bytes(bytes(blobs[0][row["id_a"]])))
        b = np.sort(decode_sketch_bytes(bytes(blobs[1][row["id_b"]])))
        common, denom = capped_merge_sorted(a, b, PARAMS.s)
        assert row["common"] == common and row["denom"] == denom
    # ref docs i and i+3 are identical, but no ref doc equals a query doc
    assert (out.mash_dist > 0.0).all()


def test_cli_sketch_info_paste(spark, docs_parquet, tmp_path, capsys):
    out = str(tmp_path / "sk.tbl")
    assert cli.main(["sketch", *FLAGS, "-o", out, docs_parquet]) == 0
    assert os.path.isdir(os.path.join(out, "_manifest"))
    # resume: a second run must skip every committed bucket (no rewrite)
    mtimes = {f: os.path.getmtime(os.path.join(out, "_manifest", f))
              for f in os.listdir(os.path.join(out, "_manifest"))}
    assert cli.main(["sketch", *FLAGS, "-o", out, docs_parquet]) == 0
    for f, t in mtimes.items():
        assert os.path.getmtime(os.path.join(out, "_manifest", f)) == t

    capsys.readouterr()
    assert cli.main(["info", out]) == 0
    txt = capsys.readouterr().out
    assert "kmer\t8" in txt and "sketch_size\t64" in txt
    # 12 per-sketch cardinality lines after the 6 header lines
    assert len([ln for ln in txt.strip().splitlines() if ln]) == 6 + 12

    capsys.readouterr()
    assert cli.main(["info", "-d", out]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 12
    rec = json.loads(lines[0])
    assert rec["params"]["kmer"] == 8 and rec["params"]["hashSeed"] == 42

    pasted = str(tmp_path / "pasted.tbl")
    assert cli.main(["paste", "-o", pasted, out, out]) == 0
    n = spark.read.parquet(os.path.join(pasted, "bucket=*")).count()
    assert n == 24  # paste keeps both copies, like cat-ing .msh files

    # mismatched params are refused at load (Sketch.cpp:133-160)
    with pytest.raises(Exception):
        cli.main(["dist", "-k", "12", "-s", "64", out, out])


def test_cli_dist_and_best(spark, docs_parquet, tmp_path, capsys):
    sk = str(tmp_path / "sk.tbl")
    cli.main(["sketch", *FLAGS, "-o", sk, docs_parquet])
    capsys.readouterr()
    # sketch table as ref, raw docs as query (mash accepts fasta for .msh)
    assert cli.main(["dist", *FLAGS, sk, docs_parquet]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 12 * 12
    # stdout emits the DataFrame columns: id_a id_b common denom jaccard mash_dist p_value
    assert len(lines[0].split("\t")) == 7
    capsys.readouterr()
    assert cli.main(["dist", *FLAGS, "-d", "0.05", "-b", "1", sk, docs_parquet]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 12  # best-1 hit per query is its identical twin/self
    # distributed TSV sink
    tsv = str(tmp_path / "dist.tsv")
    assert cli.main(["dist", *FLAGS, "-o", tsv, sk, sk]) == 0
    got = spark.read.option("sep", "\t").csv(tsv).count()
    assert got == 144


def test_cli_triangle(spark, docs_parquet, capsys):
    capsys.readouterr()
    assert cli.main(["triangle", *FLAGS, "-E", docs_parquet]) == 0
    edges = capsys.readouterr().out.strip().splitlines()
    assert len(edges) == 12 * 11 // 2
    capsys.readouterr()
    assert cli.main(["triangle", *FLAGS, docs_parquet]) == 0
    phylip = capsys.readouterr().out.splitlines()
    assert phylip[0].strip() == "12"
    assert len(phylip) == 13
    # row i has i distances
    assert len(phylip[3].split("\t")) == 1 + 2


def test_cli_screen_contain_bounds_dedup(spark, docs_parquet, tmp_path, capsys):
    capsys.readouterr()
    assert cli.main(["screen", *FLAGS, "-w", docs_parquet, docs_parquet]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert 0 < len(lines) <= 12
    for ln in lines:
        ident = float(ln.split("\t")[3])
        assert 0.0 <= ident <= 1.0

    capsys.readouterr()
    assert cli.main(["contain", *FLAGS, docs_parquet, docs_parquet]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 144
    # self-containment == 1.0
    for ln in lines:
        p = ln.split("\t")
        if p[0] == p[1]:
            assert float(p[4]) == 1.0

    capsys.readouterr()
    assert cli.main(["bounds", *FLAGS]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[3].startswith("distance") and len(out) == 3 + 1 + 6

    dd = str(tmp_path / "dedup.out")
    assert cli.main(["dedup", *FLAGS, "-o", dd, docs_parquet]) == 0
    clusters = spark.read.parquet(os.path.join(dd, "clusters"))
    assert clusters.count() == 12
    # 6 seed-pairs => 6 clusters of 2
    assert clusters.select("cluster_id").distinct().count() == 6
    m = json.loads(spark.read.json(os.path.join(dd, "metrics.json"))
                   .collect()[0]["metrics"])
    assert m["n_docs"] == 12 and m["n_clusters"] == 6


def test_cli_contain_tables_with_overlapping_ids(spark, tmp_path, capsys):
    """`contain` compares the reference and query tables in place: two
    tables that number their docs from the same ids keep their own
    sketches (a union of the two kept one arbitrary sketch per id)."""
    def words(tag, n):
        return " ".join(f"{tag}{j}" for j in range(n))

    ref_path = _mkdocs(spark, str(tmp_path / "ref.parquet"),
                       [(0, words("alpha", 60)), (1, words("beta", 60))])
    qry_path = _mkdocs(spark, str(tmp_path / "qry.parquet"),
                       [(0, words("alpha", 60) + " " + words("extra", 40)),
                        (1, words("delta", 60))])
    capsys.readouterr()
    assert cli.main(["contain", *FLAGS, ref_path, qry_path]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 4

    def own(path):
        sk = sketch_documents(spark.read.parquet(path), PARAMS, LSHParams())
        return {r["doc_id"]: np.sort(decode_sketch_bytes(bytes(r["sketch"])))
                for r in sk.select("doc_id", "sketch").collect()}

    ref, qry = own(ref_path), own(qry_path)
    for ln in lines:
        id_a, id_b, common, used, containment, _err = ln.split("\t")
        want = compare.contain_sketches(ref[int(id_a)], qry[int(id_b)])
        assert (int(common), int(used)) == want, ln
        assert float(containment) == (want[0] / want[1] if want[1] else 0.0)


def test_cli_stream_incremental(spark, docs_parquet, tmp_path, capsys):
    """mashspark stream: drain the fixture dir with availableNow, then a
    SECOND invocation with extra files resumes from the checkpoint and
    dedups the new docs against the persisted store."""
    import shutil

    indir = str(tmp_path / "incoming")
    os.makedirs(indir)
    docs = spark.read.parquet(docs_parquet)
    docs.filter("doc_id < 6").coalesce(1).write.mode("overwrite").parquet(
        indir + "/batch1")
    store = str(tmp_path / "store")
    argv = ["stream", *FLAGS, "--store", store]
    assert cli.main([*argv, indir + "/batch1"]) == 0
    dec1 = spark.read.parquet(os.path.join(store, "decisions"))
    assert dec1.count() == 6
    assert dec1.filter("dup_of is not null").count() == 0  # all novel

    # second run: twins of the first six arrive in the SAME input dir
    docs.filter("doc_id >= 6").coalesce(1).write.mode("overwrite").parquet(
        indir + "/batch1/_tmp2")
    for f in os.listdir(indir + "/batch1/_tmp2"):
        if f.endswith(".parquet"):
            shutil.move(os.path.join(indir, "batch1", "_tmp2", f),
                        os.path.join(indir, "batch1", "late_" + f))
    shutil.rmtree(indir + "/batch1/_tmp2")
    assert cli.main([*argv, indir + "/batch1"]) == 0
    dec2 = spark.read.parquet(os.path.join(store, "decisions"))
    assert dec2.count() == 12  # checkpoint resumed: first 6 not re-decided
    dups = {r["doc_id"]: r["dup_of"]
            for r in dec2.filter("dup_of is not null").collect()}
    assert dups == {i: i - 6 for i in range(6, 12)}  # each twin -> its original


def test_cli_tune_prints_solution(capsys):
    assert cli.main(["tune", "-j", "0.7", "-s", "1000", "-r", "0.999"]) == 0
    import json as _json

    out = _json.loads(capsys.readouterr().out.strip())
    assert out["predicted_recall"] >= 0.999
    assert out["bands"] & (out["bands"] - 1) == 0
    assert out["prefix"] <= 1000


def test_cli_dedup_against(spark, docs_parquet, tmp_path, capsys):
    """dedup-against flags the family copies of the ref corpus; the
    --ref-sketches path (committed sketch table) gives the same verdicts
    as re-sketching; missing ref args exit 2."""
    ref = str(tmp_path / "ref.parquet")
    # refs = family seeds (ids 0..5); new = the copies (ids 6..11)
    spark.read.parquet(docs_parquet).filter("doc_id < 6").write.mode(
        "overwrite").parquet(ref)
    new = str(tmp_path / "new.parquet")
    spark.read.parquet(docs_parquet).filter("doc_id >= 6").write.mode(
        "overwrite").parquet(new)

    out1 = str(tmp_path / "xd1.out")
    assert cli.main(["dedup-against", *FLAGS, "--ref", ref,
                     "-o", out1, new]) == 0
    dec = spark.read.parquet(os.path.join(out1, "decisions"))
    got = {r.doc_id: r.dup_of for r in dec.collect()}
    assert len(got) == 6
    for nid, rid in got.items():
        assert rid == nid - 6  # each copy maps to its family seed

    sk = str(tmp_path / "ref.sketches")
    assert cli.main(["sketch", *FLAGS, "-o", sk, ref]) == 0
    out2 = str(tmp_path / "xd2.out")
    assert cli.main(["dedup-against", *FLAGS, "--ref-sketches", sk,
                     "-o", out2, new]) == 0
    dec2 = spark.read.parquet(os.path.join(out2, "decisions"))
    assert {r.doc_id: r.dup_of for r in dec2.collect()} == got

    assert cli.main(["dedup-against", *FLAGS, "-o",
                     str(tmp_path / "xd3.out"), new]) == 2


def test_cli_route_perplexity_tiers(spark, docs_parquet, tmp_path, capsys):
    """route: LM-score + tier-split the corpus; output is partitioned
    by bucket, every input doc lands in exactly one tier, and the tier
    sizes printed to stderr agree with the parquet."""
    out = str(tmp_path / "routed")
    rc = cli.main(["route", "-b", "3", "-o", out, docs_parquet])
    assert rc == 0
    stderr = capsys.readouterr().err
    sizes = json.loads(stderr.strip().splitlines()[-1])["bucket_sizes"]
    routed = spark.read.parquet(out)
    assert routed.count() == 12
    assert set(routed.columns) >= {"doc_id", "text", "bucket"}
    got = {int(r.bucket): int(r.n) for r in
           routed.groupBy("bucket").count().withColumnRenamed(
               "count", "n").collect()}
    assert got == {int(k): v for k, v in sizes.items()}
    assert sum(got.values()) == 12
    # partition layout: one directory per tier
    assert sorted(d for d in os.listdir(out) if d.startswith("bucket=")) \
        == [f"bucket={b}" for b in sorted(got)]


def test_cli_select_dsir(spark, docs_parquet, tmp_path, capsys):
    """select: exact-mode DSIR keeps exactly --n-select docs, and with a
    target LM trained on family-0 vocabulary the family-0 docs (ids 0
    and 6) must win — their log-ratio dwarfs the Gumbel noise."""
    rng = np.random.RandomState(7)
    words = [f"tok0q{j}" for j in range(12)]
    target = _mkdocs(
        spark, str(tmp_path / "tgt.parquet"),
        [(1000 + i,
          " ".join(words[rng.randint(0, len(words))] for _ in range(120)))
         for i in range(3)])
    out = str(tmp_path / "selected")
    rc = cli.main(["select", "--target", target, "--n-select", "2",
                   "--mode", "exact", "-o", out, docs_parquet])
    assert rc == 0
    stderr = capsys.readouterr().err
    metrics = json.loads(stderr.strip().splitlines()[-1])
    assert metrics["n_selected"] == 2
    sel = spark.read.parquet(out)
    assert {r.doc_id for r in sel.select("doc_id").collect()} == {0, 6}
    assert set(sel.columns) >= {"doc_id", "text", "logratio", "gumbel_key"}


def test_cli_member_bloom(spark, docs_parquet, tmp_path, capsys):
    """member: exact membership flags through the Bloom prefilter —
    input docs whose text exists in the reference (the family copies of
    ids 0..2) flag true, everything else false."""
    ref = str(tmp_path / "mref.parquet")
    spark.read.parquet(docs_parquet).filter("doc_id < 3").write.mode(
        "overwrite").parquet(ref)
    out = str(tmp_path / "member.out")
    rc = cli.main(["member", "--ref", ref, "-o", out, docs_parquet])
    assert rc == 0
    metrics = json.loads(capsys.readouterr().err.strip().splitlines()[-1])
    assert metrics == {"n_docs": 12, "n_in_reference": 6, "exact": True}
    flags = {r.doc_id: r.in_reference
             for r in spark.read.parquet(out).collect()}
    # ids 0..2 are the reference itself; 6..8 are their family copies
    assert {i for i, v in flags.items() if v} == {0, 1, 2, 6, 7, 8}


def test_cli_tokenize_bpe(spark, docs_parquet, tmp_path, capsys):
    """tokenize: BPE train + encode through the CLI — encoded parquet
    and merge table written, token totals consistent, merges capped."""
    out = str(tmp_path / "tok")
    rc = cli.main(["tokenize", "-m", "16", "-o", out, docs_parquet])
    assert rc == 0
    metrics = json.loads(capsys.readouterr().err.strip().splitlines()[-1])
    assert metrics["n_docs"] == 12
    assert 0 < metrics["n_merges"] <= 16
    enc = spark.read.parquet(os.path.join(out, "encoded"))
    assert enc.count() == 12
    row = enc.filter("doc_id = 0").collect()[0]
    assert row.n_bpe_tokens == len(row.bpe_tokens)
    merges = spark.read.json(os.path.join(out, "merges"))
    assert merges.count() == metrics["n_merges"]
    assert set(merges.columns) >= {"rank", "left", "right"}


def test_cli_tokenize_unigram(spark, docs_parquet, tmp_path, capsys):
    """tokenize --model unigram: train + Viterbi encode through the CLI
    — encoded parquet and vocab table written, piece concatenation
    restores each doc's whitespace-stripped text."""
    out = str(tmp_path / "utok")
    rc = cli.main(["tokenize", "--model", "unigram", "--vocab-size", "48",
                   "--max-piece-len", "4", "-o", out, docs_parquet])
    assert rc == 0
    metrics = json.loads(capsys.readouterr().err.strip().splitlines()[-1])
    assert metrics["model"] == "unigram" and metrics["n_docs"] == 12
    enc = spark.read.parquet(os.path.join(out, "encoded"))
    assert enc.count() == 12
    docs = {r.doc_id: r.text for r in
            spark.read.parquet(docs_parquet).collect()}
    for r in enc.collect():
        assert "".join(r.pieces) == docs[r.doc_id].replace(" ", "")
        assert r.n_pieces == len(r.pieces)
    vocab = spark.read.json(os.path.join(out, "vocab"))
    assert vocab.count() == metrics["vocab_size"]
    assert set(vocab.columns) >= {"piece", "logp"}


def test_cli_profile(spark, docs_parquet, tmp_path, capsys):
    """profile: global summary JSON + per-stratum parquet. The fixture
    has 6 families duplicated once each: dedup headroom must be 6."""
    out = str(tmp_path / "prof")
    rc = cli.main(["profile", "--by", "", "-o", out, docs_parquet])
    assert rc == 0
    info = json.loads(capsys.readouterr().err.strip().splitlines()[-1])
    assert info["summary"]["n_docs"] == 12
    assert info["n_strata"] == 1  # no stratum columns -> one global row
    prof = spark.read.parquet(out).collect()
    assert len(prof) == 1
    assert prof[0].n_docs == 12
    assert prof[0].n_docs - prof[0].n_distinct_texts == 6


def test_cli_member_bloom_store_reuse(spark, docs_parquet, tmp_path, capsys):
    """member --bloom-store: first run builds and persists the filter;
    a second --no-confirm run needs no --ref and agrees on every true
    member (probe-only may add fpp false positives, never miss)."""
    ref = str(tmp_path / "sref.parquet")
    spark.read.parquet(docs_parquet).filter("doc_id < 3").write.mode(
        "overwrite").parquet(ref)
    store = str(tmp_path / "bstore")
    out1 = str(tmp_path / "m1.out")
    assert cli.main(["member", "--ref", ref, "--bloom-store", store,
                     "-o", out1, docs_parquet]) == 0
    exact = {r.doc_id for r in spark.read.parquet(out1).collect()
             if r.in_reference}
    out2 = str(tmp_path / "m2.out")
    assert cli.main(["member", "--bloom-store", store, "--no-confirm",
                     "-o", out2, docs_parquet]) == 0
    approx = {r.doc_id for r in spark.read.parquet(out2).collect()
              if r.in_reference}
    assert exact <= approx
    capsys.readouterr()
    # confirm mode without any ref source is a usage error
    assert cli.main(["member", "--bloom-store", store,
                     "-o", str(tmp_path / "m3.out"), docs_parquet]) == 2


def test_cli_ingest_wet(spark, tmp_path, capsys):
    """ingest: WET archive directory -> documents parquet with stable
    xxhash64(url) ids, text round-tripped byte-exactly."""
    from mashspark.webtext import webtext_spark_df
    from mashspark.wet import write_wet

    docs = webtext_spark_df(spark, n_base=10, seed=9).select("url", "text")
    wet = str(tmp_path / "arch")
    write_wet(docs, wet, num_files=2)
    out = str(tmp_path / "ingested")
    rc = cli.main(["ingest", "-o", out, wet])
    assert rc == 0
    info = json.loads(capsys.readouterr().err.strip().splitlines()[-1])
    n = docs.count()
    assert info["n_records"] == n and info["n_distinct_urls"] == n
    back = spark.read.parquet(out)
    assert set(back.columns) == {"doc_id", "url", "date", "text"}
    joined = docs.alias("a").join(back.alias("b"), "url")
    assert joined.filter("a.text <> b.text").count() == 0


def test_cli_ingest_warc(spark, tmp_path, capsys):
    """ingest --format warc: gzipped binary response archives ->
    documents parquet with extracted text and parsed timestamps."""
    from pyspark.sql import functions as F

    from mashspark.warc import write_warc
    from mashspark.webtext import webtext_spark_df

    docs = webtext_spark_df(spark, n_base=10, seed=9).select(
        "url",
        F.encode(F.concat(F.lit("<html><body><p>"), F.col("text"),
                          F.lit("</p></body></html>")), "UTF-8")
        .alias("html"),
    )
    arch = str(tmp_path / "warcarch")
    write_warc(docs, arch, num_files=2, compress=True,
               date="2026-03-04T05:06:07Z")
    out = str(tmp_path / "ingested_warc")
    rc = cli.main(["ingest", "--format", "warc", "-o", out, arch])
    assert rc == 0
    info = json.loads(capsys.readouterr().err.strip().splitlines()[-1])
    n = docs.count()
    assert info["n_records"] == n and info["n_distinct_urls"] == n
    back = spark.read.parquet(out)
    assert set(back.columns) == {"doc_id", "url", "warc_ts", "text"}
    src = webtext_spark_df(spark, n_base=10, seed=9).select("url", "text")
    joined = src.alias("a").join(back.alias("b"), "url")
    assert joined.filter("a.text <> b.text").count() == 0
    assert back.filter("warc_ts IS NULL").count() == 0


def test_cli_route_backoff(spark, docs_parquet, tmp_path, capsys):
    """route --backoff 2: Stupid-Backoff-scored tier routing — every
    doc lands in exactly one of 3 tiers, partition layout intact."""
    out = str(tmp_path / "routed_bo")
    rc = cli.main(["route", "-b", "3", "--backoff", "2", "-o", out,
                   docs_parquet])
    assert rc == 0
    sizes = json.loads(
        capsys.readouterr().err.strip().splitlines()[-1])["bucket_sizes"]
    routed = spark.read.parquet(out)
    assert routed.count() == 12
    assert sum(sizes.values()) == 12
    assert sorted(d for d in os.listdir(out) if d.startswith("bucket=")) \
        == [f"bucket={b}" for b in sorted(sizes)]


def test_cli_route_kn(spark, docs_parquet, tmp_path, capsys):
    """route --kn: Kneser-Ney-scored tier routing — every doc lands in
    exactly one of 3 tiers."""
    out = str(tmp_path / "routed_kn")
    rc = cli.main(["route", "-b", "3", "--kn", "-o", out, docs_parquet])
    assert rc == 0
    sizes = json.loads(
        capsys.readouterr().err.strip().splitlines()[-1])["bucket_sizes"]
    assert spark.read.parquet(out).count() == 12
    assert sum(sizes.values()) == 12


def test_cli_clean_funnel(spark, tmp_path, capsys):
    """clean: C4 line filters + boilerplate removal + span dedup over a
    corpus with a shared boilerplate line and duplicated spans; the
    funnel reports per-stage survivor counts and the output texts are
    genuinely cleaned."""
    from pyspark.sql import functions as F

    mk = lambda *lines: "\n".join(lines)  # noqa: E731
    boiler = "subscribe to our newsletter for more content updates."
    good = [f"this is perfectly good sentence number {i} of the page."
            for i in range(8)]
    rows = [
        (0, mk(good[0], good[1], good[2], boiler, good[3])),
        (1, mk(good[0], good[1], good[2], boiler, good[4])),  # shares a 3-span with 0
        (2, mk(good[5], boiler, good[6], good[7], "short.")),
        (3, mk("tiny.", "no!", "meh?")),   # all lines fail min_words
    ]
    src = str(tmp_path / "dirty.parquet")
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(src)
    out = str(tmp_path / "cleaned")
    rc = cli.main(["clean", "--min-docs", "3", "--span-n", "3",
                   "-o", out, src])
    assert rc == 0
    funnel = json.loads(
        capsys.readouterr().err.strip().splitlines()[-1])["funnel"]
    assert funnel["input"] == 4
    assert funnel["c4_lines"] == 3          # doc 3 dies (0 kept lines)
    assert funnel["span_dedup"] == 3
    back = {r["doc_id"]: r["text"] for r in
            spark.read.parquet(out).collect()}
    # boilerplate line (3 docs) stripped everywhere
    assert all(boiler not in t for t in back.values())
    # doc 0 keeps its span; doc 1 lost the duplicated 3-line span
    assert good[0] in back[0] and good[0] not in back[1]
    assert good[4] in back[1]


def test_cli_tiers_report(spark, docs_parquet, tmp_path, capsys):
    """tiers: the docs_parquet fixture has 6 exact-duplicate pairs
    (ids 6..11 copy 0..5), so the exact tier is non-empty and every
    doc appears exactly once in the report."""
    out = str(tmp_path / "tiers")
    rc = cli.main(["tiers", "-s", "256", "-o", out, docs_parquet])
    assert rc == 0
    info = json.loads(capsys.readouterr().err.strip().splitlines()[-1])
    assert sum(info["tier_counts"].values()) == 12
    assert info["tier_counts"].get("exact_rep", 0) == 6
    assert info["tier_counts"].get("exact", 0) == 6
    assert info["removable_docs"] == 6
    back = spark.read.parquet(out)
    assert back.count() == 12 and back.select("doc_id").distinct().count() == 12


def test_cli_diff_snapshot_delta(spark, tmp_path, capsys):
    """diff: added/removed/changed counts on a tiny two-snapshot pair;
    only the delta is written."""
    old = str(tmp_path / "old.parquet")
    new = str(tmp_path / "new.parquet")
    spark.createDataFrame(
        [(1, "https://a.com/keep", "same"),
         (2, "https://a.com/edit", "v1"),
         (3, "https://a.com/gone", "x")],
        "doc_id long, url string, text string",
    ).write.parquet(old)
    spark.createDataFrame(
        [(11, "https://a.com/keep", "same"),
         (12, "https://a.com/edit", "v2"),
         (15, "https://a.com/born", "hi")],
        "doc_id long, url string, text string",
    ).write.parquet(new)
    out = str(tmp_path / "delta")
    rc = cli.main(["diff", "--old", old, "-o", out, new])
    assert rc == 0
    info = json.loads(capsys.readouterr().err.strip().splitlines()[-1])
    assert (info["added"], info["removed"], info["changed"]) == (1, 1, 1)
    got = {r.norm_url: r.status for r in spark.read.parquet(out).collect()}
    assert got == {"https://a.com/edit": "changed",
                   "https://a.com/gone": "removed",
                   "https://a.com/born": "added"}


def test_cli_budget_selection(spark, tmp_path, capsys):
    """budget: keeps the top-score prefix under the token budget."""
    docs = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, 3.0, "a b c"), (2, 2.0, "d e"), (3, 1.0, "f g h i")],
        "doc_id long, score double, text string",
    ).write.parquet(docs)
    out = str(tmp_path / "kept")
    rc = cli.main(["budget", "-t", "5", "-o", out, docs])
    assert rc == 0
    info = json.loads(capsys.readouterr().err.strip().splitlines()[-1])
    assert info["n_kept"] == 2 and info["tokens_used"] == 5
    kept = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert kept == [1, 2]
    # missing score column -> argument error, not a crash
    nos = str(tmp_path / "noscore.parquet")
    spark.createDataFrame([(1, "t")], "doc_id long, text string") \
        .write.parquet(nos)
    assert cli.main(["budget", "-t", "5", "-o", out, nos]) == 2


def test_cli_dedup_snapshot_root_resumes(spark, docs_parquet, tmp_path,
                                         capsys):
    """--snapshot-root commits sketches + clusters through the snapshot
    log; a second identical invocation resumes both stages; a new
    --input-tag commits fresh versions with time travel to the first."""
    from mashspark import snapshots as snap

    root = str(tmp_path / "snaproot")
    out = str(tmp_path / "snap.out")
    args = ["dedup", *FLAGS, "-j", "0.5", "--snapshot-root", root,
            "--input-tag", "c1", "--buckets", "4", "-o", out,
            docs_parquet]
    assert cli.main(args) == 0
    m1 = json.loads(capsys.readouterr().err.strip().splitlines()[-1])
    assert (m1["sketch_version"], m1["cluster_version"]) == (1, 1)
    assert not m1["resumed_sketches"]
    assert m1["n_docs"] == 12 and m1["n_clusters"] == 6
    # clusters parquet written alongside
    cl = spark.read.parquet(os.path.join(out, "clusters"))
    assert cl.count() == 12

    assert cli.main(args) == 0
    m2 = json.loads(capsys.readouterr().err.strip().splitlines()[-1])
    assert m2["resumed_sketches"] and m2["resumed_clusters"]
    assert m2["cluster_version"] == 1

    args2 = ["dedup", *FLAGS, "-j", "0.5", "--snapshot-root", root,
             "--input-tag", "c2", "--buckets", "4", "-o", out,
             docs_parquet]
    assert cli.main(args2) == 0
    m3 = json.loads(capsys.readouterr().err.strip().splitlines()[-1])
    assert m3["cluster_version"] == 2 and not m3["resumed_clusters"]
    assert snap.read_table(
        spark, os.path.join(root, "clusters"), version=1).count() == 12
    s = snap.snapshot(os.path.join(root, "sketches"), 2)["summary"]
    assert len(s["partitions"]) == 4
