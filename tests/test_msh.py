"""``.msh`` Cap'n Proto interop (mashspark/msh.py).

The codec targets the ONE schema Mash ships (capnp/MinHash.capnp) with
the reference writer's conventions (Sketch.cpp:384-490) and reader walk
(Sketch.cpp:255-324, 907-1067). Evidence here:

* byte-layout round-trip of a ``.msh`` built from the reference's own
  golden sketch dumps (test/ref/genomes.json, reads.json) — params,
  names, lengths, hashes, counts all bit-exact;
* the seed-42 referenceListOld quirk and the hashSeed XOR-default
  encoding are exercised on both the quirk and non-quirk paths;
* loaded tables flow through the REAL Spark operators: ``info.paste``
  accepts them (param enforcement active) and ``verify.cross_dist``
  reproduces every row of the reference's genomes.dist golden output
  from the interop-loaded sketches;
* mismatched params are refused exactly like native tables (F6).
"""

from __future__ import annotations

import math
import os

import numpy as np
import pytest

from mashspark.msh import (MshReference, MshSketchSet, msh_to_sketches,
                           read_msh, write_msh)
from mashspark.params import SketchParams

from conftest import REF, load_golden_json, requires_reference


def _set_from_golden(golden: dict) -> MshSketchSet:
    return MshSketchSet(
        kmer_size=golden["kmer"],
        min_hashes_per_window=golden["sketchSize"],
        hash_seed=golden["hashSeed"],
        window_size=0,
        concatenated=True,
        noncanonical=not golden["canonical"],
        preserve_case=golden["preserveCase"],
        error=0.0,
        alphabet=golden["alphabet"],
        references=[
            MshReference(
                name=s["name"], comment=s.get("comment", ""),
                length=s["length"],
                hashes=np.array(s["hashes"], dtype=np.uint64),
            )
            for s in golden["sketches"]
        ],
    )


@pytest.fixture(scope="module")
def genomes_msh(tmp_path_factory):
    golden = load_golden_json("genomes.json")
    path = str(tmp_path_factory.mktemp("msh") / "genomes.msh")
    write_msh(path, _set_from_golden(golden))
    return path, golden


@pytest.fixture(scope="module")
def reads_msh(tmp_path_factory):
    golden = load_golden_json("reads.json")
    path = str(tmp_path_factory.mktemp("msh") / "reads.msh")
    write_msh(path, _set_from_golden(golden))
    return path, golden


def test_roundtrip_bit_exact(genomes_msh):
    path, golden = genomes_msh
    got = read_msh(path)
    assert got.kmer_size == golden["kmer"]
    assert got.min_hashes_per_window == golden["sketchSize"]
    assert got.hash_seed == golden["hashSeed"]
    assert got.alphabet == golden["alphabet"]
    assert got.noncanonical == (not golden["canonical"])
    assert got.preserve_case == golden["preserveCase"]
    assert len(got.references) == len(golden["sketches"])
    for r, s in zip(got.references, golden["sketches"]):
        assert r.name == s["name"]
        assert r.length == s["length"]
        assert np.array_equal(
            r.hashes, np.array(s["hashes"], dtype=np.uint64)), r.name


def test_seed42_uses_old_list_slot(genomes_msh, tmp_path):
    """Writer quirk (Sketch.cpp:398): seed 42 -> referenceListOld; any
    other seed -> referenceList. Both decode to the same references."""
    path, golden = genomes_msh
    base = read_msh(path)
    assert base.hash_seed == 42 and base.references  # old-slot path

    other = _set_from_golden(golden)
    other.hash_seed = 7
    p2 = str(tmp_path / "seed7.msh")
    write_msh(p2, other)
    got = read_msh(p2)
    assert got.hash_seed == 7  # XOR-42 default encoding round-trips
    assert [r.name for r in got.references] == \
        [r.name for r in base.references]


def test_counts_and_32bit_hashes_roundtrip(tmp_path):
    sk = MshSketchSet(
        kmer_size=11, min_hashes_per_window=8, hash_seed=42, window_size=0,
        concatenated=False, noncanonical=False, preserve_case=False,
        error=0.05, alphabet="ACGT",
        references=[MshReference(
            name="r32", comment="c", length=1234,
            hashes=np.arange(8, dtype=np.uint64) * 3 + 1,
            counts=np.array([5, 4, 3, 2, 1, 1, 1, 1], dtype=np.uint32),
            use64=False,
        )],
    )
    p = str(tmp_path / "c.msh")
    write_msh(p, sk)
    got = read_msh(p)
    r = got.references[0]
    assert not r.use64
    assert np.array_equal(r.hashes, sk.references[0].hashes)
    assert np.array_equal(r.counts, sk.references[0].counts)
    assert abs(got.error - 0.05) < 1e-7


@requires_reference
def test_spark_paste_and_dist_from_msh(spark, genomes_msh, reads_msh):
    """Interop end to end: the .msh-loaded tables run through paste and
    cross_dist, and cross_dist reproduces every genomes.dist golden row
    (distance to 5e-6, p-value to 5e-5 — the same tolerances the scalar
    golden test uses)."""
    from mashspark.info import paste
    from mashspark.verify import cross_dist

    gpath, golden_g = genomes_msh
    rpath, golden_r = reads_msh
    gdf, params = msh_to_sketches(spark, gpath)
    rdf, rparams = msh_to_sketches(spark, rpath, id_offset=100)
    assert params == rparams

    pasted = paste(gdf, rdf)
    assert pasted.count() == len(golden_g["sketches"]) + 1

    out = {
        r["id_a"]: r for r in
        cross_dist(gdf, rdf, params, with_pvalue=True).collect()
    }
    name_of = {i: s["name"] for i, s in enumerate(golden_g["sketches"])}
    n_checked = 0
    with open(os.path.join(REF, "test", "ref", "genomes.dist")) as f:
        for line in f:
            ref_name, _q, dist_g, pval_g, shared = line.split("\t")
            common_g, denom_g = map(int, shared.strip().split("/"))
            gi = next(i for i, n in name_of.items() if n == ref_name)
            row = out[gi]
            assert (row["common"], row["denom"]) == (common_g, denom_g)
            assert math.isclose(row["mash_dist"], float(dist_g),
                                abs_tol=5e-6), ref_name
            assert math.isclose(row["p_value"], float(pval_g),
                                rel_tol=5e-5), ref_name
            n_checked += 1
    assert n_checked == len(golden_g["sketches"])


def test_param_mismatch_refused(spark, genomes_msh, tmp_path):
    from mashspark.info import paste

    path, golden = genomes_msh
    gdf, _ = msh_to_sketches(spark, path)
    other = _set_from_golden(golden)
    other.kmer_size = 15
    p2 = str(tmp_path / "k15.msh")
    write_msh(p2, other)
    odf, _ = msh_to_sketches(spark, p2)
    with pytest.raises(ValueError, match="incompatible"):
        paste(gdf, odf).count()


def test_truncated_content_length_equivalent_missing_fields(tmp_path):
    """A reader must tolerate files from OLDER schema revisions: a root
    struct with fewer data words / pointers yields defaults, not crashes
    (capnp forward-compat semantics)."""
    import struct as pystruct

    # hand-build a minimal message: root MinHash with ONE data word
    # (kmerSize+windowSize only) and zero pointers
    seg = bytearray()
    seg += pystruct.pack("<Q", (0 & 0x3FFFFFFF) << 2 | 1 << 32 | 0 << 48)
    seg += pystruct.pack("<II", 17, 9)
    p = str(tmp_path / "old.msh")
    with open(p, "wb") as f:
        f.write(pystruct.pack("<II", 0, len(seg) // 8))
        f.write(bytes(seg))
    got = read_msh(p)
    assert got.kmer_size == 17 and got.window_size == 9
    assert got.min_hashes_per_window == 0
    assert got.hash_seed == 42  # XOR default on missing bytes
    assert got.references == []


def test_cli_dist_accepts_msh(spark, genomes_msh, reads_msh, tmp_path, capsys):
    """`dist ref.msh query.msh` — the reference user's exact invocation
    shape works against real .msh inputs through the CLI path."""
    from mashspark.cli import build_parser, cmd_dist

    gpath, _ = genomes_msh
    rpath, _ = reads_msh
    args = build_parser().parse_args(
        ["dist", "-k", "21", "-s", "1000", gpath, rpath])
    assert cmd_dist(spark, args) == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert len(lines) == 3  # 3 genomes x 1 read sketch
