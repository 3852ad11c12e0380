"""Recall audit operator: Mash-exact sampled ground truth vs a cluster
assignment."""

import pytest
from pyspark.sql import functions as F

from mashspark.audit import dedup_recall_audit
from mashspark.params import PipelineConfig, SketchParams
from mashspark.pipeline import dedup_pipeline

WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi rho sigma tau upsilon ").split()


def _corpus(spark, n_base=30, n_dup=8):
    rows = []
    for i in range(n_base):
        text = " ".join(WORDS[(i + j) % len(WORDS)] + str(i * 7 + j)
                        for j in range(120))
        rows.append((i, text))
    for i in range(n_dup):  # near-dup of doc i: one token swapped
        rows.append((1000 + i, rows[i][1].replace(str(i * 7 + 3), "xx")))
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def cfg():
    return PipelineConfig(sketch=SketchParams(k=21, s=256, seed=42),
                          jaccard_threshold=0.7)


def test_pipeline_clusters_score_full_recall(spark, cfg):
    docs = _corpus(spark)
    res = dedup_pipeline(docs, cfg)
    row = dedup_recall_audit(docs, res.clusters, cfg,
                             sample_mod=1).collect()[0]
    assert row["n_sample"] == 38
    assert row["true_pairs"] >= 6, "planted near-dups must be true pairs"
    assert row["recovered_pairs"] == row["true_pairs"]
    assert row["recall"] == pytest.approx(1.0)
    res.release()


def test_singleton_assignment_scores_zero(spark, cfg):
    docs = _corpus(spark)
    singletons = docs.select("doc_id",
                             F.col("doc_id").alias("cluster_id"))
    row = dedup_recall_audit(docs, singletons, cfg,
                             sample_mod=1).collect()[0]
    assert row["true_pairs"] >= 6
    assert row["recovered_pairs"] == 0 and row["recall"] == 0.0


def test_sampling_is_deterministic_and_partitioning_invariant(spark, cfg):
    docs = _corpus(spark, n_base=40, n_dup=0)
    res = dedup_pipeline(docs, cfg)
    a = dedup_recall_audit(docs, res.clusters, cfg,
                           sample_mod=3).collect()[0]
    b = dedup_recall_audit(docs.repartition(7), res.clusters, cfg,
                           sample_mod=3).collect()[0]
    assert a == b
    assert 0 < a["n_sample"] < 40
    # no true pairs in a dup-free sample -> vacuous recall 1.0
    assert a["true_pairs"] == 0 and a["recall"] == 1.0
    res.release()


def test_repeated_audits_leave_no_live_lookup(spark, cfg):
    """The audit's ground truth looks its sample's sketches up from a
    broadcast, and destroys it before returning: repeated audits in one
    session do not pile up live broadcasts."""
    from mashspark import verify as V

    docs = _corpus(spark)
    singletons = docs.select("doc_id", F.col("doc_id").alias("cluster_id"))
    seen = V._LookupSpan()
    for _ in range(3):
        row = dedup_recall_audit(docs, singletons, cfg,
                                 sample_mod=1).collect()[0]
        assert row["true_pairs"] >= 6
    seen.close()
    assert len(seen.lookups) == 3
    assert not any(bc._jbroadcast.isValid() for bc in seen.lookups)
