"""Dedup quality audit: measure the LSH pipeline's pair recall against
Mash-exact ground truth on a deterministic sample — the BASELINE.md
recall gate (>= 0.99 vs `mash dist` ground truth at the shared config,
reference semantics ``CommandDistance.cpp:286-298``) packaged as a
first-class operator a user runs against their own corpus + their own
pipeline output, not just a bench-harness internal.

Design: exhaustive ground truth is quadratic, so it runs on a
DETERMINISTIC id-hash sample (``pmod(xxhash64(id), sample_mod) == 0`` —
append-stable, partitioning-invariant). Within the sample, ALL pairs are
Mash-exact verified (no LSH, no prefix filter — the same
full-resolution capped-merge the reference's `mash dist` performs), and
a true pair counts as recovered iff the audited cluster assignment put
both docs in one cluster. A pair survives sampling with probability
~1/sample_mod² — size the sample so n_sample² verifications fit the
audit budget (the audit is O((N/sample_mod)²), by construction
independent of corpus partitioning).

Caveat stated plainly: sampling measures PAIR recall unbiasedly only
under hash-independence of pair membership; boilerplate-correlated
families are sampled like everything else (both-members-sampled), so
the estimate is exact recall ON the sampled pair population.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .params import PipelineConfig
from .sampling import hash_uniform
from .sketch import sketch_documents
from .verify import _LookupSpan, all_pairs, verify_pairs


def dedup_recall_audit(docs: DataFrame, clusters: DataFrame,
                       config: PipelineConfig, sample_mod: int = 100,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """One-row audit relation: (n_sample, true_pairs, recovered_pairs,
    recall) for the given cluster assignment at the config's Mash-exact
    threshold.

    ``clusters``: the audited pipeline output (doc_id, cluster_id) —
    pass ``dedup_pipeline(...).clusters`` or any competing assignment.
    """
    # md5-uniform sampling (sampling.hash_uniform), not xxhash64: same
    # append-stable determinism, but replayable bit-for-bit by any
    # reimplementation (python hashlib / DuckDB), so the audit itself is
    # oracle-checkable
    sample = docs.filter(
        F.pmod(hash_uniform(F.col(id_col), "audit:42"),
               F.lit(sample_mod)) == 0
    ).select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    looks = _LookupSpan()
    sk = sketch_documents(sample, config.sketch, config.lsh).persist()
    try:
        truth = verify_pairs(
            all_pairs(sk, sk, upper_only=True), sk, config.sketch,
            jaccard_threshold=config.jaccard_threshold, prefix_filter=None,
        ).select("id_a", "id_b")
        ca = clusters.select(F.col("doc_id").alias("id_a"),
                             F.col("cluster_id").alias("ca"))
        cb = clusters.select(F.col("doc_id").alias("id_b"),
                             F.col("cluster_id").alias("cb"))
        # LEFT joins: a true pair whose member has no cluster row is a
        # MISS (hit=0), not a silently-dropped denominator row — matters
        # when auditing a competing assignment that only lists dup docs
        scored = (
            truth.join(ca, "id_a", "left").join(cb, "id_b", "left")
            .select(F.coalesce(F.col("ca") == F.col("cb"), F.lit(False))
                    .cast("long").alias("hit"))
        )
        n_sample = sk.count()
        # materialize eagerly (one driver row): returning the lazy plan
        # and unpersisting in finally would silently recompute the whole
        # sketch+verify chain uncached at the caller's collect
        row = scored.agg(
            F.count("*").alias("true_pairs"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("recovered_pairs"),
        ).collect()[0]
        tp, rp = int(row["true_pairs"]), int(row["recovered_pairs"])
        recall = rp / tp if tp else 1.0
        spark = docs.sparkSession
        return spark.createDataFrame(
            [(int(n_sample), tp, rp, float(recall))],
            "n_sample long, true_pairs long, recovered_pairs long, "
            "recall double")
    finally:
        sk.unpersist()
        looks.close().destroy()
