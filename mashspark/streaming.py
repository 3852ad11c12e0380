"""Structured Streaming dedup: incremental sketching and near-duplicate
detection of a document stream against a persisted sketch store.

The reference is a batch CLI with no streaming surface (SURVEY.md §2.7),
but the production webtext use case is a crawl firehose: new pages arrive
continuously and must be deduplicated against everything already seen.
Spark-first composition:

* ``stream_exact_dedup`` — watermarked ``dropDuplicates`` on a content
  fingerprint: exact dedup entirely inside Spark's streaming state store
  (no custom state), late data bounded by the watermark.
* ``incremental_dedup`` — ``foreachBatch`` micro-batch loop: each batch is
  sketched with the SAME vectorized UDF as the batch pipeline, LSH-joined
  against itself (in-batch dups) and, through ``dedup_against``'s capped
  cross band join, against the persisted sketch store (history),
  Mash-exact verified (history pairs against the history's own sketch
  rows, in place), and appended to the store; its checkpoints and
  verify's sketch lookups are released per batch. The store is
  bucketed parquet (Iceberg-shaped, like io.py); restarts resume from
  the stream checkpoint and the already-appended store — the same
  at-least-once + idempotent-append discipline the batch manifests
  use.

State sizing at web scale: history is never re-sketched (its band keys
ride in the stored sketch rows, 8 B x <=32/doc), the batch side of the
history join is small so its per-key band counts are broadcast (one
``collect_at_most`` probe) and the history side is joined to them
map-side with NO per-key shuffle: the join's total size, one global
sum, shows that no bucket reaches ``hard_bucket_cap``, and only a
total above it sizes the history's buckets. Nothing driver-side grows
with history size. The history is ONE table, ``store/sketches``,
written ``partitionBy(doc_bucket = pmod(doc_id, n_doc_buckets))`` and
read twice per batch, the way ``pipeline.dedup_against`` reads a
committed reference; its parquet schema is inferred once per deduper
and then handed to the reader:

* the band join explodes its ``band_key`` arrays; the scan reads only
  ``doc_id`` and ``band_key``, never the 8 KB sketch bytes. It scans
  every bucket file of the store: band keys are uniformly random, so a
  batch's keys land in almost every key bucket anyway, and a copy of the
  keys partitioned by ``pmod(band_key, 64)`` pruned nothing. Measured on
  1,460 webtext docs with the default ``LSHParams`` (~31 keys/doc), 50
  random batches per size: one doc touches 33-44% of the 64 buckets,
  5 docs 84-97%, 10 docs 97-100%, and 20, 150 or 1000 docs all 64;
* the sketch fetch for verify is bucket-pruned to the ``doc_bucket``s of
  the band-matched ids, so unmatched history sketches are never read.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import lsh as _lsh
from . import pipeline as _pipeline
from . import verify as _verify
from .params import PipelineConfig
from .sketch import sketch_documents


def stream_exact_dedup(stream_df: DataFrame, ts_col: str = "warc_ts",
                       text_col: str = "text",
                       watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: first occurrence of each content fingerprint
    within the watermark horizon survives. Pure built-ins (xxhash64 +
    watermarked dropDuplicates) — the state store holds only the 8-byte
    fingerprints, and the watermark bounds state size."""
    return (
        stream_df.withColumn("content_fp", F.xxhash64(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicates(["content_fp"])
    )


def stream_windowed_counts(stream_df: DataFrame, ts_col: str = "ts",
                           window: str = "1 hour",
                           watermark: str = "2 hours",
                           keys: tuple = ("event_type",),
                           value_col: str | None = "value") -> DataFrame:
    """Watermarked tumbling-window rollup of an event stream — the
    streaming analog of the batch ``events_hourly`` contract query
    (count + exact integer cent-sum per window x key).

    Spark-native late-data semantics: the watermark bounds state (a
    window closes once the event-time watermark passes its end; later
    events are dropped), and the windowed groupBy shuffles only
    (window, keys) — partial aggregation map-side, so a hot event type
    pre-reduces inside every input partition before the exchange, same
    skew posture as the batch pipeline's groupBys."""
    agg = [F.count("*").alias("n_events")]
    if value_col is not None:
        agg.append(
            F.sum(F.round(F.col(value_col) * 100).cast("long")).alias("value_cents")
        )
    out_cols = ["n_events"] + (["value_cents"] if value_col is not None else [])
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), *keys)
        .agg(*agg)
        .select(F.col("win.start").alias("window_start"), *keys, *out_cols)
    )


class IncrementalDeduper:
    """foreachBatch engine: near-dup decisions for each micro-batch against
    a persisted sketch store.

    store_path/sketches: parquet (doc_id, sketch, card_est, band_key,
    fp1, fp2) appended per batch. decisions_path: parquet
    (doc_id, dup_of, batch_id) — one row per incoming doc; dup_of is the
    smallest verified partner (an earlier doc of the same batch, or any
    history doc but one with its own id) or NULL for novel docs. History
    pairs come from ``lsh.cross_candidate_pairs`` (its per-band product
    cap included) over the ``band_key`` arrays of the history's sketch
    rows, and verify against those rows in place
    (``verify_pairs(sketches_b=)``), so a re-crawled doc that reuses a
    history id never hides the old page from the rest of the batch.
    There is no separate band-key store (see the module docstring for
    why bucketing the keys prunes nothing); a store that still holds
    the ``bands/`` copy earlier versions wrote reads as before, and the
    copy is ignored.
    """

    def __init__(self, store_path: str, config: PipelineConfig | None = None,
                 n_doc_buckets: int = 64):
        self.config = config or PipelineConfig()
        self.store_path = store_path
        self.sketch_path = os.path.join(store_path, "sketches")
        self.decisions_path = os.path.join(store_path, "decisions")
        self.n_doc_buckets = n_doc_buckets
        self._schema = None  # the store's, once a read has inferred it

    def _history(self, spark: SparkSession):
        """The store, or None before its first append. Its schema is
        inferred once (one Spark job) and then passed to the reader;
        the inferred schema keeps the ``sketch`` column's params
        metadata, so later reads still carry it for the F6 check."""
        try:
            if self._schema is not None:
                return spark.read.schema(self._schema).parquet(self.sketch_path)
            hist = spark.read.parquet(self.sketch_path)
        except Exception:
            return None
        self._schema = hist.schema
        return hist

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """The foreachBatch callback (also callable directly in tests)."""
        cfg = self.config
        spark = batch_df.sparkSession
        held = _pipeline._Held(spark)
        try:
            # eager: the sketches feed both joins, both verifies and the
            # append (the checkpoint-race reason of pipeline.dedup_pipeline)
            sk = sketch_documents(batch_df, cfg.sketch, cfg.lsh).localCheckpoint(
                eager=True)
            verify = functools.partial(
                _verify.verify_pairs, sketches=sk, params=cfg.sketch,
                jaccard_threshold=cfg.jaccard_threshold,
                max_distance=cfg.max_distance, max_pvalue=cfg.max_pvalue,
                prefix_filter=cfg.lsh.prefix)

            # a doc's partners: the smaller id of each in-batch pair ...
            cand_self, _m = _lsh.candidate_pairs(
                sk, band_doc_cap=cfg.lsh.band_doc_cap,
                hard_bucket_cap=cfg.lsh.hard_bucket_cap,
            )
            partners = verify(cand_self).select(
                F.col("id_b").alias("doc_id"), F.col("id_a").alias("partner"))
            hist = self._history(spark)
            if hist is not None:
                # ... and every verified history doc, from the band join of
                # the batch against the history's stored band keys (history
                # is never re-sketched; this scan reads doc_id and band_key
                # only)
                cross, _m = _lsh.cross_candidate_pairs(
                    _lsh.explode_bands(sk).select(
                        "band_key", F.col("doc_id").alias("id_a")),
                    _lsh.explode_bands(hist).select(
                        "band_key", F.col("doc_id").alias("id_b")),
                    cfg.lsh.hard_bucket_cap,
                )
                # a re-crawled doc keeps its id: never its own partner.
                # Checkpointed: the doc-bucket collect and verify both
                # read it, and would each run the band join again.
                cross = cross.filter(
                    F.col("id_a") != F.col("id_b")).localCheckpoint(eager=True)
                # the history sketches, bucket-pruned on the doc_id
                # partitioning of the store to the band-matched ids
                doc_buckets = [
                    r.b for r in cross.select(
                        F.pmod(F.col("id_b"), F.lit(self.n_doc_buckets))
                        .alias("b")).distinct().collect()
                ]
                if doc_buckets:
                    hist_sk = hist.filter(F.col("doc_bucket").isin(doc_buckets))
                    hist_pairs = verify(cross, sketches_b=hist_sk)
                    partners = partners.unionByName(hist_pairs.select(
                        F.col("id_a").alias("doc_id"),
                        F.col("id_b").alias("partner")))

            # decision: a batch doc is a dup of its smallest verified partner
            dup_of = partners.groupBy("doc_id").agg(
                F.min("partner").alias("dup_of"))
            decisions = (
                sk.select("doc_id").join(dup_of, "doc_id", "left")
                .withColumn("batch_id", F.lit(int(batch_id)))
            )
            decisions.write.mode("append").parquet(self.decisions_path)
            sk.withColumn(
                "doc_bucket",
                F.pmod(F.col("doc_id"), F.lit(self.n_doc_buckets)).cast("int"),
            ).write.partitionBy("doc_bucket").mode("append").parquet(self.sketch_path)
        finally:
            held.since().release()


def incremental_dedup(stream_df: DataFrame, store_path: str,
                      config: PipelineConfig | None = None,
                      checkpoint: str | None = None,
                      trigger_available_now: bool = True):
    """Wire a streaming DataFrame of documents into the incremental
    deduper. Returns the started StreamingQuery."""
    dd = IncrementalDeduper(store_path, config)
    writer = stream_df.writeStream.foreachBatch(dd.process_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
