"""Structured Streaming dedup: watermarked exact dedup and the
foreachBatch incremental near-dup engine (cross-batch detection against
the persisted sketch store, resume via stream checkpoint)."""

import datetime as dt
import os
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mashspark.params import LSHParams, PipelineConfig, SketchParams

BASE = (
    "the quick brown fox jumps over the lazy dog while the market report "
    "shows steady growth in online services and public data systems today "
    "with more content about travel health money sport music and video "
    "published every hour by the new world news network for every reader "
)


def _doc(doc_id, text, ts_minute=0):
    return {
        "doc_id": doc_id,
        "text": text,
        "warc_ts": dt.datetime(2024, 1, 1, 12, ts_minute),
    }


def _write_chunk(path, rows):
    # micro-second timestamps: Spark cannot read parquet TIMESTAMP(NANOS)
    pd.DataFrame(rows).to_parquet(
        path, coerce_timestamps="us", allow_truncated_timestamps=True
    )


OTHER = (
    "an entirely unrelated second document about gardening tools and "
    "winter recipes with long paragraphs describing soil preparation "
    "seed selection watering schedules and harvest storage methods "
    "for beginners and experts alike in cold northern climates "
) * 2


@pytest.fixture()
def stream_dir(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    other = OTHER
    # chunk 0: two distinct base docs
    _write_chunk(
        d / "chunk0.parquet",
        [_doc(1, BASE + "alpha section one"), _doc(2, other)],
    )
    # chunk 1: near-dup of doc 1, novel doc, exact dup of doc 2
    near = (BASE + "alpha section one").replace("steady", "stable")
    novel = "completely different text " * 20
    _write_chunk(
        d / "chunk1.parquet",
        [
            _doc(10, near, ts_minute=5),
            _doc(11, novel, ts_minute=5),
            _doc(12, other, ts_minute=5),
        ],
    )
    return str(d)


SCHEMA = "doc_id long, text string, warc_ts timestamp"


def _decide(spark, tmp_path, in_dir, cfg):
    """Run the incremental deduper over ``in_dir`` (one micro-batch per
    file) and return its decisions as {(doc_id, batch_id): dup_of}."""
    from mashspark.streaming import incremental_dedup

    store = str(tmp_path / "store")
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = incremental_dedup(stream, store, cfg,
                          checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(600)
    dec = spark.read.parquet(os.path.join(store, "decisions"))
    return {(r.doc_id, r.batch_id): r.dup_of for r in dec.collect()}


def test_incremental_dedup_cross_batch(spark, stream_dir, tmp_path):
    from mashspark.streaming import incremental_dedup

    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    cfg = PipelineConfig(sketch=SketchParams(k=21, s=256), jaccard_threshold=0.7)

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = incremental_dedup(stream, store, cfg, checkpoint=ckpt)
    q.awaitTermination(600)

    dec = spark.read.parquet(os.path.join(store, "decisions"))
    rows = {r.doc_id: r for r in dec.collect()}
    assert set(rows) == {1, 2, 10, 11, 12}
    assert rows[1].dup_of is None and rows[2].dup_of is None
    assert rows[10].dup_of == 1      # near-dup found ACROSS batches
    assert rows[11].dup_of is None   # novel
    assert rows[12].dup_of == 2      # exact dup across batches
    # the two chunks were processed as separate micro-batches
    assert rows[1].batch_id != rows[10].batch_id

    # store carries every sketch
    sk = spark.read.parquet(os.path.join(store, "sketches"))
    assert sk.count() == 5

    # resume: restart the stream with the same checkpoint — no reprocessing
    q2 = incremental_dedup(stream, store, cfg, checkpoint=ckpt)
    q2.awaitTermination(600)
    assert spark.read.parquet(os.path.join(store, "decisions")).count() == 5


PAGE_A = BASE + "alpha section one"


@pytest.mark.parametrize("batch_ids, cap, want", [
    # a re-crawled page keeps its id (``mashspark stream`` ids are
    # xxhash64(url)): doc 5 returns with new text while doc 9 carries
    # doc 5's old text. History verifies against its own sketch rows,
    # so doc 9 still matches the old page; doc 5 is never its own partner
    ((5, 9), LSHParams().hard_bucket_cap, 5),
    # the history band join drops bands whose batch x history entry
    # product exceeds hard_bucket_cap, as dedup_against does: at cap 0
    # the exact copy doc 9 has no history candidate left
    ((7, 9), 0, None),
], ids=["reused-history-id", "bucket-cap-0"])
def test_incremental_dedup_history_pairs(spark, tmp_path, batch_ids, cap, want):
    d = tmp_path / "in"
    d.mkdir()
    _write_chunk(d / "chunk0.parquet", [_doc(5, PAGE_A)])
    other_id, copy_id = batch_ids
    _write_chunk(d / "chunk1.parquet", [_doc(other_id, OTHER, ts_minute=5),
                                        _doc(copy_id, PAGE_A, ts_minute=5)])
    cfg = PipelineConfig(sketch=SketchParams(k=21, s=256),
                         lsh=LSHParams(hard_bucket_cap=cap),
                         jaccard_threshold=0.7)
    got = _decide(spark, tmp_path, d, cfg)
    assert got == {(5, 0): None, (other_id, 1): None, (copy_id, 1): want}


def test_incremental_dedup_honours_max_distance(spark, stream_dir, tmp_path):
    """``max_distance`` filters streaming pairs as it filters the batch
    engines': at 0.0 only the exact copy (doc 12 of doc 2) is a dup, and
    the near-dup doc 10 becomes novel."""
    cfg = PipelineConfig(sketch=SketchParams(k=21, s=256),
                         jaccard_threshold=0.7, max_distance=0.0)
    got = {doc: dup for (doc, _b), dup in
           _decide(spark, tmp_path, stream_dir, cfg).items()}
    assert got == {1: None, 2: None, 10: None, 11: None, 12: 2}


def test_streaming_store_is_one_sketch_table(spark, stream_dir, tmp_path,
                                            monkeypatch):
    """History is one table: the sketch store, bucketed by doc id. Its
    band join explodes the stored ``band_key`` arrays and reads only
    ``doc_id`` and ``band_key``, never the sketch bytes; no separate
    band-key store is written."""
    import glob

    from mashspark import streaming

    hist_bands = []
    real = streaming._lsh.cross_candidate_pairs

    def spy(bands_a, bands_b, hard_bucket_cap):
        hist_bands.append(bands_b)
        return real(bands_a, bands_b, hard_bucket_cap)

    monkeypatch.setattr(streaming._lsh, "cross_candidate_pairs", spy)
    cfg = PipelineConfig(sketch=SketchParams(k=21, s=256), jaccard_threshold=0.7)
    got = _decide(spark, tmp_path, stream_dir, cfg)
    assert {doc: dup for (doc, _b), dup in got.items()}[10] == 1

    store = str(tmp_path / "store")
    assert sorted(os.listdir(store)) == ["decisions", "sketches"]
    assert glob.glob(os.path.join(store, "sketches", "doc_bucket=*"))

    # only the second micro-batch has history to join against
    assert len(hist_bands) == 1
    plan = hist_bands[0]._jdf.queryExecution().executedPlan().toString()
    schemas = re.findall(r"ReadSchema: (struct<[^\n]*>)", plan)
    assert schemas == ["struct<doc_id:bigint,band_key:array<bigint>>"], plan


def test_stream_windowed_counts_matches_batch(spark, tmp_path):
    """Watermarked tumbling-window rollup over a replayed event stream
    equals the batch groupBy on the same data (complete output mode so
    every window is emitted; late-data drop semantics are Spark's own)."""
    from mashspark.streaming import stream_windowed_counts

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # fixture ts is TIMESTAMP_NTZ; event-time watermarks require TIMESTAMP
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    indir = str(tmp_path / "evstream")
    # two chunks -> two micro-batches
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(f"{indir}/c0")
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(f"{indir}/c1")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{indir}/c*")
    )
    out = stream_windowed_counts(stream, ts_col="ts", window="1 hour",
                                 watermark="2 hours")
    q = (
        out.writeStream.format("memory").queryName("win_counts")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(600)
    got = {
        (r.window_start, r.event_type): (r.n_events, r.value_cents)
        for r in spark.sql("select * from win_counts").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.value_cents)
        for r in ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type"
        ).agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        ).collect()
    }
    assert got == want


def test_stream_exact_dedup(spark, stream_dir):
    from mashspark.streaming import stream_exact_dedup

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    out = stream_exact_dedup(stream, watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("exact_dedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    got = spark.sql("select doc_id from exact_dedup_sink").collect()
    ids = sorted(r.doc_id for r in got)
    # doc 12 (exact copy of doc 2's text, later batch) is dropped by the
    # cross-batch streaming state; everything else survives
    assert ids == [1, 2, 10, 11]


def test_incremental_dedup_infers_store_schema_once(spark, tmp_path):
    """The store's parquet schema is inferred by the first read that
    finds it, one Spark job, and then passed to the reader with its
    params metadata: from the third micro-batch on, each batch runs one
    job fewer than a deduper that re-infers it, with the same
    decisions."""
    from mashspark.params import params_from_schema
    from mashspark.streaming import IncrementalDeduper

    sc = spark.sparkContext._jsc.sc()

    def last_job():
        # an id, not a count: the status store keeps only the most
        # recent spark.ui.retainedJobs jobs
        sc.listenerBus().waitUntilEmpty()
        js = sc.statusStore().jobsList(None)
        return max((js.apply(i).jobId() for i in range(js.size())), default=-1)

    batches = [
        [_doc(1, BASE + "alpha section one"), _doc(2, OTHER)],
        [_doc(10, (BASE + "alpha section one").replace("steady", "stable")),
         _doc(11, "completely different text " * 20)],
        [_doc(12, OTHER), _doc(13, "gamma delta epsilon zeta " * 25)],
        [_doc(14, "gamma delta epsilon zeta " * 25),
         _doc(15, "fresh words for a page of its own " * 12)],
    ]
    cfg = PipelineConfig(sketch=SketchParams(k=21, s=256), jaccard_threshold=0.7)

    def run(name, reinfer):
        dd = IncrementalDeduper(str(tmp_path / name), cfg)
        jobs = []
        for batch_id, rows in enumerate(batches):
            if reinfer:
                dd._schema = None
            df = spark.createDataFrame(pd.DataFrame(rows)).select(
                "doc_id", "text")
            before = last_job()
            dd.process_batch(df, batch_id)
            jobs.append(last_job() - before)
        hist = dd._history(spark)
        assert params_from_schema(hist) == cfg.sketch
        dec = spark.read.parquet(dd.decisions_path)
        return jobs, {(r.doc_id, r.batch_id): r.dup_of for r in dec.collect()}

    jobs, got = run("cached", reinfer=False)
    jobs_ref, want = run("reinfer", reinfer=True)
    assert got == want
    assert want[(10, 1)] == 1 and want[(12, 2)] == 2 and want[(14, 3)] == 13
    assert jobs[:2] == jobs_ref[:2]
    assert [r - j for j, r in zip(jobs[2:], jobs_ref[2:])] == [1, 1]
