"""Physical-plan audits: the properties that make the operators scale are
pinned here so a refactor can't silently regress them.

Each assertion names the scale behavior it guards:

* parquet scans receive pushed filters and pruned schemas (a 100 TB scan
  must not read columns or row groups the query doesn't touch);
* the sketch stage is map-only (no Exchange before the UDF — sketching
  10^12 docs must not shuffle the corpus);
* exact-collapse does partial (map-side) aggregation before its
  exchange, and the LSH band entries cross one exchange (no separate
  bucket-size shuffle);
* the screen hash join broadcasts the reference index (mixture side must
  stream map-side, never shuffle on hash);
* verify looks sketch tables under the broadcast cap up in one
  MapInArrow pass, so no shuffle carries a sketch; over the cap its
  fat-sketch joins hash, not sort-merge (8 KB binary rows must not be
  sorted).
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from mashspark.params import LSHParams, PipelineConfig, SketchParams
from mashspark.sketch import sketch_documents
from mashspark.webtext import webtext_spark_df

PARAMS = SketchParams(k=21, s=64)
LSH = LSHParams(bands=16)


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def docs_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "docs.parquet")
    webtext_spark_df(spark, n_base=30, seed=3).select(
        "doc_id", "url", "text", "lang").write.parquet(path)
    return path


def test_scan_pushdown_and_pruning(spark, docs_parquet):
    df = (
        spark.read.parquet(docs_parquet)
        .filter(F.col("doc_id") < 50)
        .select("doc_id", "lang")
    )
    plan = plan_of(df)
    assert "PushedFilters: [" in plan and "LessThan(doc_id,50)" in plan, plan
    # pruned read schema: text/url must NOT be read for this projection
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema and "url" not in read_schema, read_schema


def test_sketch_stage_is_map_only(spark, docs_parquet):
    docs = spark.read.parquet(docs_parquet)
    sk = sketch_documents(docs, PARAMS, LSH)
    plan = plan_of(sk, "simple")
    assert "Exchange" not in plan, plan


def test_exact_collapse_partial_aggregation(spark, docs_parquet):
    from mashspark.pipeline import exact_collapse

    docs = spark.read.parquet(docs_parquet)
    sk = sketch_documents(docs, PARAMS, LSH)
    groups = exact_collapse(sk)
    plan = plan_of(groups, "simple")
    # partial agg before the exchange: HashAggregate appears on both sides
    # of the fingerprint exchange (map-side combine of the 24 B/doc keys)
    assert plan.count("HashAggregate") >= 2, plan
    assert "SortAggregate" not in plan, plan


def test_screen_broadcasts_reference_index(spark, docs_parquet):
    from mashspark.screen import screen

    docs = spark.read.parquet(docs_parquet)
    refs = docs.filter(F.col("doc_id") < 20)
    refs_sk = sketch_documents(refs, PARAMS, LSH)
    out = screen(refs_sk, docs, PARAMS)
    plan = plan_of(out, "simple")
    assert "BroadcastHashJoin" in plan, plan
    # the corpus-sized mixture hash table must never sort-merge
    assert "SortMergeJoin" not in plan, plan


def test_screen_aggregates_only_index_hits(spark, docs_parquet):
    """The mixture groupBy(hash) must sit ABOVE an index semi-join: the
    reference only counts hashes that hit the inverted index
    (CommandScreen.cpp:571-575), and aggregating first would shuffle
    O(corpus shingles) rows where O(index hits) suffice."""
    from mashspark.screen import screen

    docs = spark.read.parquet(docs_parquet)
    refs = docs.filter(F.col("doc_id") < 20)
    refs_sk = sketch_documents(refs, PARAMS, LSH)
    out = screen(refs_sk, docs, PARAMS)
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    lines = opt.splitlines()
    agg_hash = [i for i, l in enumerate(lines)
                if "Aggregate [hash" in l and "mult" in l]
    semi = [i for i, l in enumerate(lines) if "LeftSemi" in l]
    assert agg_hash and semi, opt
    # children print below parents: the semi-join must be a descendant of
    # the mult aggregate (index filter BEFORE the corpus-scale groupBy)
    assert semi[0] > agg_hash[0], opt


def test_substring_verify_joins_windows_not_texts(spark, docs_parquet):
    """The substring verify must attach ~min_len-byte window slices to the
    candidate-pair relation, never whole texts: a doc in P pairs must not
    replicate its full bytes P times through the join. Invariant: in the
    optimized plan, text encoding only ever appears already wrapped in the
    window substring() (i.e. sliced in the same projection)."""
    from mashspark.substring import substring_dup_pairs

    docs = spark.read.parquet(docs_parquet)
    out = substring_dup_pairs(docs, min_len=40, stride=8)
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    for line in opt.splitlines():
        if "Encode.encode" in line:
            assert "substring(" in line, line


def test_verify_joins_hash_not_sort_merge(spark, docs_parquet):
    from mashspark.verify import verify_pairs

    docs = spark.read.parquet(docs_parquet)
    sk = sketch_documents(docs, PARAMS, LSH)
    ids = sk.select("doc_id")
    cands = (
        ids.withColumnRenamed("doc_id", "id_a")
        .crossJoin(ids.withColumnRenamed("doc_id", "id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .limit(100)
    )
    out = verify_pairs(cands, sk, PARAMS, jaccard_threshold=0.5,
                       prefix_filter=None)
    plan = plan_of(out, "simple")
    assert "SortMergeJoin" not in plan, plan


def _executed_nodes(df):
    """Every node of a DataFrame's executed (post-AQE, after an action)
    physical plan, descending into query stages and reused exchanges."""
    def walk(node):
        yield node
        kids = node.children()
        for i in range(kids.size()):
            yield from walk(kids.apply(i))
        name = node.nodeName()
        if name.endswith("QueryStage"):
            yield from walk(node.plan())
        elif name == "ReusedExchange":
            yield from walk(node.child())
        elif name == "AdaptiveSparkPlan":
            yield from walk(node.executedPlan())

    return list(walk(df._jdf.queryExecution().executedPlan()))


def test_verify_survivor_sketches_never_shuffled(spark, docs_parquet):
    """With the prefix tier on and a checkpointed sketch table under the
    broadcast cap, verify looks the sketches up from a broadcast of the
    table: no shuffle exchange in the executed plan may carry a sketch
    column (the attach joins' exchanges moved the table to compare a
    subset). Its size gate and collect write less than 8·s bytes of
    shuffle in all, read from the status store: a limit(n+1) collect
    of a table with several partitions plans a single-partition exchange
    of every sketch row."""
    from mashspark.verify import verify_pairs

    docs = spark.read.parquet(docs_parquet)
    sk = sketch_documents(docs, PARAMS, LSH).repartition(4).localCheckpoint(
        eager=True)
    ids = sk.select("doc_id")
    cands = (
        ids.withColumnRenamed("doc_id", "id_a")
        .crossJoin(ids.withColumnRenamed("doc_id", "id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    outs = []
    gate = _stage_shuffle_writes(spark, lambda: outs.append(verify_pairs(
        cands, sk, PARAMS, jaccard_threshold=0.5, prefix_filter=16)),
        "shuffleWriteBytes")
    assert sum(gate) < 8 * PARAMS.s, gate
    out = outs[0]
    assert out.collect()  # executes `out`'s own plan: AQE finalizes it
    nodes = _executed_nodes(out)
    assert any(n.nodeName() == "MapInArrow" for n in nodes)
    fat = []
    for node in nodes:
        if node.nodeName() != "Exchange":  # shuffle; broadcasts are "BroadcastExchange"
            continue
        o = node.output()
        cols = [o.apply(i).name() for i in range(o.size())]
        if any(c.startswith("sketch") for c in cols):
            fat.append(cols)
    assert not fat, f"shuffle exchanges carrying sketches: {fat}"


def test_no_cartesian_blowup_in_candidate_families(spark, docs_parquet):
    """SimHash, SRP-embedding, and substring candidate generation must all
    pair via bucketed equi-joins — never CartesianProduct /
    BroadcastNestedLoopJoin (quadratic at corpus scale)."""
    from mashspark.ann import embedding_dup_pairs
    from mashspark.simhash import simhash_documents, simhash_dup_pairs
    from mashspark.substring import substring_dup_pairs

    docs = spark.read.parquet(docs_parquet)
    plans = {
        "simhash": plan_of(
            simhash_dup_pairs(simhash_documents(docs, k=4), max_hamming=3),
            "simple"),
        "substring": plan_of(
            substring_dup_pairs(docs, min_len=40, stride=8), "simple"),
    }
    emb = docs.select(
        "doc_id",
        F.expr("transform(sequence(1, 8), "
               "i -> cast(pmod(doc_id * i, 97) as float) / 97.0)").alias("vec"),
    )
    plans["srp"] = plan_of(
        embedding_dup_pairs(emb, min_cos=0.9, id_col="doc_id",
                            vec_col="vec", dim=8), "simple")
    for name, p in plans.items():
        assert "CartesianProduct" not in p, (name, p)
        assert "BroadcastNestedLoopJoin" not in p, (name, p)


def _duplicated_udf_calls(plan: str) -> dict:
    """Python-UDF invocation signatures (name + argument exprIds) that
    appear in MORE THAN ONE ArrowEvalPython/BatchEvalPython node of a
    formatted plan. Catalyst clones a UDF call when a filter on derived
    columns is planned between two copies of the evaluation — every row
    then pays the python cost twice (measured 2x on the verify tier of
    the dedup pipeline before the asNondeterministic single-eval guards).
    """
    import re

    calls: dict = {}
    for m in re.finditer(r"\((\d+)\) (?:Arrow|Batch)EvalPython\s*\n"
                         r"(?:.*\n)*?Arguments: \[([^\]]*)\]", plan):
        node_id, args = m.groups()
        for call in re.finditer(r"(\w+)\(([^()]*)\)#\d+", args):
            sig = f"{call.group(1)}({call.group(2)})"
            calls.setdefault(sig, set()).add(node_id)
    return {sig: nodes for sig, nodes in calls.items() if len(nodes) > 1}


def test_no_duplicated_udf_evaluation(spark, docs_parquet, monkeypatch):
    """Single-eval audit over every operator whose plan chains a python
    UDF into a derived-column filter: each UDF invocation signature must
    appear in exactly one eval node. verify and contain are audited on
    both sketch paths: the shuffled one (threshold -1), whose tier 1
    runs inside the survivor checkpoint, so the plan of every frame
    verify checkpoints is audited too; and the lookup one, which merges
    in exactly one MapInArrow node."""
    from mashspark.screen import screen
    from mashspark.substring import substring_dup_spans
    from mashspark.verify import contain_pairs, verify_pairs

    docs = spark.read.parquet(docs_parquet)
    sk = sketch_documents(docs, PARAMS, LSH)
    ids = sk.select("doc_id")
    cands = (
        ids.withColumnRenamed("doc_id", "id_a")
        .crossJoin(ids.withColumnRenamed("doc_id", "id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .limit(100)
    )
    # in Spark 4 pyspark.sql.DataFrame is only the abstract parent:
    # patch the concrete class the frames are built from
    checkpointed = []
    local_checkpoint = type(cands).localCheckpoint

    def spy(df, *args, **kwargs):
        checkpointed.append(plan_of(df))
        return local_checkpoint(df, *args, **kwargs)

    def sketch_plans():
        return {
            "verify+pvalue": plan_of(verify_pairs(
                cands, sk, PARAMS, jaccard_threshold=0.5, max_pvalue=1e-5,
                prefix_filter=None)),
            "verify+prefix": plan_of(verify_pairs(
                cands, sk, PARAMS, jaccard_threshold=0.5, prefix_filter=16)),
            "contain": plan_of(contain_pairs(cands, sk, PARAMS)),
        }

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    with monkeypatch.context() as m:
        m.setattr(type(cands), "localCheckpoint", spy)
        lookup = sketch_plans()
        assert not checkpointed, "the lookup path checkpointed a frame"
        spark.conf.set(key, "-1")
        try:
            shuffled = sketch_plans()
        finally:
            spark.conf.set(key, prev)
    # one MapInArrow on top of the sketch stages that build `cands`
    n_cands = plan_of(cands).count("MapInArrow (")
    for name, p in lookup.items():
        assert p.count("MapInArrow (") == n_cands + 1, (name, p)
    assert any("EvalPython" in p for p in checkpointed), \
        "verify+prefix checkpointed no tier-1 plan"
    plans = {
        **{f"{name} (lookup)": p for name, p in lookup.items()},
        **{f"{name} (shuffled)": p for name, p in shuffled.items()},
        **{f"verify+prefix checkpoint {i}": p
           for i, p in enumerate(checkpointed)},
        "screen": plan_of(screen(
            sketch_documents(docs.filter(F.col("doc_id") < 20), PARAMS, LSH),
            docs, PARAMS, max_pvalue=1e-5, identity_min=0.8)),
        "substring": plan_of(substring_dup_spans(
            docs, min_len=24, stride=4)[0]),
        "sketch": plan_of(sketch_documents(docs, PARAMS, LSH)),
    }
    bad = {name: dups for name, p in plans.items()
           if (dups := _duplicated_udf_calls(p))}
    assert not bad, f"duplicated python-UDF evaluation: {bad}"


def test_cross_dist_crosses_ids_not_sketches(spark, docs_parquet):
    """cross_dist's pair space is O(n*m) BY DEFINITION (mash dist prints
    every pair), so the only scale property to pin is that the cross
    product happens over skinny 8-byte id relations — the fat sketch
    blobs must attach AFTER pair enumeration via hash joins, and no
    sort-merge may sort fat rows."""
    from mashspark.verify import cross_dist

    docs = spark.read.parquet(docs_parquet)
    sk = sketch_documents(docs, PARAMS, LSH)
    out = cross_dist(sk, sk, PARAMS, upper_only=True, with_pvalue=False)
    plan = plan_of(out, "formatted")
    assert "SortMergeJoin" not in plan, plan
    # the nested-loop cross node exists, but over id-only projections:
    # every BroadcastNestedLoopJoin input/output must be id columns only
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "BroadcastNestedLoopJoin" in ln and ":" in ln and "Output" in ln:
            assert "sketch" not in ln, ln
    # sketches enter through hash joins after the cross product
    import re

    bnl = [l for l in lines if re.search(r"\(\d+\) BroadcastNestedLoopJoin", l)]
    assert bnl, "expected a cross node over ids"
    out_lines = [lines[i + 1] for i, l in enumerate(lines) if l in bnl
                 and i + 1 < len(lines)]
    for ol in out_lines:
        assert "sketch" not in ol, ol


def test_ivfpq_search_is_distributed_query_side(spark):
    """Round-4 rework of pq.ivfpq_search: the query relation must stay a
    DataFrame end to end — probe assignment is an Arrow map pass over
    queries, candidates come from a shuffled-hash equi-join on list_id,
    and NO sort-merge sorts the candidate relation. (The former
    formulation collected the query table to the driver and shipped a
    q x nprobe x m x k LUT tensor in the task closure — corpus-vs-corpus
    search was structurally impossible.)"""
    import numpy as np

    from mashspark.pq import ivfpq_index, ivfpq_search

    rng = np.random.default_rng(7)
    vecs = spark.createDataFrame(
        [(int(i), rng.standard_normal(16).tolist()) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    cent = rng.standard_normal((4, 16))
    books = rng.standard_normal((4, 8, 4))
    idx = ivfpq_index(vecs, cent, books)
    out = ivfpq_search(idx, vecs, cent, books, top_k=3, nprobe=2)
    plan = plan_of(out, "formatted")
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # both mapInPandas stages (probe over queries, ADC over candidates)
    assert plan.count("MapInPandas") >= 2, plan


def test_pq_search_blocked_no_driver_queries(spark):
    """pq_search packs queries and codes into per-batch block rows and
    cross-joins the two TINY packed relations — queries never collect to
    the driver, and correctness holds for a query table far larger than
    any sane closure (tie-heavy PQ codes included)."""
    import numpy as np

    from mashspark.pq import pq_adc_reference, pq_search

    rng = np.random.default_rng(11)
    n = 400
    mat = rng.standard_normal((n, 16))
    vecs = spark.createDataFrame(
        [(int(i), mat[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).repartition(8)  # several blocks on each side
    books = rng.standard_normal((4, 8, 4))
    out = pq_search(vecs, vecs, books, top_k=3)
    plan = plan_of(out, "formatted")
    assert plan.count("MapInPandas") >= 3, plan  # pack, pack, score
    rows = {(r.query_id, r.rank): r.neighbor_id for r in out.collect()}
    # exact parity vs the single-process ADC reference on every query
    from mashspark.pq import _assign_subspace

    codes = np.stack([
        np.concatenate([[_assign_subspace(mat[i:i + 1, j * 4:(j + 1) * 4],
                                          books[j])[0]] for j in range(4)])
        for i in range(n)
    ])
    for q in range(n):
        d = pq_adc_reference(mat[q], codes, books)
        order = np.lexsort((np.arange(n), d))
        want = [int(i) for i in order if i != q][:3]
        got = [rows[(q, r)] for r in (1, 2, 3)]
        assert got == want, (q, got, want)



def _stage_shuffle_writes(spark, action,
                          metric: str = "shuffleWriteRecords") -> list[int]:
    """Shuffle records (or another stage metric) written by each
    completed stage of the jobs that ``action`` runs, read from the
    status store: a stage that ran counts even where AQE later prunes
    its branch from the final plan."""
    return [getattr(st, metric)() for st in _action_stages(spark, action)]


def _action_stages(spark, action) -> list:
    """The status store's last attempt of every completed stage of the
    jobs that ``action`` runs."""
    sc = spark.sparkContext._jsc.sc()

    def jobs():
        sc.listenerBus().waitUntilEmpty()
        js = sc.statusStore().jobsList(None)
        return [js.apply(i) for i in range(js.size())]

    before = {j.jobId() for j in jobs()}
    action()
    stage_ids = {ids.apply(k) for j in jobs() if j.jobId() not in before
                 for ids in [j.stageIds()] for k in range(ids.size())}
    stages = [sc.statusStore().lastStageAttempt(sid) for sid in stage_ids]
    return [st for st in stages if str(st.status()) == "COMPLETE"]


def test_lsh_band_entries_cross_one_exchange(spark):
    """The band relation is shuffled once, by band_key: bucket sizes, the
    self-join and the star hubs all read that one exchange. Web band keys
    are almost all singletons, so a separate map-side-combined size
    exchange would write about one row per entry, a second full copy."""
    import random

    from mashspark.lsh import candidate_pairs

    rng = random.Random(11)
    rows = [(d, [rng.getrandbits(62) for _ in range(16)]) for d in range(2000)]
    # ten doc pairs share half their keys, so the self-join emits pairs
    for d in range(0, 30, 3):
        rows[d + 1] = (d + 1, rows[d][1][:8] + rows[d + 1][1][8:])
    sk = spark.createDataFrame(rows, "doc_id long, band_key array<long>")
    pairs, _metrics = candidate_pairs(sk, band_doc_cap=4, hard_bucket_cap=8)
    got = []
    writes = _stage_shuffle_writes(spark, lambda: got.extend(pairs.collect()))
    assert len(got) == 10
    assert sum(w >= 2000 * 16 // 2 for w in writes) == 1, writes


def test_cross_band_join_sizes_without_per_key_exchange(spark):
    """When the band join of a small slice against a reference is within
    ``hard_bucket_cap``, ``cross_candidate_pairs`` proves it from the
    join's total size, a global sum: its jobs write under 1 KB of shuffle
    in all, and no stage writes more than one record per task (a per-key
    count exchange of the reference's entries writes one per key)."""
    import random

    from mashspark.lsh import cross_candidate_pairs

    rng = random.Random(17)
    ref = [(d, [rng.getrandbits(62) for _ in range(16)]) for d in range(2000)]
    # ten slice docs: five copies of reference docs, five unrelated
    new = [(10_000 + d, ref[d * 7][1]) for d in range(5)] + [
        (20_000 + d, [rng.getrandbits(62) for _ in range(16)])
        for d in range(5)]
    bands_a = spark.createDataFrame(
        [(k, d) for d, keys in new for k in keys],
        "band_key long, id_a long").coalesce(1)
    bands_b = spark.createDataFrame(
        [(k, d) for d, keys in ref for k in keys],
        "band_key long, id_b long").repartition(4).localCheckpoint(eager=True)
    out = []
    stages = _action_stages(spark, lambda: out.append(cross_candidate_pairs(
        bands_a, bands_b, LSHParams().hard_bucket_cap)))
    assert sum(st.shuffleWriteBytes() for st in stages) < 1024
    per_key = [(st.name(), st.numTasks(), st.shuffleWriteRecords())
               for st in stages if st.shuffleWriteRecords() > st.numTasks()]
    assert not per_key, per_key
    pairs, metrics = out[0]
    assert {tuple(r) for r in pairs.collect()} == {
        (10_000 + d, d * 7) for d in range(5)}
    assert tuple(metrics.first()) == (0, 0, 0)
