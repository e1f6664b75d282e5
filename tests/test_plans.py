"""Physical-plan assertions: the optimizations the engine claims must be
visible in .explain() — predicate pushdown to the parquet scan, broadcast
joins on the dictionary side, no transcript-scale shuffle before mention
extraction, uniform hash dedup as the only transcript-scale exchange."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from fhir_owl_spark import fixtures as fx
from fhir_owl_spark.operators.dictionary import build_concept_dictionary
from fhir_owl_spark.operators.mentions import extract_mentions
from fhir_owl_spark.plans.build_graph import build_graph, triples_with_key


@pytest.fixture(scope="module")
def transcripts_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "transcripts")
    ont, cfg = fx.pizza_fixture()
    turns = fx.make_transcripts(ont, cfg, n_conv=30, seed=42)
    fx.transcripts_df(spark, turns).write.parquet(path)
    return path


from conftest import plan_of


def test_filter_pushdown_to_scan(spark, transcripts_parquet):
    df = spark.read.parquet(transcripts_parquet).filter(F.col("role") == "user").select(
        "conv_id", "text"
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(role), EqualTo(role,user)]" in plan
    # column pruning: the scan must not read the unused columns
    assert "tool" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_mentions_no_shuffle_before_udf(spark, transcripts_parquet):
    """Mention extraction is map-only: no Exchange between the scan and
    the Python UDF stage."""
    ont, cfg = fx.pizza_fixture()
    concepts, _, synonyms = fx.ontology_dfs(spark, ont)
    dictionary = build_concept_dictionary(concepts, synonyms, cfg)
    tdf = spark.read.parquet(transcripts_parquet)
    m = extract_mentions(tdf, dictionary, cfg)
    plan = plan_of(m)
    assert "Exchange" not in plan
    assert "MapInPandas" in plan
    # only the needed columns reach the UDF
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "text" in read_schema and "ts" not in read_schema


def test_isa_parent_join_is_broadcast(spark, transcripts_parquet):
    ont, cfg = fx.pizza_fixture()
    concepts, edges, synonyms = fx.ontology_dfs(spark, ont)
    tdf = spark.read.parquet(transcripts_parquet)
    out = build_graph(spark, concepts, edges, synonyms, tdf, cfg)
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan
    # every ontology join is broadcast — a SortMergeJoin means a size hint
    # went missing (both sides are ontology-bounded by contract)
    assert "SortMergeJoin" not in plan, plan
    # exactly ONE shuffle exchange in the whole pipeline (the key-hash
    # dedup); all other exchanges must be broadcasts
    import re
    tree = plan.split("\n\n")[0]
    shuffles = [l for l in tree.splitlines()
                if re.search(r"\bExchange\b", l) and "BroadcastExchange" not in l]
    assert len(shuffles) == 1, plan
    # dedup on the uniform sha256 key is hash-partitioned
    assert "key_hash" in plan


def test_single_exchange_for_dedup(spark, transcripts_parquet):
    """The transcript-scale lineage (scan → UDF → dedup) contains exactly
    one Exchange: the hash partition on key_hash."""
    ont, cfg = fx.pizza_fixture()
    concepts, _, synonyms = fx.ontology_dfs(spark, ont)
    dictionary = build_concept_dictionary(concepts, synonyms, cfg)
    tdf = spark.read.parquet(transcripts_parquet)
    m = extract_mentions(tdf, dictionary, cfg)
    mt = m.select(
        F.col("code").alias("subj"),
        F.lit("mentions-in").alias("pred"),
        F.col("conv_id").alias("obj"),
        F.lit("conv").alias("obj_type"),
        F.col("conv_id").alias("conv_id"),
    )
    plan = plan_of(triples_with_key(mt))
    # exactly one Exchange operator in the tree (the plan tree section
    # lists each operator once with an id)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, plan
    assert "hashpartitioning" in plan
    # hash dedup, not sort dedup: no Sort operator anywhere
    assert "Sort" not in tree, plan
    assert "HashAggregate" in tree


def test_near_dup_default_is_not_quadratic(spark):
    """The default embedding-near-dup plan must not contain a cartesian /
    unconditioned cross join; the quadratic baseline requires an explicit
    allow_quadratic=True opt-in."""
    from fhir_owl_spark.operators.similarity import embedding_near_dup_pairs

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(20)],
        ["vec_id", "embedding"],
    )
    out = embedding_near_dup_pairs(emb, threshold=0.9)
    plan = plan_of(out)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan

    with pytest.raises(ValueError, match="allow_quadratic"):
        embedding_near_dup_pairs(emb, threshold=0.9, method="exact")


def test_near_dup_lsh_matches_exact_on_fixture(spark):
    """Banded LSH (default) finds the same qualifying pairs as the exact
    baseline on a seeded fixture — recall loss here would be deterministic,
    not flake."""
    import numpy as np

    from fhir_owl_spark.operators.similarity import embedding_near_dup_pairs

    rng = np.random.default_rng(7)
    base = rng.standard_normal((10, 16))
    rows = []
    vid = 0
    for v in base:
        rows.append((vid, [float(x) for x in v])); vid += 1
        # a near-duplicate of each: tiny perturbation → cosine ≈ 1
        rows.append((vid, [float(x) for x in v + rng.standard_normal(16) * 0.01])); vid += 1
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            emb, 0.95, method="exact", allow_quadratic=True
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(emb, 0.95).collect()
    }
    assert exact == lsh and len(exact) == 10


def test_contamination_benchmark_side_is_broadcast(spark):
    """The decontamination join must broadcast the benchmark shingle set,
    never shuffle the corpus side against it."""
    from fhir_owl_spark.operators.dedup import contamination_flags

    docs = spark.createDataFrame(
        [(i, f"w{i} common phrase here w{i+1} x y z q r") for i in range(40)],
        ["doc_id", "text"],
    )
    out = contamination_flags(
        docs.filter("doc_id >= 5"), docs.filter("doc_id < 5")
    )
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_text_ops_are_map_only(spark, transcripts_parquet):
    """repetition_features and normalize_text_col must compile to a single
    Project over the scan — no Exchange at any corpus size."""
    from fhir_owl_spark.operators.text import normalize_text_col, repetition_features

    docs = spark.read.parquet(transcripts_parquet).select(
        F.col("conv_id").alias("doc_id"), "text"
    )
    rep_plan = plan_of(repetition_features(docs))
    assert "Exchange" not in rep_plan
    norm_plan = plan_of(docs.select("doc_id", normalize_text_col().alias("t")))
    assert "Exchange" not in norm_plan
    # pure string exprs stay codegen'd (formatted mode marks spans with *)
    assert "* Project" in norm_plan


def test_tool_usage_aggregates_bounded_intermediate(spark, transcripts_parquet):
    """tool_usage's second aggregation must consume the per-(conv, tool)
    partial counts (two Exchanges total), never re-shuffle the turns."""
    from fhir_owl_spark.operators.conversations import tool_usage

    tdf = spark.read.parquet(transcripts_parquet)
    plan = plan_of(tool_usage(tdf))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 2, plan  # (conv_id, tool) then conv_id
    assert "partial_count" in plan  # map-side combine on the first agg


def test_corpus_prep_is_one_shuffle(spark, transcripts_parquet):
    """The composed prep pipeline (normalize → verdict filter → dedup →
    chunk → sample) must compile to scan → fused filter → ONE Exchange
    (the dedup hash aggregate) → sample filter → explode, with the
    sampling predicate pushed below the chunk fan-out and no Sort."""
    from fhir_owl_spark.plans.corpus_prep import prepare_corpus

    # numeric id: min(string) has an immutable aggregation buffer and
    # would force SortAggregate (see prepare_corpus docstring)
    docs = spark.read.parquet(transcripts_parquet).select(
        F.abs(F.xxhash64("conv_id", "turn_idx")).alias("doc_id"), "text"
    )
    out = prepare_corpus(docs, min_quality=0.1, sample_rate=0.5)
    tree = plan_of(out).split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree
    assert "Sort" not in tree, tree
    assert "Generate" in tree  # the chunk explode
    # the sample filter sits BELOW the explode (pushed before the chunk
    # fan-out) and above the dedup aggregate; the tree prints parents
    # first, so: Generate < Filter < HashAggregate by string position
    assert tree.index("Generate") < tree.index("Filter") < tree.index("HashAggregate")


def test_range_join_is_equi_join(spark):
    """The bucketed range join must compile to a hash equi-join on
    (key, bucket) — never BroadcastNestedLoopJoin/CartesianProduct, which
    is what Spark produces for a raw inequality join."""
    from datetime import datetime

    from fhir_owl_spark.operators.temporal import range_join

    t0 = datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [(i, "u1", t0) for i in range(10)], ["event_id", "user_id", "ts"]
    )
    iv = spark.createDataFrame([("u1", t0, t0)], ["user_id", "start_ts", "end_ts"])
    plan = plan_of(range_join(pts, iv, on="user_id"))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Join" in plan  # a real equi-join happened


def test_time_rollup_single_shuffle(spark, transcripts_parquet):
    """All rollup resolutions must aggregate through ONE exchange."""
    from fhir_owl_spark.operators.temporal import time_rollup

    tdf = spark.read.parquet(transcripts_parquet)
    out = time_rollup(tdf, resolutions=("hour", "day", "week"))
    tree = plan_of(out).split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree
    assert "partial_count" in plan_of(out)  # map-side combine


def test_tfidf_plan_no_cartesian_no_python(spark):
    """tfidf_top_terms: hash aggregates + a term-keyed hash join + one
    window — never a nested-loop/cartesian join, never a Python stage."""
    from fhir_owl_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [(i, f"word{i % 7} common text") for i in range(50)], ["doc_id", "text"]
    )
    plan = plan_of(tfidf_top_terms(docs, k=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for py_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                    "FlatMapGroupsInPandas"):
        assert py_node not in plan
    assert "Window" in plan


def test_importance_resample_plan_take_ordered(spark):
    """importance_resample: the global top-n is TakeOrderedAndProject
    (map-side partial top-n, n-bounded traffic) — never a full Sort,
    never a window, no Python stage."""
    from fhir_owl_spark.operators.sampling import importance_resample

    df = spark.createDataFrame(
        [(i, float(i % 5)) for i in range(100)], ["doc_id", "log_ratio"])
    plan = plan_of(importance_resample(df, 10))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    for py_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_node not in plan


def test_duplicate_spans_plan_hashed_shuffle_no_python(spark):
    """duplicate_span_stats / mask_duplicate_spans (ExactSubstr): every
    transcript-scale shuffle keys on xxhash64(gram) — the raw n-gram
    text never appears in an Exchange's hashpartitioning — and the
    whole plan is pure Column: no Python stage, no cartesian join, no
    sort, no single-partition Exchange."""
    import re

    from fhir_owl_spark.operators.dedup import (
        duplicate_span_stats, mask_duplicate_spans,
    )

    docs = spark.createDataFrame(
        [(i, f"lead{i} shared run of words tail{i}") for i in range(50)],
        ["doc_id", "text"],
    )
    for frame in (duplicate_span_stats(docs, k=3),
                  mask_duplicate_spans(docs, k=3)):
        plan = plan_of(frame)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "SinglePartition" not in plan
        for py_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                        "FlatMapGroupsInPandas"):
            assert py_node not in plan
        # no Exchange partitions on a string column — only the gram
        # hash (_h) and the doc id ever key a shuffle
        for part in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
            assert "_gram" not in part


def test_pack_documents_single_global_window(spark):
    """pack_documents: the ordered prefix sum is ONE global window (the
    documented per-shard pattern at scale) — a single Exchange
    SinglePartition, no join, no Python."""
    from fhir_owl_spark.operators.text import pack_documents

    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(50)], ["doc_id", "text"]
    )
    import re

    plan = plan_of(pack_documents(docs, 16))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "SinglePartition" in plan
    assert "Join" not in plan
    for py_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_node not in plan


def test_pack_documents_sharded_no_single_partition(spark):
    """pack_documents(shard_cols=...): the 100-TB form — the prefix-sum
    window hash-partitions on the shard key; NO single-partition Exchange
    anywhere in the plan (the r4 scale-killer shape, removed)."""
    from fhir_owl_spark.operators.text import pack_documents

    docs = spark.createDataFrame(
        [(i, f"s{i % 4}", "a b c") for i in range(50)],
        ["doc_id", "source", "text"],
    )
    plan = plan_of(pack_documents(docs, 16, shard_cols=("source",)))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(source" in plan
    assert "Join" not in plan
    for py_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_node not in plan


def test_pack_documents_split_sharded_plan(spark):
    """pack_documents_split(shard_cols=...): same per-shard prefix-sum
    window, then a map-side Generate (bin-span explode) — no
    single-partition Exchange, no join, no Python."""
    from fhir_owl_spark.operators.text import pack_documents_split

    docs = spark.createDataFrame(
        [(i, f"s{i % 4}", "a b c d e") for i in range(50)],
        ["doc_id", "source", "text"],
    )
    plan = plan_of(pack_documents_split(docs, 4, shard_cols=("source",)))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(source" in plan
    assert "Generate" in plan  # the explode is map-side, after the window
    assert "Join" not in plan
    for py_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_node not in plan


def test_perplexity_thresholds_no_single_partition_broadcast_assign(spark):
    """perplexity_bucket_thresholds (the production twin of the ntile
    form): threshold table joins broadcast, bucket assignment is
    map-side — NO single-partition Exchange, no ntile window over a
    language-sized partition, no Python stage."""
    from fhir_owl_spark.operators.text import perplexity_bucket_thresholds

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", f"tok{i % 5} common words")
         for i in range(50)],
        ["doc_id", "lang", "text"],
    )
    plan = plan_of(perplexity_bucket_thresholds(docs))
    # no window anywhere — the ntile-over-language partition is gone
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    # the only SinglePartition exchanges are the one-row scalar corpus
    # totals inside corpus_logloss (map-side partial_sum reduces each
    # upstream partition to a single row first) — never a Sort
    import re

    for m in re.finditer(r"\((\d+)\) Exchange\b", plan):
        node = int(m.group(1))
        detail = plan[m.start():]
        if "SinglePartition" in detail.split("\n\n")[0]:
            # preceding node in the formatted listing is the partial agg
            prev = re.search(rf"\({node - 1}\) (\w+)", plan)
            assert prev and "HashAggregate" in prev.group(1), node
    for py_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_node not in plan


def test_salted_top_k_phase1_partitions_on_salt(spark):
    """salted_top_k: phase-1 window hash-partitions on (key, _salt) —
    the hub key's rows spread over n_salt reducers — and no
    single-partition Exchange exists anywhere."""
    from fhir_owl_spark.operators.skew import salted_top_k

    df = spark.createDataFrame(
        [(i, f"k{i % 3}") for i in range(60)], ["id", "key"]
    )
    plan = plan_of(salted_top_k(df, "key", [F.col("id")], 5))
    assert "SinglePartition" not in plan
    assert "_salt" in plan  # phase-1 window keyed by the salt column
    assert plan.count("Window") >= 2  # two-phase: local prune + final rank


def test_classifier_score_plan_broadcast_no_python(spark):
    """linear_classifier_score: the vocabulary-sized model table joins
    BROADCAST (corpus rows never shuffle for the lookup), one doc-id
    hash aggregation, sigmoid pure Column — no Python stage, no
    cartesian, no sort."""
    from fhir_owl_spark.operators.text import linear_classifier_score

    docs = spark.createDataFrame(
        [(i, f"word{i % 7} common text") for i in range(50)], ["doc_id", "text"]
    )
    weights = spark.createDataFrame(
        [("common", 1.0), ("text", -0.5)], ["term", "weight"])
    plan = plan_of(linear_classifier_score(docs, weights))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for py_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                    "FlatMapGroupsInPandas"):
        assert py_node not in plan


def test_pmi_edges_plan_broadcast_marginals_no_python(spark):
    """pmi_edges: both dictionary-bounded marginal tables and the
    one-row conversation total join BROADCAST (the pair table never
    reshuffles for them); no Python stage; the only non-broadcast join
    is the conv-keyed pair fan-out."""
    from fhir_owl_spark.operators.graph import pmi_edges

    m = spark.createDataFrame(
        [(f"c{i % 5}", f"e{i % 3}") for i in range(40)], ["conv_id", "code"])
    plan = plan_of(pmi_edges(m))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    for py_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                    "FlatMapGroupsInPandas"):
        assert py_node not in plan


def test_sft_pairs_plan_one_exchange_no_python(spark):
    """sft_pairs: one conv_id hash-partitioned Exchange (the window),
    a BOUNDED rolling frame (no conversation-sized state), rendering
    pure Column — no Python stage, no join, no extra shuffle."""
    from fhir_owl_spark.operators.conversations import sft_pairs

    t = spark.createDataFrame(
        [(f"c{i % 5}", i // 5, "assistant" if i % 2 else "user", f"t{i}")
         for i in range(60)],
        ["conv_id", "turn_idx", "role", "text"])
    plan = plan_of(sft_pairs(t))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree
    assert "SinglePartition" not in plan
    assert "Join" not in plan
    for py_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                    "FlatMapGroupsInPandas"):
        assert py_node not in plan


def test_bpe_pairs_plan_take_ordered(spark):
    """bpe_merge_pairs: one combiner-backed hash agg + global top-k as
    TakeOrderedAndProject (map-side partial top-n) — never a full Sort
    of the pair vocabulary, no Python stage."""
    from fhir_owl_spark.operators.text import bpe_merge_pairs

    docs = spark.createDataFrame(
        [(i, f"w{i % 5} w{(i + 1) % 5} common") for i in range(60)],
        ["doc_id", "text"])
    plan = plan_of(bpe_merge_pairs(docs, k=10))
    assert "TakeOrderedAndProject" in plan
    for py_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_node not in plan


# Spark jobs each call ran before build_graph, the resumable build and the
# export shared one ontology stage: this test's own counting, run on that
# tree (Spark 4, local session of conftest.py), gave the same numbers on
# every run. A change may lower them, never raise them.
PARENT_JOBS = {"build_graph_count": 16, "resumable": 23, "export": 7}


def test_pipeline_job_counts(spark, tmp_path):
    """Job-count guard for the three ontology entry points: build_graph
    then count, a one-chunk resumable build, and the CodeSystem export,
    each on fresh pizza fixture frames, counted by job group."""
    import uuid

    from fhir_owl_spark.plans.export import export_codesystem
    from fhir_owl_spark.plans.lineage import build_graph_resumable

    ont, cfg = fx.pizza_fixture()
    turns = fx.make_transcripts(ont, cfg, n_conv=30, seed=42)
    sc = spark.sparkContext

    def jobs(fn) -> int:
        group = f"job-count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn(*fx.ontology_dfs(spark, ont), fx.transcripts_df(spark, turns))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    got = {
        "build_graph_count": jobs(
            lambda c, e, s, t: build_graph(spark, c, e, s, t, cfg).count()
        ),
        "resumable": jobs(
            lambda c, e, s, t: build_graph_resumable(
                spark, c, e, s, t, str(tmp_path / "out"), cfg, n_chunks=1
            )
        ),
        "export": jobs(lambda c, e, s, t: export_codesystem(spark, c, e, s, cfg)),
    }
    print("job counts", got)
    assert all(got[k] <= PARENT_JOBS[k] for k in PARENT_JOBS), (got, PARENT_JOBS)
