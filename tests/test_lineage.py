"""Checkpoint/resume: a job killed mid-run must resume from lineage and
produce the identical triple set (BASELINE.md resume-correctness row)."""

from __future__ import annotations

import dataclasses

import pytest

from pyspark.sql import functions as F

from fhir_owl_spark import fixtures as fx
from fhir_owl_spark.plans.build_graph import build_graph
from fhir_owl_spark.plans.lineage import (
    build_graph_resumable,
    completed_chunks,
    read_lineage,
    read_triples,
)


@pytest.fixture(scope="module")
def inputs(spark):
    """(concepts, edges, synonyms, transcripts, cfg) of the pizza and the
    DUO fixture; every test runs on each. DUO has imports and runs with
    has_imports=None, so the resumable build must derive it the way
    build_graph does."""
    out = []
    for name in ("pizza_fixture", "duo_fixture"):
        ont, cfg = getattr(fx, name)()
        if name == "duo_fixture":
            cfg = dataclasses.replace(cfg, has_imports=None)
        turns = fx.make_transcripts(ont, cfg, n_conv=40, seed=42)
        concepts, edges, synonyms = fx.ontology_dfs(spark, ont)
        tdf = fx.transcripts_df(spark, turns).localCheckpoint()
        out.append((concepts, edges, synonyms, tdf, cfg))
    return out


def triple_set(df):
    return {(r["subj"], r["pred"], r["obj"]) for r in df.collect()}


def test_kill_and_resume_identical(spark, inputs, tmp_path):
    for i, (concepts, edges, synonyms, tdf, cfg) in enumerate(inputs):
        out = str(tmp_path / f"graph-{i}")

        with pytest.raises(RuntimeError, match="simulated failure"):
            build_graph_resumable(
                spark, concepts, edges, synonyms, tdf, out, cfg,
                n_chunks=4, fail_after_chunks=2,
            )
        done = completed_chunks(spark, out)
        assert -1 in done and len(done) == 3  # ontology + 2 transcript chunks

        run2 = build_graph_resumable(
            spark, concepts, edges, synonyms, tdf, out, cfg, n_chunks=4
        )
        lineage = read_lineage(spark, out)
        rows = lineage.collect()
        assert {r["partition_id"] for r in rows} == {-1, 0, 1, 2, 3}
        assert len(rows) == 5  # each chunk committed exactly once
        # resumed chunks carry the resuming run_id, original ones the first
        assert any(r["run_id"] == run2 for r in rows)
        assert any(r["run_id"] != run2 for r in rows)
        # metrics recorded
        assert all(r["output_triples"] >= 0 and r["finished_ts"] is not None for r in rows)

        resumed = triple_set(read_triples(spark, out))
        single_shot = triple_set(
            build_graph(spark, concepts, edges, synonyms, tdf, cfg)
        )
        assert resumed == single_shot


def test_rerun_is_noop(spark, inputs, tmp_path):
    for i, (concepts, edges, synonyms, tdf, cfg) in enumerate(inputs):
        out = str(tmp_path / f"graph2-{i}")
        build_graph_resumable(spark, concepts, edges, synonyms, tdf, out, cfg, n_chunks=3)
        before = triple_set(read_triples(spark, out))
        n_lineage = read_lineage(spark, out).count()
        build_graph_resumable(spark, concepts, edges, synonyms, tdf, out, cfg, n_chunks=3)
        assert read_lineage(spark, out).count() == n_lineage  # nothing re-ran
        assert triple_set(read_triples(spark, out)) == before


def test_resume_rejects_chunk_count_change(spark, inputs, tmp_path):
    for i, (concepts, edges, synonyms, tdf, cfg) in enumerate(inputs):
        out = str(tmp_path / f"graph3-{i}")
        with pytest.raises(RuntimeError, match="simulated failure"):
            build_graph_resumable(
                spark, concepts, edges, synonyms, tdf, out, cfg,
                n_chunks=4, fail_after_chunks=1,
            )
        with pytest.raises(ValueError, match="n_chunks"):
            build_graph_resumable(
                spark, concepts, edges, synonyms, tdf, out, cfg, n_chunks=2
            )
        # correct count resumes fine
        build_graph_resumable(spark, concepts, edges, synonyms, tdf, out, cfg, n_chunks=4)
        assert len(completed_chunks(spark, out)) == 5


def test_read_skips_uncommitted_chunk(spark, inputs, tmp_path):
    """A chunk directory whose data write finished but whose lineage commit
    row was never appended (crash in the gap) must be INVISIBLE to readers
    — the lineage commit record gates the read path."""
    for i, (concepts, edges, synonyms, tdf, cfg) in enumerate(inputs):
        out = str(tmp_path / f"graph-{i}")
        build_graph_resumable(
            spark, concepts, edges, synonyms, tdf, out, cfg, n_chunks=4
        )
        before = triple_set(read_triples(spark, out))

        # forge an orphan chunk dir exactly as write_committed_chunk lays it out
        # (pred-partitioned under chunk=N): data present, no lineage row
        orphan = read_triples(spark, out).limit(5).withColumn(
            "subj", F.concat(F.lit("ORPHAN_"), F.col("subj"))
        )
        orphan.write.mode("overwrite").partitionBy("pred").parquet(
            f"{out}/triples/chunk=99"
        )

        after = triple_set(read_triples(spark, out))
        assert after == before
        assert not any(s.startswith("ORPHAN_") for s, _, _ in after)
