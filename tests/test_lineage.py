"""Checkpoint/resume: a job killed mid-run must resume from lineage and
produce the identical triple set (BASELINE.md resume-correctness row)."""

from __future__ import annotations

import dataclasses
import json
import shutil
from collections import Counter
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from fhir_owl_spark import fixtures as fx
from fhir_owl_spark.plans.build_graph import build_graph
from fhir_owl_spark.plans.lineage import (
    build_graph_resumable,
    completed_chunks,
    lineage_rows,
    read_lineage,
    read_triples,
)
from fhir_owl_spark.schemas import TRIPLES


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


def rows_by_hash(tdf):
    """xxhash64(conv_id) of every transcript row: the model of the chunk
    key, pmod(xxhash64(conv_id), n) (Python's % is non-negative too)."""
    return Counter(
        r["h"] for r in tdf.select(F.xxhash64("conv_id").alias("h")).collect()
    )


def assert_lineage_counts(spark, out, concepts, tdf, n_chunks):
    """Each committed chunk's lineage counts equal the model: input_rows
    = the chunk's transcript rows (the concept rows for the ontology
    chunk), output_triples = the rows committed under its directory."""
    model_in = Counter()
    for h, n in rows_by_hash(tdf).items():
        model_in[h % n_chunks] += n
    model_in[-1] = concepts.count()
    committed = {
        r["chunk"]: r["count"]
        for r in spark.read.parquet(f"{out}/triples").groupBy("chunk").count().collect()
    }
    rows = read_lineage(spark, out).collect()
    assert sorted(r["partition_id"] for r in rows) == list(range(-1, n_chunks))
    for r in rows:
        c = r["partition_id"]
        assert r["input_rows"] == model_in[c], (c, r["input_rows"], model_in[c])
        assert r["output_triples"] == committed.get(c, 0), (c, r["output_triples"])


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

        assert_lineage_counts(spark, out, concepts, tdf, 4)

        resumed = triple_set(read_triples(spark, out))
        single_shot = triple_set(
            build_graph(spark, concepts, edges, synonyms, tdf, cfg)
        )
        assert resumed == single_shot


def test_lineage_counts_match_chunk_rows(spark, inputs, tmp_path):
    """With a chunk count that leaves one chunk without conversations
    (its empty-input branch), every lineage row's input_rows and
    output_triples equal the chunk's transcript rows and committed rows."""
    for i, (concepts, edges, synonyms, tdf, cfg) in enumerate(inputs):
        hashes = rows_by_hash(tdf)
        n_chunks = next(
            n for n in range(2, 64) if len({h % n for h in hashes}) < n
        )
        out = str(tmp_path / f"graph-{i}")
        build_graph_resumable(
            spark, concepts, edges, synonyms, tdf, out, cfg, n_chunks=n_chunks
        )
        assert_lineage_counts(spark, out, concepts, tdf, n_chunks)
        assert not Path(f"{out}/_staged_input").exists()


def test_restages_input_without_counts(spark, inputs, tmp_path):
    """A staged input without its counts file is incomplete (the staging
    write died before the counts were saved) and is staged again on
    resume: a chunk directory missing from it must not read as empty."""
    for i, (concepts, edges, synonyms, tdf, cfg) in enumerate(inputs):
        out = str(tmp_path / f"graph-{i}")
        with pytest.raises(RuntimeError, match="simulated failure"):
            build_graph_resumable(
                spark, concepts, edges, synonyms, tdf, out, cfg,
                n_chunks=4, fail_after_chunks=1,
            )
        staging = Path(out) / "_staged_input"
        (staging / "_counts.json").unlink()
        shutil.rmtree(staging / "_chunk=3")
        build_graph_resumable(
            spark, concepts, edges, synonyms, tdf, out, cfg, n_chunks=4
        )
        assert_lineage_counts(spark, out, concepts, tdf, 4)
        assert triple_set(read_triples(spark, out)) == triple_set(
            build_graph(spark, concepts, edges, synonyms, tdf, cfg)
        )


def test_read_raises_on_corrupt_commit(spark, inputs, tmp_path):
    """Corrupt part files under committed chunks fail the read instead of
    reading back as an empty graph."""
    concepts, edges, synonyms, tdf, cfg = inputs[0]
    out = str(tmp_path / "graph")
    build_graph_resumable(spark, concepts, edges, synonyms, tdf, out, cfg, n_chunks=2)
    for part in Path(out, "triples").glob("chunk=*/pred=*/part-*.parquet"):
        part.write_bytes(b"not parquet")
    with pytest.raises(Exception, match="is not a Parquet file"):
        read_triples(spark, out).count()


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
    """A chunk directory whose data write finished but whose lineage file
    was never renamed into place (crash in the gap) must be INVISIBLE to
    readers — the lineage commit record gates the read path."""
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
        # ... and its lineage row written but never renamed into place
        row = read_lineage(spark, out).first().asDict()
        row.update(partition_id=99, started_ts=None, finished_ts=None)
        Path(f"{out}/_lineage/.part-orphan.json.tmp").write_text(json.dumps(row))

        assert 99 not in completed_chunks(spark, out)
        assert read_lineage(spark, out).filter("partition_id = 99").count() == 0
        after = triple_set(read_triples(spark, out))
        assert after == before
        assert not any(s.startswith("ORPHAN_") for s, _, _ in after)


def test_read_lineage_reads_committed_files(spark, inputs, tmp_path):
    """read_lineage scans exactly the committed part files (named, so
    Spark's hidden-directory filter never sees ``_lineage/``), returns the
    rows lineage_rows reads, skips a dot-prefixed temp file, and reads an
    empty log without a Spark job."""
    import uuid
    from urllib.parse import urlparse

    concepts, edges, synonyms, tdf, cfg = inputs[0]
    out = str(tmp_path / "graph")
    sc = spark.sparkContext
    group = f"read-lineage-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        assert read_lineage(spark, out).collect() == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []

    build_graph_resumable(spark, concepts, edges, synonyms, tdf, out, cfg, n_chunks=2)
    log = Path(out, "_lineage")
    (log / ".part-pending.json.tmp").write_text('{"partition_id": 7}\n')
    committed = sorted(log.glob("part-*.json"))
    assert len(committed) == 3

    df = read_lineage(spark, out)
    assert sorted(Path(urlparse(f).path) for f in df.inputFiles()) == committed
    keys = ("partition_id", "input_rows", "output_triples", "run_id", "checkpoint_id")
    rows = df.collect()
    assert all(r["started_ts"] and r["finished_ts"] for r in rows)
    assert sorted(tuple(r[k] for k in keys) for r in rows) == sorted(
        tuple(r[k] for k in keys) for r in lineage_rows(out)
    )


def test_rejects_parquet_lineage_log(spark, tmp_path):
    """An output whose lineage log is parquet (the layout before lineage
    files were JSON) is refused, not read as a build with no commits."""
    (tmp_path / "_lineage").mkdir()
    (tmp_path / "_lineage" / "part-00000.snappy.parquet").write_bytes(b"")
    with pytest.raises(ValueError, match="older layout"):
        completed_chunks(spark, str(tmp_path))
    with pytest.raises(ValueError, match="older layout"):
        read_lineage(spark, str(tmp_path))


def test_ontology_chunk_layout(spark, inputs, tmp_path):
    """The ontology chunk of a one-chunk build is one part file per
    predicate it holds, and its parquet schema keeps ``subj`` and
    ``obj_type`` required and ``obj``, ``conv_id`` and ``key_hash``
    optional (``pred`` is the partition directory)."""
    import pyarrow.parquet as pq

    for i, (concepts, edges, synonyms, tdf, cfg) in enumerate(inputs):
        out = str(tmp_path / f"graph-{i}")
        build_graph_resumable(spark, concepts, edges, synonyms, tdf, out, cfg, n_chunks=1)
        chunk = Path(out, "triples", "chunk=-1")
        preds = {
            r["pred"] for r in spark.read.parquet(str(chunk)).select("pred").distinct().collect()
        }
        parts = sorted(chunk.glob("pred=*/part-*.parquet"))
        assert sorted(p.parent.name for p in parts) == sorted(f"pred={p}" for p in preds)
        for part in parts:
            schema = pq.read_schema(part)
            assert {f.name: f.nullable for f in schema} == {
                "subj": False, "obj": True, "obj_type": False,
                "conv_id": True, "key_hash": True,
            }, part


def test_cyclic_ontology_fails_before_any_commit(spark, tmp_path):
    """A cyclic ontology in abort mode raises from the ontology stage
    while the input is being staged: the staging write is cancelled, and
    nothing is committed. A rerun on the fixed ontology restages the
    input or reuses a staging that completed, and commits every chunk
    once."""
    from fhir_owl_spark.operators.hierarchy import HierarchyCycleError

    ont, cfg = fx.cycle_fixture()
    tdf = fx.transcripts_df(
        spark, fx.make_transcripts(ont, cfg, n_conv=40, seed=42)
    ).localCheckpoint()
    out = str(tmp_path / "graph")
    with pytest.raises(HierarchyCycleError):
        build_graph_resumable(spark, *fx.ontology_dfs(spark, ont), tdf, out, cfg, n_chunks=4)
    assert not list(Path(out).glob("_lineage/part-*.json"))

    back_edge = (fx.PIZZA_NS + "B", fx.PIZZA_NS + "A")
    ont.edges = [e for e in ont.edges if (e["child_iri"], e["parent_iri"]) != back_edge]
    concepts, edges, synonyms = fx.ontology_dfs(spark, ont)
    build_graph_resumable(spark, concepts, edges, synonyms, tdf, out, cfg, n_chunks=4)
    assert_lineage_counts(spark, out, concepts, tdf, 4)
    assert triple_set(read_triples(spark, out)) == triple_set(
        build_graph(spark, concepts, edges, synonyms, tdf, cfg)
    )


def test_ontology_commit_failure_is_raised(spark, inputs, tmp_path, monkeypatch):
    """The ontology chunk commits on a background thread; its failure is
    raised by the call once the transcript chunks are through. Those stay
    committed, and a rerun commits the ontology chunk exactly once."""
    from fhir_owl_spark.plans import lineage

    concepts, edges, synonyms, tdf, cfg = inputs[0]
    out = str(tmp_path / "graph")
    commit = lineage.write_committed_chunk
    failed = []

    def fail_ontology_commit_once(spark, output_dir, chunk, *args):
        if chunk == lineage.ONTOLOGY_CHUNK and not failed:
            failed.append(chunk)
            raise OSError("ontology commit failed")
        return commit(spark, output_dir, chunk, *args)

    monkeypatch.setattr(lineage, "write_committed_chunk", fail_ontology_commit_once)
    with pytest.raises(OSError, match="ontology commit failed"):
        build_graph_resumable(spark, concepts, edges, synonyms, tdf, out, cfg, n_chunks=4)
    assert completed_chunks(spark, out) == {0, 1, 2, 3}

    build_graph_resumable(spark, concepts, edges, synonyms, tdf, out, cfg, n_chunks=4)
    ids = [r["partition_id"] for r in lineage_rows(out)]
    assert sorted(ids) == [-1, 0, 1, 2, 3]
    assert_lineage_counts(spark, out, concepts, tdf, 4)
    assert not Path(f"{out}/_staged_input").exists()
    cols = TRIPLES.fieldNames()
    assert sorted(read_triples(spark, out).select(cols).collect()) == sorted(
        build_graph(spark, concepts, edges, synonyms, tdf, cfg).select(cols).collect()
    )
