"""Checkpointed, resumable graph build with per-partition lineage.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics" (BASELINE.json). The reference has no counterpart —
it is a one-shot single-JVM batch job; this is scale infrastructure.

Protocol (works on plain parquet here; the production seam is Iceberg —
swap the chunk write for an Iceberg append and pin the input to a
snapshot id for byte-identical resume reads):

  * Work is split into CHUNKS by a stable hash of conv_id
    (pmod(xxhash64(conv_id), n_chunks)) — deterministic under any input
    partitioning or parallelism. Conversations never straddle chunks, so
    per-chunk dedup ≡ global dedup for mention triples (the triple key
    embeds conv_id), and the ontology triples are their own chunk (-1).
  * A chunk commits in two steps: its data write, then one lineage file
    (run_id, partition_id, input_rows, output_triples, timestamps,
    checkpoint_id) as a JSON line, written under a dot-prefixed temp
    name and renamed into ``_lineage/part-<uuid>.json``. The rename is
    the atomic commit record. The counts are observed on the writes
    themselves (``DataFrame.observe``): output_triples on the chunk
    write, and every transcript chunk's input_rows on the one staging
    write of the input. A commit therefore runs the chunk's own write
    job and no other Spark work, and the log is read on the driver.
    ``write_committed_chunk`` is the one commit function: the resumable
    loop and the CLI's --refresh-from path both commit through it.
  * Resume: chunks present in lineage are skipped; data directories of
    non-committed chunks are deleted and rewritten (write-ahead dirs,
    commit via lineage) — exactly-once output regardless of where the
    previous run died.
  * Overlap: the staging write of the input runs on a background thread
    while the caller's thread runs the ontology stage (a driver pass with
    no Spark job), and the ontology chunk's commit runs on a background
    thread beside the transcript chunks. Background jobs inherit the
    caller's job group and tags. Each chunk still commits through its
    own write and lineage file, so the rules above hold unchanged. On
    failure:
      - the ontology stage raises → the staging job is cancelled by its
        tag and the error raised at once, with nothing committed; a
        staging cut short has no ``_counts.json`` and is staged again;
      - a transcript chunk raises → the in-flight ontology commit is
        waited for, then the error raised;
      - the ontology commit raises → its error is raised once the
        transcript chunks are through; they stay committed, and a rerun
        commits the ontology chunk alone.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor, wait
from pathlib import Path

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..config import PipelineConfig
from ..operators.mentions import extract_mentions
from ..plans.build_graph import (
    mention_triples,
    ontology_stage,
    triples_with_key,
)
from ..schemas import LINEAGE, TRIPLES
from ..session import local_frame

ONTOLOGY_CHUNK = -1
# the committed layout: triples/chunk=N/pred=X/part-*.parquet
_CHUNKED_TRIPLES = StructType(TRIPLES.fields + [StructField("chunk", IntegerType())])


def _lineage_path(output_dir: str) -> Path:
    return Path(output_dir, "_lineage")


def _write_atomic(path: Path, text: str) -> None:
    """Write ``text`` to ``path`` via a dot-prefixed temp file and a
    rename: readers see the whole file or none (Spark and the log reader
    both skip dot-prefixed names)."""
    tmp = path.with_name(f".{path.name}.tmp")
    tmp.write_text(text)
    os.replace(tmp, path)


def _lineage_dir(output_dir: str) -> Path | None:
    """The lineage log directory, None before the first commit. A log of
    parquet files (the layout before lineage files were JSON) is refused
    rather than read as a build with no commits."""
    p = _lineage_path(output_dir)
    if not p.is_dir():
        return None
    if any(p.glob("*.parquet")):
        raise ValueError(
            f"{p} holds a parquet lineage log of an older layout; rebuild "
            "this output"
        )
    return p


def _lineage_files(output_dir: str) -> list[Path]:
    """The committed lineage files: renamed-in ``part-*.json`` only, never
    a dot-prefixed temp file."""
    p = _lineage_dir(output_dir)
    return [] if p is None else sorted(p.glob("part-*.json"))


def lineage_rows(output_dir: str) -> list[dict]:
    """The committed lineage rows, read on the driver without a Spark job.
    Timestamps stay ISO strings here; ``read_lineage`` types them."""
    return [json.loads(f.read_text()) for f in _lineage_files(output_dir)]


def read_lineage(spark: SparkSession, output_dir: str) -> DataFrame:
    """The committed lineage rows as a LINEAGE frame. The scan lists the
    committed files by name: Spark drops underscore-prefixed directories
    from a directory listing (and warns that every path was ignored), so
    ``_lineage/`` itself is never handed to the reader. An empty log is
    an empty frame and runs no job."""
    files = _lineage_files(output_dir)
    if not files:
        return local_frame(spark, [], LINEAGE)
    return spark.read.schema(LINEAGE).json([str(f) for f in files])


def completed_chunks(spark: SparkSession, output_dir: str) -> set[int]:
    return {r["partition_id"] for r in lineage_rows(output_dir)}


def _utc_now() -> dt.datetime:
    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


def write_committed_chunk(
    spark: SparkSession,
    output_dir: str,
    chunk: int,
    df: DataFrame,
    input_rows: int,
    run_id: str,
) -> int:
    """Commit one chunk: discard leftovers → pred-partitioned write with
    its row count observed → lineage file renamed into place. The one
    commit path of the resumable loop and of the CLI's --refresh-from.
    Returns the committed row count."""
    started = _utc_now()
    chunk_dir = f"{output_dir}/triples/chunk={chunk}"
    # non-committed leftovers from a dead run are discarded
    shutil.rmtree(chunk_dir, ignore_errors=True)
    # pred partitioning (north star: triples partitioned by pred) —
    # layout: triples/chunk=N/pred=X/part-*.parquet; readers prune
    # whole predicate subtrees (e.g. only mentions-in) at the scan.
    observed = Observation()  # unnamed → a unique name per commit
    df.observe(observed, F.count(F.lit(1)).alias("n")).write.partitionBy(
        "pred"
    ).parquet(chunk_dir)
    n_out = observed.get["n"]
    row = {
        "run_id": run_id,
        "partition_id": chunk,
        "input_rows": input_rows,
        "output_triples": n_out,
        "started_ts": started.isoformat(),
        "finished_ts": _utc_now().isoformat(),
        "checkpoint_id": f"{run_id}:{chunk}",
    }
    lineage = _lineage_path(output_dir)
    lineage.mkdir(parents=True, exist_ok=True)
    _write_atomic(lineage / f"part-{uuid.uuid4().hex}.json", json.dumps(row) + "\n")
    return n_out


def _stage_input(transcripts: DataFrame, staging: str, n_chunks: int) -> list[int]:
    """Write the input partitioned by chunk key → per-chunk row counts,
    observed on that write and saved as ``_counts.json``, which is also
    the staging-complete marker (a staging dir without it is restaged)."""
    counts_path = Path(staging) / "_counts.json"
    if counts_path.exists():
        return json.loads(counts_path.read_text())["input_rows"]
    shutil.rmtree(staging, ignore_errors=True)
    staged = transcripts.withColumn(
        "_chunk", F.pmod(F.xxhash64("conv_id"), F.lit(n_chunks)).cast("int")
    )
    counts = Observation()
    staged.observe(
        counts, *[F.count_if(F.col("_chunk") == c).alias(str(c)) for c in range(n_chunks)]
    ).write.partitionBy("_chunk").parquet(staging)
    observed = counts.get
    input_rows = [observed[str(c)] for c in range(n_chunks)]
    _write_atomic(counts_path, json.dumps({"input_rows": input_rows}))
    return input_rows


def build_graph_resumable(
    spark: SparkSession,
    concepts: DataFrame,
    edges: DataFrame,
    synonyms: DataFrame,
    transcripts: DataFrame,
    output_dir: str,
    cfg: PipelineConfig | None = None,
    n_chunks: int = 8,
    run_id: str | None = None,
    fail_after_chunks: int | None = None,
) -> str:
    """Write the full triple set under ``output_dir/triples`` with
    exactly-once chunk commits. Returns the run_id.

    fail_after_chunks: test hook — raise after committing that many
    transcript chunks (simulates a mid-job kill for resume tests).
    """
    cfg = cfg or PipelineConfig()
    run_id = run_id or uuid.uuid4().hex[:12]
    done = completed_chunks(spark, output_dir)

    # The chunk keying (pmod(hash, n_chunks)) is part of the output's
    # identity: resuming with a different n_chunks would silently skip or
    # double-process conversations. Pin it on first run, validate after.
    meta_path = Path(output_dir) / "_job_meta.json"
    if meta_path.exists():
        meta = json.loads(meta_path.read_text())
        if meta["n_chunks"] != n_chunks:
            raise ValueError(
                f"resume with n_chunks={n_chunks} but this output was started "
                f"with n_chunks={meta['n_chunks']} — chunk keying would change; "
                f"pass --chunks {meta['n_chunks']} or use a fresh output dir"
            )
    else:
        meta_path.parent.mkdir(parents=True, exist_ok=True)
        meta_path.write_text(json.dumps({"n_chunks": n_chunks}))

    # Stage the input ONCE, partitioned by the chunk key: one scan of the
    # transcripts total, and every per-chunk read below is a pruned scan
    # of a single _chunk directory (filtering the raw input per chunk
    # would re-scan everything n_chunks times). The staging dir is also
    # the pinned-input checkpoint: a resumed run reads the identical bytes
    # (the Iceberg analog is a snapshot-id-pinned read). The staging write
    # and the ontology commit depend on nothing the other steps produce,
    # so they run in the background while the caller's thread runs the
    # ontology stage and then the transcript chunks.
    todo = [c for c in range(n_chunks) if c not in done]
    staging = f"{output_dir}/_staged_input"
    sc = spark.sparkContext
    staging_tag = f"stage-input-{uuid.uuid4().hex}"

    def stage_input() -> list[int]:
        sc.addJobTag(staging_tag)  # this thread's own copy of the properties
        return _stage_input(transcripts, staging, n_chunks)

    def in_background(fn, *args):
        # wrapped per call: each target gets its own copy of the caller's
        # local properties (job group, tags), so the staging tag stays on
        # the staging job
        return pool.submit(inheritable_thread_target(spark)(fn), *args)

    with ThreadPoolExecutor(max_workers=2) as pool:
        staged = in_background(stage_input) if todo else None
        try:
            stage = ontology_stage(
                concepts, edges, synonyms, cfg, hierarchy=ONTOLOGY_CHUNK not in done
            )
        except BaseException:
            # a bad ontology fails the build at once: cancel the staging
            # write rather than wait it out, until the worker returns (its
            # job may not be submitted yet). A staging left without its
            # _counts.json is staged again by the next run.
            while staged is not None and not staged.done():
                sc.cancelJobsWithTag(staging_tag)
                wait([staged], timeout=0.1)
            raise
        cfg = stage.cfg
        # keyed and deduplicated on the driver: the commit is one write job
        ontology_commit = (
            in_background(
                write_committed_chunk, spark, output_dir, ONTOLOGY_CHUNK,
                stage.triples, stage.n_concepts, run_id,
            )
            if ONTOLOGY_CHUNK not in done
            else None
        )
        try:
            input_rows = staged.result() if staged is not None else []
            for written, chunk in enumerate(todo, 1):
                part = (
                    spark.read.schema(transcripts.schema)
                    .parquet(f"{staging}/_chunk={chunk}")
                    if Path(f"{staging}/_chunk={chunk}").exists()
                    else transcripts.limit(0)
                )
                # pairs_only: batch-local dedup inside the UDF (same as build_graph)
                pairs = extract_mentions(part, stage.dictionary, cfg, pairs_only=True)
                write_committed_chunk(
                    spark, output_dir, chunk, triples_with_key(mention_triples(pairs)),
                    input_rows[chunk], run_id,
                )
                if fail_after_chunks is not None and written >= fail_after_chunks:
                    raise RuntimeError(f"simulated failure after {written} chunks")
        finally:
            # whatever became of the transcript chunks, the ontology commit
            # finishes before the call returns, and its failure is raised
            if ontology_commit is not None:
                ontology_commit.result()
    # every chunk is committed once the loop returns → the staged input
    # has served its purpose
    shutil.rmtree(staging, ignore_errors=True)
    return run_id


def read_triples(spark: SparkSession, output_dir: str) -> DataFrame:
    """Committed-only read: the lineage table IS the commit log, so the
    scan is filtered to chunks with a lineage row. A chunk whose data
    write finished but whose lineage file was not renamed in (crash in
    the gap) is invisible to readers until a resume rewrites and commits
    it — otherwise the 'commit record' would not actually gate the read
    path. The filter is on the chunk partition column → partition
    pruning, no extra scan. The explicit schema reads chunk directories
    that hold no part files (every row of the chunk empty) as no rows,
    and lets a corrupt part file raise."""
    committed = completed_chunks(spark, output_dir)
    df = spark.read.schema(_CHUNKED_TRIPLES).parquet(f"{output_dir}/triples")
    return df.filter(F.col("chunk").isin(sorted(committed))).drop("chunk")
