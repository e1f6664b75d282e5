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
  * Each completed chunk appends one lineage row
    (run_id, partition_id, input_rows, output_triples, timestamps,
    checkpoint_id) AFTER its data directory is fully written — the
    lineage row is the commit record. ``write_committed_chunk`` is the
    one commit function: the resumable loop and the CLI's --refresh-from
    path both commit through it.
  * Resume: chunks present in lineage are skipped; data directories of
    non-committed chunks are deleted and rewritten (write-ahead dirs,
    commit via lineage) — exactly-once output regardless of where the
    previous run died.
"""

from __future__ import annotations

import datetime as dt
import json
import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import PipelineConfig
from ..operators.hierarchy import build_hierarchy
from ..operators.mentions import extract_mentions
from ..plans.build_graph import (
    concept_triples,
    mention_triples,
    ontology_stage,
    triples_with_key,
)
from ..schemas import LINEAGE, TRIPLES

ONTOLOGY_CHUNK = -1


def _lineage_path(output_dir: str) -> str:
    return f"{output_dir}/_lineage"


def read_lineage(spark: SparkSession, output_dir: str) -> DataFrame:
    p = Path(_lineage_path(output_dir))
    if not p.exists() or not any(p.iterdir()):
        return spark.createDataFrame([], LINEAGE)
    return spark.read.schema(LINEAGE).parquet(str(p))


def completed_chunks(spark: SparkSession, output_dir: str) -> set[int]:
    return {
        r["partition_id"] for r in read_lineage(spark, output_dir).select("partition_id").collect()
    }


def _commit_lineage(spark, output_dir, run_id, chunk, input_rows, output_rows,
                    started, checkpoint_id):
    row = [
        (
            run_id,
            chunk,
            input_rows,
            output_rows,
            started,
            dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
            checkpoint_id,
        )
    ]
    spark.createDataFrame(row, LINEAGE).coalesce(1).write.mode("append").parquet(
        _lineage_path(output_dir)
    )


def write_committed_chunk(
    spark: SparkSession,
    output_dir: str,
    chunk: int,
    df: DataFrame,
    input_rows: int,
    run_id: str,
) -> int:
    """Commit one chunk: discard leftovers → pred-partitioned write →
    schema-read count → lineage append. The one commit path of the
    resumable loop and of the CLI's --refresh-from. Returns the
    committed row count."""
    started = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    chunk_dir = f"{output_dir}/triples/chunk={chunk}"
    # non-committed leftovers from a dead run are discarded
    shutil.rmtree(chunk_dir, ignore_errors=True)
    # pred partitioning (north star: triples partitioned by pred) —
    # layout: triples/chunk=N/pred=X/part-*.parquet; readers prune
    # whole predicate subtrees (e.g. only mentions-in) at the scan.
    df.write.partitionBy("pred").parquet(chunk_dir)
    # explicit schema: an empty chunk writes no part files and schema
    # inference would fail (TRIPLES includes the pred partition column)
    n_out = spark.read.schema(TRIPLES).parquet(chunk_dir).count()
    _commit_lineage(
        spark, output_dir, run_id, chunk, input_rows, n_out, started,
        f"{run_id}:{chunk}",
    )
    return n_out


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

    cfg, concepts, edges, dictionary = ontology_stage(
        concepts, edges, synonyms, cfg
    )
    if ONTOLOGY_CHUNK not in done:
        direct = build_hierarchy(concepts, edges, cfg)
        onto = triples_with_key(concept_triples(dictionary, direct, concepts, cfg))
        write_committed_chunk(
            spark, output_dir, ONTOLOGY_CHUNK, onto, concepts.count(), run_id
        )

    # Stage the input ONCE, partitioned by the chunk key: one scan of the
    # transcripts total, and every per-chunk read below is a pruned scan
    # of a single _chunk directory (filtering the raw input per chunk
    # would re-scan everything n_chunks times). The staging dir is also
    # the pinned-input checkpoint: a resumed run reads the identical bytes
    # (the Iceberg analog is a snapshot-id-pinned read).
    todo = [c for c in range(n_chunks) if c not in done]
    staging = f"{output_dir}/_staged_input"
    if todo and not Path(f"{staging}/_SUCCESS").exists():
        shutil.rmtree(staging, ignore_errors=True)
        (
            transcripts.withColumn(
                "_chunk", F.pmod(F.xxhash64("conv_id"), F.lit(n_chunks)).cast("int")
            )
            .write.partitionBy("_chunk")
            .parquet(staging)
        )
    written = 0
    for chunk in todo:
        part = (
            spark.read.schema(transcripts.schema)
            .parquet(f"{staging}/_chunk={chunk}")
            if Path(f"{staging}/_chunk={chunk}").exists()
            else transcripts.limit(0)
        )
        n_in = part.count()
        # pairs_only: batch-local dedup inside the UDF (same as build_graph)
        pairs = extract_mentions(part, dictionary, cfg, pairs_only=True)
        write_committed_chunk(
            spark, output_dir, chunk, triples_with_key(mention_triples(pairs)),
            n_in, run_id,
        )
        written += 1
        if fail_after_chunks is not None and written >= fail_after_chunks:
            raise RuntimeError(f"simulated failure after {written} chunks")
    # all chunks committed → the staged input has served its purpose
    if completed_chunks(spark, output_dir) >= set(range(n_chunks)) | {ONTOLOGY_CHUNK}:
        shutil.rmtree(staging, ignore_errors=True)
    return run_id


def read_triples(spark: SparkSession, output_dir: str) -> DataFrame:
    """Committed-only read: the lineage table IS the commit log, so the
    scan is filtered to chunks with a lineage row. A chunk whose data
    write finished but whose lineage append didn't (crash in the gap) is
    invisible to readers until a resume rewrites and commits it —
    otherwise the 'commit record' would not actually gate the read path.
    The filter is on the chunk partition column → partition pruning, no
    extra scan."""
    try:
        df = spark.read.parquet(f"{output_dir}/triples")
    except Exception:
        # every chunk empty → no part files anywhere → schema-less dirs
        return spark.createDataFrame([], TRIPLES)
    committed = completed_chunks(spark, output_dir)
    return df.filter(F.col("chunk").isin(sorted(committed))).drop("chunk")
