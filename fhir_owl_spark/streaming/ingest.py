"""Structured Streaming ingestion of transcripts.

The reference is strictly batch (one-shot CLI, SURVEY.md §2.7), so
streaming is NOT needed for parity — this module is the forward path for
continuous transcript feeds. The batch operators compose unchanged:
``extract_mentions`` is map-only (mapInPandas works on streaming
DataFrames), so the streaming pipeline is the batch pipeline with a
streaming source and an incremental sink.

Patterns covered:
  * file-source stream → mention triples → append sink (exactly-once via
    the sink's own checkpoint/commit log);
  * watermarked sliding-window mention counts for late-arriving turns
    (event time = ts from the transcript row).

Tests drive both with Trigger.AvailableNow against a static directory —
semantically identical to a live stream, replayable in CI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import PipelineConfig
from ..operators.mentions import extract_mentions
from ..plans.build_graph import mention_triples
from ..schemas import TRANSCRIPTS


def read_transcript_stream(spark: SparkSession, input_path: str) -> DataFrame:
    """File-source stream of transcript parquet (schema is fixed —
    streaming sources require it declared up front)."""
    return spark.readStream.schema(TRANSCRIPTS).parquet(input_path)


def stream_mention_triples(
    transcripts: DataFrame, dictionary: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Streaming mention triples. Map-only — no state, no watermark needed.

    Dedup note: a streaming global dropDuplicates would need unbounded
    state; instead the sink stays append-only and dedup happens at read
    time (or compaction), exactly like the batch lineage protocol."""
    return mention_triples(extract_mentions(transcripts, dictionary, cfg))


def windowed_mention_counts(
    transcripts: DataFrame,
    dictionary: DataFrame,
    cfg: PipelineConfig,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window mention counts per entity.

    Event time rides THROUGH the mention UDF (carry_cols — no
    stream-stream join, no extra state); late turns inside the watermark
    still update their window, older ones are dropped — bounded state at
    any input rate."""
    m = extract_mentions(transcripts, dictionary, cfg, carry_cols=("ts",))
    return (
        m.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "code")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .select("win.start", "win.end", "code", "n_mentions")
    )


def start_mention_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    dictionary: DataFrame,
    cfg: PipelineConfig,
    available_now: bool = True,
):
    """Wire source → mention triples → parquet append sink. Returns the
    StreamingQuery; with available_now the query drains the current input
    and stops (replayable-everywhere stand-in for a live trigger)."""
    transcripts = read_transcript_stream(spark, input_path)
    triples = stream_mention_triples(transcripts, dictionary, cfg)
    writer = (
        triples.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_stream(
    transcripts: DataFrame,
    watermark: str = "2 hours",
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Streaming dedup with BOUNDED state: dropDuplicatesWithinWatermark
    on the key columns — the streaming analog of the batch key-hash dedup
    (A5). Exactly-once within the watermark horizon; a duplicate arriving
    later than the watermark is the sink-compaction layer's problem, the
    same contract as the batch lineage protocol. State size is bounded by
    (input rate × watermark), independent of total stream length — the
    property an unbounded global dropDuplicates lacks."""
    return transcripts.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )
