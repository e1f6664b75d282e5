#!/usr/bin/env python
"""spark-submit entry point for the STREAMING pipelines.

    spark-submit --py-files fhir_owl_spark.zip jobs/stream_pipeline.py \
        <subcommand> --input DIR --output DIR --checkpoint DIR [options]

Subcommands (each wraps a tested streaming/ module; Trigger.AvailableNow
by default so a run drains the backlog and exits — pass --continuous for
a live 30s-trigger stream):

  mentions     transcript file stream → mention triples (exactly-once
               append sink; streaming/ingest.start_mention_stream)
  sessionize   stateful inactivity-gap sessionization
               (applyInPandasWithState; streaming/sessions)
  dedup        exact content dedup within a watermark window
               (dropDuplicatesWithinWatermark; streaming/dedup)
  near-dup     incremental minhash+LSH near-dup vs the versioned
               first-seen bucket store (streaming/near_dup)
  classify     linear-classifier quality scoring per micro-batch
               (foreachBatch over the audited batch operator;
               static model table joined broadcast)
  burst        stateful bucketed burst detection per key
               (applyInPandasWithState; streaming/bursts — rows emitted
               when a bucket closes; batch-identical, see module doc)

The reference is strictly batch; this CLI is the engine-added forward
path for continuous transcript feeds. All six subcommands have
stream ≡ batch equivalence tests in tests/test_streaming.py / test_cli.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="Streaming transcript pipelines")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp, needs_dict=False):
        sp.add_argument("--input", required=True, help="input parquet stream dir")
        sp.add_argument("--output", required=True)
        sp.add_argument("--checkpoint", required=True)
        sp.add_argument("--continuous", action="store_true",
                        help="30s processing-time trigger instead of "
                             "drain-and-exit (AvailableNow)")
        sp.add_argument("--cpus", type=int, default=8)
        if needs_dict:
            sp.add_argument("--fixture", choices=["pizza", "duo", "qops"],
                            default="qops",
                            help="built-in fixture ontology for the "
                                 "dictionary (production: --concepts/"
                                 "--synonyms parquet)")
            sp.add_argument("--concepts", help="parquet dir: ontology_concepts")
            sp.add_argument("--synonyms", help="parquet dir: ontology_synonyms")

    common(sub.add_parser("mentions", help="stream → mention triples"),
           needs_dict=True)

    sz = sub.add_parser("sessionize", help="stateful sessionization")
    common(sz)
    sz.add_argument("--gap", default="30 minutes")

    dd = sub.add_parser("dedup", help="exact dedup within watermark")
    common(dd)
    dd.add_argument("--watermark", default="10 minutes")
    dd.add_argument("--text-col", default="text")
    dd.add_argument("--ts-col", default="ts")
    dd.add_argument("--schema", default=None,
                    help="input DDL schema (required for an empty landing dir)")

    nd = sub.add_parser("near-dup", help="incremental LSH near-dup")
    common(nd)
    nd.add_argument("--store", required=True,
                    help="versioned band-bucket store dir")
    nd.add_argument("--threshold", type=float, default=0.8)
    nd.add_argument("--n-hashes", type=int, default=64)
    nd.add_argument("--n-bands", type=int, default=16)
    nd.add_argument("--text-col", default="text")
    nd.add_argument("--id-col", default="doc_id")
    nd.add_argument("--schema", default=None,
                    help="input DDL schema (required for an empty landing dir)")

    cl = sub.add_parser("classify",
                        help="linear-classifier quality scores on a "
                             "document stream (stream-static model join)")
    common(cl)
    cl.add_argument("--weights", required=True,
                    help="parquet path of the (term, weight) model table")
    cl.add_argument("--bias", type=float, default=0.0)
    cl.add_argument("--text-col", default="text")
    cl.add_argument("--id-col", default="doc_id")
    cl.add_argument("--schema", default=None,
                    help="input DDL schema (required for an empty landing dir)")

    bu = sub.add_parser("burst",
                        help="stateful bucketed burst detection "
                             "(trailing-baseline spike flags per key)")
    common(bu)
    bu.add_argument("--key-col", default="event_type")
    bu.add_argument("--ts-col", default="ts")
    bu.add_argument("--resolution", default="day",
                    choices=("minute", "hour", "day"))
    bu.add_argument("--baseline-buckets", type=int, default=7)
    bu.add_argument("--factor", type=int, default=2)
    bu.add_argument("--min-baseline", type=int, default=3)
    bu.add_argument("--schema", default=None,
                    help="input DDL schema (required for an empty landing dir)")

    return p.parse_args(argv)


def _doc_schema(spark, args):
    """Stream schema for the document subcommands: --schema DDL wins;
    otherwise infer from existing files. A live deployment against a
    still-empty landing directory MUST pass --schema — failing loudly
    here beats the opaque AnalysisException a batch inference throws."""
    if args.schema:
        from pyspark.sql.types import StructType

        return StructType.fromDDL(args.schema)
    try:
        return spark.read.parquet(args.input).schema
    except Exception as exc:
        raise SystemExit(
            f"cannot infer schema from {args.input} ({exc}); pass "
            "--schema 'doc_id long, text string, …' for an empty/"
            "not-yet-populated landing directory"
        ) from exc


def main(argv=None) -> int:
    args = parse_args(argv)

    from fhir_owl_spark.session import get_spark

    spark = get_spark(app_name=f"stream-{args.cmd}", parallelism=args.cpus,
                      shuffle_partitions=args.cpus)
    spark.sparkContext.setLogLevel("WARN")

    def writer(df):
        w = (df.writeStream.format("parquet")
             .option("path", args.output)
             .option("checkpointLocation", args.checkpoint)
             .outputMode("append"))
        if args.continuous:
            return w.trigger(processingTime="30 seconds")
        return w.trigger(availableNow=True)

    if args.cmd == "mentions":
        from fhir_owl_spark import fixtures as fx
        from fhir_owl_spark.operators.dictionary import build_concept_dictionary
        from fhir_owl_spark.streaming.ingest import (
            read_transcript_stream,
            stream_mention_triples,
        )

        if bool(args.concepts) != bool(args.synonyms):
            raise SystemExit(
                "--concepts and --synonyms must be given TOGETHER (a lone "
                "flag would silently fall back to the fixture ontology)"
            )
        if args.concepts and args.synonyms:
            concepts = spark.read.parquet(args.concepts)
            synonyms = spark.read.parquet(args.synonyms)
            # dictionary config: default label/synonym properties (see
            # --help) — for custom --display-prop/--synonym-props style
            # configs, run the batch CLI (jobs/build_graph.py), which
            # exposes the full option surface; the streaming CLI keeps
            # the dictionary surface minimal by design
            _, cfg = fx.query_ops_fixture()
        else:
            ont, cfg = {
                "pizza": fx.pizza_fixture,
                "duo": fx.duo_fixture,
                "qops": fx.query_ops_fixture,
            }[args.fixture]()
            concepts, _, synonyms = fx.ontology_dfs(spark, ont)
        dictionary = build_concept_dictionary(concepts, synonyms, cfg)
        stream = read_transcript_stream(spark, args.input)
        q = writer(stream_mention_triples(stream, dictionary, cfg)).start()
    elif args.cmd == "sessionize":
        from fhir_owl_spark.schemas import TRANSCRIPTS
        from fhir_owl_spark.streaming.sessions import sessionize_stream

        stream = spark.readStream.schema(TRANSCRIPTS).parquet(args.input)
        q = writer(sessionize_stream(stream, gap=args.gap)).start()
    elif args.cmd == "dedup":
        from fhir_owl_spark.streaming.dedup import streaming_exact_dedup

        stream = spark.readStream.schema(_doc_schema(spark, args)).parquet(args.input)
        q = writer(
            streaming_exact_dedup(
                stream, text_col=args.text_col, ts_col=args.ts_col,
                watermark_delay=args.watermark,
            )
        ).start()
    elif args.cmd == "burst":
        from fhir_owl_spark.streaming.bursts import burst_stream

        stream = spark.readStream.schema(_doc_schema(spark, args)).parquet(args.input)
        q = writer(
            burst_stream(
                stream, key_col=args.key_col, ts_col=args.ts_col,
                resolution=args.resolution,
                baseline_buckets=args.baseline_buckets,
                factor=args.factor, min_baseline=args.min_baseline,
            )
        ).start()
    elif args.cmd == "classify":
        from fhir_owl_spark.operators.text import linear_classifier_score

        stream = spark.readStream.schema(_doc_schema(spark, args)).parquet(args.input)
        weights = spark.read.parquet(args.weights).localCheckpoint()
        # map-side plan end to end: tokens explode + BROADCAST
        # stream-static model join + per-doc agg — but a streaming
        # aggregation needs a watermark/output mode; instead score each
        # micro-batch with the BATCH operator via foreachBatch, which
        # reuses the audited batch plan verbatim (the near-dup pattern)
        def _score_batch(batch_df, batch_id):
            (linear_classifier_score(
                batch_df, weights, bias=args.bias,
                text_col=args.text_col, id_col=args.id_col)
             .join(batch_df, args.id_col)
             .write.mode("append").parquet(args.output))

        w = (stream.writeStream.foreachBatch(_score_batch)
             .option("checkpointLocation", args.checkpoint))
        if args.continuous:
            w = w.trigger(processingTime="30 seconds")
        else:
            w = w.trigger(availableNow=True)
        q = w.start()
    else:  # near-dup
        from fhir_owl_spark.streaming.near_dup import start_near_dup_stream

        stream = spark.readStream.schema(_doc_schema(spark, args)).parquet(args.input)
        if args.continuous:
            raise SystemExit("near-dup runs foreachBatch with AvailableNow; "
                             "rerun the job to drain new data")
        q = start_near_dup_stream(
            spark, stream, args.output, args.store, args.checkpoint,
            text_col=args.text_col, id_col=args.id_col,
            n_hashes=args.n_hashes, n_bands=args.n_bands,
            threshold=args.threshold,
        )

    if args.continuous:
        q.awaitTermination()
    elif not q.awaitTermination(3600):
        # a drain that outlives the timeout must NOT look like success:
        # process exit would kill the query mid-drain and leave partial
        # output behind a zero exit code (r5 self-review round 2)
        q.stop()
        raise SystemExit(
            f"{args.cmd}: drain did not finish within 3600s — partial "
            f"output in {args.output}; rerun with the same --checkpoint "
            "to resume exactly where it stopped"
        )
    status = {"cmd": args.cmd, "output": args.output,
              "checkpoint": args.checkpoint}
    print(json.dumps(status))
    return 0


if __name__ == "__main__":
    sys.exit(main())
