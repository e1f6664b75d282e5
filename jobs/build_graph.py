#!/usr/bin/env python
"""spark-submit entry point for the knowledge-graph build.

    spark-submit --py-files fhir_owl_spark.zip jobs/build_graph.py \
        --transcripts /data/transcripts --output /data/graph \
        --concepts /data/ont/concepts --edges /data/ont/edges \
        --synonyms /data/ont/synonyms [options]

Options mirror the reference CLI (Application.java:122-304): the concept
options map 1:1 onto ConceptProperties / CodeSystemProperties flags.
Runs the checkpoint/lineage-resumable plan; re-running with the same
--output resumes from the last committed chunk.

Local smoke (no cluster): python jobs/build_graph.py --fixture qops \
    --transcripts-from-documents /root/testdata/sf0.001 --output /tmp/g
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="Build a knowledge graph from transcripts")
    p.add_argument("--transcripts", help="parquet dir of transcripts (input_hint shape)")
    p.add_argument(
        "--transcripts-from-documents",
        help="sf dir: adapt documents.parquet into the transcript shape",
    )
    p.add_argument("--concepts", help="parquet dir: ontology_concepts")
    p.add_argument("--edges", help="parquet dir: ontology_edges")
    p.add_argument("--synonyms", help="parquet dir: ontology_synonyms")
    p.add_argument("--fixture", choices=["pizza", "duo", "qops"],
                   help="use a built-in fixture ontology instead of --concepts/...")
    p.add_argument("--owl", help="parse an OWL ontology document as the "
                                 "ontology — format auto-detected like the "
                                 "reference (RDF/XML, Turtle, OBO, functional "
                                 "syntax, OWL/XML, Manchester); driver-side, "
                                 "fixture scale (sources/)")
    p.add_argument("--owl-no-object-properties", action="store_true",
                   help="elk-style: classes only (FhirOwlService.java:543 guard)")
    p.add_argument("--reasoner", choices=["elk", "jfact"], default=None,
                   help="reference-style switch (Application.java 'r' option): "
                        "elk = classes only; jfact = also process object AND "
                        "data properties (FhirOwlService.java:543-585). "
                        "Overrides --owl-no-object-properties when given.")
    p.add_argument("--unsatisfiable", default="",
                   help="comma-separated IRIs of reasoner-detected unsatisfiable classes")
    p.add_argument("--owl-import", action="append", default=[],
                   metavar="IRI=PATH",
                   help="resolve an owl:imports IRI to a local file (repeatable) "
                        "— the iri_mappings.txt analog; imported documents are "
                        "parsed into the closure so imported-class displays "
                        "enrich instead of falling back to IRIs")
    p.add_argument("--iri-mappings", default=None,
                   help="file of IRI,local-path lines (# comments), same "
                        "format as the reference's iri_mappings.txt")
    p.add_argument("--fetch-remote-imports", action="store_true",
                   help="download unmapped owl:imports IRIs over HTTP(S) with "
                        "trust-all TLS, like the reference's default "
                        "(Application.java:86-113 trustEverything + OWL API "
                        "network load). Off by default here: prefer "
                        "--iri-mappings, the reference README's own "
                        "recommendation for large imports")
    p.add_argument("--output", required=True, help="output dir (triples + _lineage)")
    p.add_argument("--refresh-from", default=None, metavar="V1_OUTPUT_DIR",
                   help="incremental release refresh: read the previous "
                        "build's committed triples from this output dir and "
                        "re-extract mentions ONLY for concepts whose term "
                        "set changed (plans/refresh; result is identical to "
                        "a full rebuild). Bypasses the chunked resumable "
                        "path — the refresh itself is the cheap path")
    p.add_argument("--chunks", type=int, default=8)
    p.add_argument("--run-id", default=None)
    # ConceptProperties analogs
    p.add_argument("--code-prop", default=None)
    p.add_argument("--display-prop", default="label")
    p.add_argument("--synonym-props", default="label",
                   help="comma-separated synonym properties")
    p.add_argument("--code-replace", default=None, metavar="OLD:NEW",
                   help="literal replacement applied to local codes only")
    p.add_argument("--labels-to-exclude", default="", help="comma-separated")
    p.add_argument("--definition", default=None,
                   help="annotation property containing concepts' definitions. "
                        "ACCEPTED FOR CLI PARITY BUT UNUSED, exactly like the "
                        "reference: Application.java:321 stores it but "
                        "FhirOwlService never consults getDefinition and no "
                        "concept definition is ever emitted (same "
                        "validate-but-ignore class as -date)")
    p.add_argument("--include-deprecated", action="store_true")
    p.add_argument("--main-ns", default="", help="comma-separated namespace prefixes")
    # graft options
    p.add_argument("--link-deprecated", action="store_true")
    p.add_argument("--link-stop-terms", default="")
    p.add_argument("--check-order", action="store_true",
                   help="fail on duplicate (conv_id, turn_idx)")
    p.add_argument("--export-codesystem",
                   help="also write a FHIR-CodeSystem-shaped JSON of the "
                        "ontology side to this path (reference-diffable)")
    p.add_argument("--use-fhir-extension", action="store_true")
    p.add_argument("--date-regex", default=None)
    # CodeSystemProperties analogs (Application.java:122-304) — the
    # metadata long tail; all eagerly validated at parse time like the
    # reference's setters
    p.add_argument("--id", dest="cs_id", default=None,
                   help="technical id of the code system")
    p.add_argument("--language", default=None)
    p.add_argument("--url", default=None,
                   help="canonical identifier; default: ontology IRI")
    p.add_argument("--identifier", default=None,
                   help="comma-separated [system]|[value] business identifiers")
    p.add_argument("--version", default=None)
    p.add_argument("--name", default=None,
                   help="computer-friendly name; takes precedence over --name-prop")
    p.add_argument("--name-prop", default=None,
                   help="annotation property for the name; default rdfs:label")
    p.add_argument("--title", default=None)
    p.add_argument("--status", default="draft",
                   help="draft|active|retired|unknown")
    p.add_argument("--experimental", action="store_true")
    p.add_argument("--date", default=None,
                   help="published date (validated; the reference never emits "
                        "it — parity preserved)")
    p.add_argument("--publisher", default=None,
                   help="takes precedence over --publisher-prop")
    p.add_argument("--publisher-prop", default=None,
                   help="comma-separated annotation properties; default dc:publisher")
    p.add_argument("--contact", default=None,
                   help="comma-separated name|system|value contact details")
    p.add_argument("--description", default=None,
                   help="takes precedence over --description-prop")
    p.add_argument("--description-prop", default=None,
                   help="comma-separated annotation properties; default "
                        "dc:subject,rdfs:comment")
    p.add_argument("--purpose", default=None)
    p.add_argument("--jurisdiction", default=None,
                   help="comma-separated system|code|display jurisdictions")
    p.add_argument("--copyright", default=None)
    p.add_argument("--valueset", default=None)
    p.add_argument("--hierarchy-meaning", default="is-a",
                   help="grouped-by|is-a|part-of|classified-with")
    p.add_argument("--compositional", action="store_true")
    p.add_argument("--version-needed", action="store_true")
    p.add_argument("--content", default="complete",
                   help="not-present|example|fragment|complete|supplement")
    p.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    return p.parse_args(argv)


def build_config(args):
    from fhir_owl_spark.config import PipelineConfig
    from fhir_owl_spark.metadata import (
        parse_contacts,
        parse_identifiers,
        parse_jurisdictions,
        parse_prop_list,
    )

    code_replace = tuple(args.code_replace.split(":", 1)) if args.code_replace else None
    return PipelineConfig(
        code_prop=args.code_prop,
        display_prop=args.display_prop,
        synonym_props=tuple(s for s in args.synonym_props.split(",") if s),
        code_replace=code_replace,
        labels_to_exclude=tuple(s for s in args.labels_to_exclude.split(",") if s),
        include_deprecated=args.include_deprecated,
        main_namespaces=tuple(s for s in args.main_ns.split(",") if s),
        use_fhir_extension=args.use_fhir_extension,
        date_regex=args.date_regex,
        link_deprecated=args.link_deprecated,
        link_stop_terms=tuple(s for s in args.link_stop_terms.split(",") if s),
        # metadata long tail (validated eagerly: bad enum values / formats
        # abort here, before Spark work starts — reference setter parity)
        cs_id=args.cs_id,
        language=args.language,
        url=args.url,
        identifiers=parse_identifiers(args.identifier),
        version=args.version,
        name=args.name,
        name_prop=args.name_prop,
        title=args.title,
        status=args.status,
        experimental=args.experimental,
        date=args.date,
        publisher=args.publisher,
        publisher_props=parse_prop_list(args.publisher_prop) if args.publisher_prop else (),
        contacts=parse_contacts(args.contact) if args.contact else (),
        description=args.description,
        description_props=(
            parse_prop_list(args.description_prop) if args.description_prop else ()
        ),
        purpose=args.purpose,
        jurisdictions=parse_jurisdictions(args.jurisdiction) if args.jurisdiction else (),
        copyright=args.copyright,
        valueset=args.valueset,
        hierarchy_meaning=args.hierarchy_meaning,
        compositional=args.compositional,
        version_needed=args.version_needed,
        content=args.content,
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    from pyspark.sql import SparkSession

    from fhir_owl_spark import fixtures as fx
    from fhir_owl_spark.plans.build_graph import validate_turn_ordering
    from fhir_owl_spark.plans.lineage import (
        build_graph_resumable,
        lineage_rows,
        read_triples,
    )
    from fhir_owl_spark.session import get_spark

    # under spark-submit a session already exists; standalone we build one
    spark = SparkSession.getActiveSession() or get_spark(
        app_name="fhir-owl-spark-build", parallelism=args.cpus
    )
    spark.sparkContext.setLogLevel("WARN")

    if args.fixture:
        ont, fixture_cfg = {
            "pizza": fx.pizza_fixture,
            "duo": fx.duo_fixture,
            "qops": fx.query_ops_fixture,
        }[args.fixture]()
        concepts, edges, synonyms = fx.ontology_dfs(spark, ont)
        cfg = fixture_cfg
    elif args.owl:
        import dataclasses

        from fhir_owl_spark.sources.owl_xml import (
            RDFS_LABEL,
            load_owl_closure,
            parse_iri_mappings_file,
        )

        if args.reasoner is not None:
            include_obj = args.reasoner == "jfact"
            include_data = args.reasoner == "jfact"
        else:
            include_obj = not args.owl_no_object_properties
            include_data = False
        mappings: dict = {}
        if args.iri_mappings:
            mappings.update(parse_iri_mappings_file(args.iri_mappings))
        for m in args.owl_import:
            iri, _, path = m.partition("=")
            if not path:
                raise SystemExit(f"--owl-import needs IRI=PATH, got {m!r}")
            mappings[iri] = path
        kw = dict(
            include_object_properties=include_obj,
            include_data_properties=include_data,
            unsatisfiable_iris={s for s in args.unsatisfiable.split(",") if s},
        )
        if args.fetch_remote_imports:
            from fhir_owl_spark.sources.owl_xml import http_fetcher

            # CLI opts into reference parity explicitly: trust-all TLS
            # and any-host fetch, exactly what the flag's help documents
            # (Application.java:86-113); the LIBRARY default is verified
            # TLS + public hosts only
            kw["fetcher"] = http_fetcher(verify_tls=False, allow_private_hosts=True)
        if mappings or args.fetch_remote_imports:
            parsed = load_owl_closure(args.owl, mappings, **kw)
        else:
            # format-dispatching: the root document may be ANY of the six
            # serializations the reference's OWL API auto-detects
            from fhir_owl_spark.sources.turtle import parse_ontology_document

            parsed = parse_ontology_document(args.owl, **kw)
        concepts, edges, synonyms = fx.ontology_dfs(spark, parsed.tables)
        cfg = build_config(args)
        # remap only the UNTOUCHED defaults to the rdfs:label IRI — an
        # explicitly passed --display-prop/--synonym-props wins
        updates: dict = {"has_imports": parsed.has_imports}
        if args.display_prop == "label":
            updates["display_prop"] = RDFS_LABEL
        if args.synonym_props == "label":
            updates["synonym_props"] = (RDFS_LABEL,)
        cfg = dataclasses.replace(cfg, **updates)
    else:
        for req in ("concepts", "edges", "synonyms"):
            if not getattr(args, req):
                raise SystemExit(f"--{req} is required without --fixture")
        concepts = spark.read.parquet(args.concepts)
        edges = spark.read.parquet(args.edges)
        synonyms = spark.read.parquet(args.synonyms)
        cfg = build_config(args)

    if args.transcripts:
        transcripts = spark.read.parquet(args.transcripts)
    elif args.transcripts_from_documents:
        transcripts = fx.documents_as_transcripts(spark, args.transcripts_from_documents)
    else:
        raise SystemExit("--transcripts or --transcripts-from-documents is required")

    if args.check_order:
        bad = validate_turn_ordering(transcripts).limit(1).collect()
        if bad:
            raise SystemExit(
                f"turn-ordering invariant violated: conv_id={bad[0]['conv_id']}"
            )

    if args.refresh_from:
        import os as _os
        import uuid

        from fhir_owl_spark.plans.lineage import write_committed_chunk
        from fhir_owl_spark.plans.refresh import refresh_graph

        if args.export_codesystem:
            raise SystemExit(
                "--export-codesystem is not supported with --refresh-from; "
                "export from the full build (the CodeSystem is ontology-"
                "side only — a refresh never changes what it would export "
                "beyond what a plain rebuild exports)"
            )
        if _os.path.abspath(args.refresh_from) == _os.path.abspath(args.output):
            raise SystemExit(
                "--refresh-from must differ from --output: the refresh "
                "reads v1 LAZILY while writing, so an in-place refresh "
                "would delete its own input mid-job"
            )
        if _os.path.exists(f"{args.output}/_lineage"):
            raise SystemExit(
                f"--output {args.output} already holds a committed build; "
                "refreshing into it would leave stale chunks committed "
                "alongside the refreshed chunk — use a fresh output dir"
            )

        old_triples = read_triples(spark, args.refresh_from)
        refreshed = refresh_graph(
            spark, old_triples, concepts, edges, synonyms, transcripts, cfg
        )
        # write through the SAME committed layout as the resumable build
        # (one chunk + a lineage commit row) so read_triples — and a
        # future --refresh-from — read refresh output uniformly
        run_id = args.run_id or uuid.uuid4().hex[:12]
        v1_rows = sum(r["output_triples"] for r in lineage_rows(args.refresh_from))
        n_triples = write_committed_chunk(
            spark, args.output, 0, refreshed, v1_rows, run_id
        )
        summary = {
            "run_id": run_id,
            "refreshed_from": args.refresh_from,
            "output": args.output,
            "triples": n_triples,
            "delta_codes": getattr(refreshed, "_refresh_delta_codes", None),
        }
        print(json.dumps(summary))
        return 0

    run_id = build_graph_resumable(
        spark, concepts, edges, synonyms, transcripts, args.output, cfg,
        n_chunks=args.chunks, run_id=args.run_id,
    )
    # chunks are disjoint (by predicate, and by conversation), so the
    # committed rows sum to the triple count without re-scanning them
    lineage = lineage_rows(args.output)
    summary = {
        "run_id": run_id,
        "output": args.output,
        "chunks": len(lineage),
        "triples": sum(r["output_triples"] for r in lineage),
    }

    if args.export_codesystem:
        from fhir_owl_spark.plans.export import export_codesystem, write_codesystem_json
        from fhir_owl_spark.sources.owl_xml import ontology_metadata

        meta = ontology_metadata(parsed, cfg) if args.owl else None
        cs = export_codesystem(spark, concepts, edges, synonyms, cfg, metadata=meta)
        write_codesystem_json(cs, args.export_codesystem)
        summary["codesystem"] = args.export_codesystem
        summary["concepts"] = cs["count"]

    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
