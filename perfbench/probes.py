"""Per-layer probes for the traced run.

After the traced operation cycle, each layer's public function is called
once more on the workload's v1 inputs and its lazy output is forced on
its own (a noop sink, a checkpoint or a count), inside a span of that
layer, so the layer's work is timed and counted apart from the layers
that consume it. ``finish`` adds the event-log counters once the session
has stopped.
"""

from __future__ import annotations

import importlib
import time
import uuid
from pathlib import Path

from pyspark.sql import Observation, functions as F

import layertrace
from fhir_owl_spark import fixtures as fx
from fhir_owl_spark.operators import dictionary as dc
from fhir_owl_spark.operators import hierarchy as hy
from fhir_owl_spark.operators import mentions as mn
from fhir_owl_spark.plans import export as ex
from fhir_owl_spark.plans import lineage as ln
from fhir_owl_spark.plans import refresh as rf
from fhir_owl_spark.sources import turtle

# the plans package re-exports the build_graph function under the module's name
bg = importlib.import_module("fhir_owl_spark.plans.build_graph")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _counted(df, name: str):
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def layer_metrics(wl, tracer, m: dict) -> str | None:
    """Run every layer probe, adding name → (value, unit) to ``m``.
    Returns why the refresh operation failed, or None."""
    spark, span = wl.spark, tracer.span

    t = time.perf_counter()
    parsed = turtle.parse_ontology_document(str(wl.doc["v1"]), **wl.parse_kw["v1"])
    m["sources.parse_s"] = (time.perf_counter() - t, "s")
    with span("sources"):
        t = time.perf_counter()
        concepts, edges, synonyms = bg.materialize_ontology_inputs(
            *fx.ontology_dfs(spark, parsed.tables)
        )
        m["sources.frames_s"] = (time.perf_counter() - t, "s")
    m["sources.classes"] = (len(parsed.tables.concepts), "count")
    m["sources.edges"] = (len(parsed.tables.edges), "count")
    m["sources.synonyms"] = (len(parsed.tables.synonyms), "count")
    cfg = wl.document_config(parsed)

    with span("dictionary"):
        dictionary = dc.build_concept_dictionary(concepts, synonyms, cfg).localCheckpoint(
            eager=True
        )
        m["dictionary.rows"] = (dictionary.count(), "count")

    with span("hierarchy"):
        direct = hy.build_hierarchy(concepts, edges, cfg).localCheckpoint(eager=True)
        n_direct = direct.count()
    m["hierarchy.edges_in"] = (len(parsed.tables.edges), "count")
    m["hierarchy.direct_out"] = (n_direct, "count")
    m["hierarchy.reduction_ratio"] = (n_direct / max(len(parsed.tables.edges), 1), "ratio")

    with span("mentions"):
        t = time.perf_counter()
        terms = mn.linkable_terms(dictionary, cfg)
        m["mentions.terms_s"] = (time.perf_counter() - t, "s")
        m["mentions.terms"] = (len(terms), "count")
        one_turn = wl.transcripts.limit(1).localCheckpoint(eager=True)
        t = time.perf_counter()
        _noop(mn.extract_mentions(one_turn, dictionary, cfg, pairs_only=True))
        m["mentions.setup_s"] = (time.perf_counter() - t, "s")
        pairs, obs = _counted(
            mn.extract_mentions(wl.transcripts, dictionary, cfg, pairs_only=True), "pairs"
        )
        t = time.perf_counter()
        _noop(pairs)
        scan_s = time.perf_counter() - t
    m["mentions.scan_s"] = (scan_s, "s")
    m["mentions.turns_per_s"] = (wl.n_turns / scan_s, "1/s")
    m["mentions.pairs_out"] = (obs.get["n"], "count")

    # dedup input materialised first, so the build_graph span holds only
    # the key hashing and the dedup shuffle
    onto = bg.concept_triples(dictionary, direct, concepts, cfg).localCheckpoint(eager=True)
    mention_triples = mn.extract_mentions(wl.transcripts, dictionary, cfg, pairs_only=True).select(
        F.col("code").alias("subj"),
        F.lit("mentions-in").alias("pred"),
        F.col("conv_id").alias("obj"),
        F.lit("conv").alias("obj_type"),
        F.col("conv_id").alias("conv_id"),
    )
    dedup_in = onto.unionByName(mention_triples).localCheckpoint(eager=True)
    n_in = dedup_in.count()
    with span("build_graph"):
        keyed = bg.triples_with_key(dedup_in).localCheckpoint(eager=True)
    n_out = keyed.count()
    m["build_graph.concept_triples"] = (onto.count(), "count")
    m["build_graph.dedup_rows_in"] = (n_in, "count")
    m["build_graph.dedup_rows_out"] = (n_out, "count")
    m["build_graph.dedup_keep_ratio"] = (n_out / max(n_in, 1), "ratio")

    commit_dir = str(wl.work / "out" / "probe_commit")
    with span("lineage"):
        t = time.perf_counter()
        ln.write_committed_chunk(spark, commit_dir, 0, keyed, n_in, uuid.uuid4().hex[:12])
        m["lineage.commit_s"] = (time.perf_counter() - t, "s")
        t = time.perf_counter()
        _noop(ln.read_triples(spark, commit_dir))
        m["lineage.read_s"] = (time.perf_counter() - t, "s")
    files, nbytes, _ = wl.output_stats()
    m["lineage.chunks"] = (ln.read_lineage(spark, str(wl.last_build)).count(), "count")
    m["lineage.files"] = (files, "count")
    m["lineage.bytes"] = (nbytes, "bytes")

    parsed_v2 = turtle.parse_ontology_document(str(wl.doc["v2"]), **wl.parse_kw["v2"])
    c2, _, s2 = fx.ontology_dfs(spark, parsed_v2.tables)
    with span("refresh"):
        dict_v2 = dc.build_concept_dictionary(c2, s2, wl.document_config(parsed_v2))
        dict_v2 = dict_v2.localCheckpoint(eager=True)
        t = time.perf_counter()
        affected = rf.affected_codes(ln.read_triples(spark, str(wl.last_build)), dict_v2)
        m["refresh.delta_codes"] = (affected.count(), "count")
        m["refresh.affected_s"] = (time.perf_counter() - t, "s")
        t = time.perf_counter()
        try:
            wl.op_refresh()
            reason = None
        except Exception as exc:  # reported as a failed operation
            reason = f"{type(exc).__name__}: {exc}".splitlines()[0]
        m["refresh.op_s"] = (time.perf_counter() - t, "s")
    if reason is None:
        tracer.uninstall()
        reason = wl.check()
        tracer.install()

    with span("export"):
        cs = ex.export_codesystem(spark, concepts, edges, synonyms, cfg)
        path = wl.work / "out" / "probe_codesystem.json"
        t = time.perf_counter()
        ex.write_codesystem_json(cs, str(path))
        m["export.json_s"] = (time.perf_counter() - t, "s")
    m["export.concepts"] = (cs["count"], "count")
    m["export.json_bytes"] = (path.stat().st_size, "bytes")
    return reason


def finish(m: dict, tracer, eventlog: Path, op_windows: dict) -> dict:
    """Add the event-log counters; call after the session has stopped."""
    m.update(layertrace.layer_counters(eventlog, tracer.self_s))
    builds = op_windows.get("build") or []
    m["lineage.jobs_per_build"] = (
        layertrace.job_count(eventlog, *builds[0]) if builds else 0, "count"
    )
    return m
