"""Concept canonicalization — the ontology dictionary.

Re-expresses the reference's per-concept projection (processEntity,
/root/reference/src/main/java/au/csiro/fhir/owl/FhirOwlService.java:803-903)
the way the reference runs it: one in-memory pass over the concept and
synonym rows (``dictionary_rows``). ``dictionary_pass`` collects the two
tables once each and runs it; the ontology stage every pipeline shares
(plans/build_graph.py) and ``build_concept_dictionary`` — the frame form
for callers that hold frames (the oracle queries, streaming) — both
call it, so each dictionary rule is written once.

Scale note: the ontology side is the SMALL side by design (HPO ≈ 18k
concepts, reference README.md:98-104; even giant ontologies are ≤10^7
rows), which is what makes the driver pass — and the collect of the
whole dictionary that ``linkable_terms`` and the export need anyway —
affordable. Every join of this output against transcript-scale data must
be a broadcast hash join — callers go through ``broadcast_dictionary``.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, functions as F

from ..config import PipelineConfig
from ..schemas import (
    CONCEPT_DICTIONARY,
    OWL_NOTHING,
    SPECIAL_DISPLAYS,
    TOP_ENTITIES,
)
from ..session import local_frame

# OWL API IRI.getShortForm: fragment after '#', else last '/' segment
SHORTFORM_REGEX = r"([^/#]+)$"

# the positional rows the dictionary pass collects
CONCEPT_COLS = ("iri", "label", "deprecated", "imported", "unsatisfiable")
SYNONYM_COLS = ("iri", "synonym", "prop")


def shortform(col):
    return F.regexp_extract(col, SHORTFORM_REGEX, 1)


def shortform_str(iri: str) -> str:
    """``shortform`` on the driver: the trailing run of characters other
    than '/' and '#' — "" for an IRI ending in one, the value
    regexp_extract returns when the pattern does not match."""
    return iri[max(iri.rfind("/"), iri.rfind("#")) + 1 :]


def with_has_imports(cfg: PipelineConfig, concept_rows: list[tuple]):
    """cfg with has_imports derived unless it is set — hasImports
    (FhirOwlService.java:505): true iff some concept row (CONCEPT_COLS
    order) is imported; with no imports nothing is imported regardless
    of set membership."""
    if cfg.has_imports is not None:
        return cfg
    return dataclasses.replace(
        cfg, has_imports=any(bool(r[3]) for r in concept_rows)
    )


def imported_flag(iri: str, imported: bool | None, cfg: PipelineConfig) -> bool:
    """isImported (FhirOwlService.java:784-801): prefix mode when main
    namespaces are configured, else set-difference membership (the
    ``imported`` column), always false when the ontology has no imports
    (``cfg.has_imports`` derived)."""
    if cfg.main_namespaces:
        return not any(iri.startswith(ns) for ns in cfg.main_namespaces)
    return bool(cfg.has_imports and imported)


def local_code_str(code: str, cfg: PipelineConfig) -> str:
    """codeReplace on LOCAL codes only — literal, non-regex replace
    (FhirOwlService.java:844-846); an empty search string leaves the
    code as it is."""
    if cfg.code_replace and cfg.code_replace[0]:
        return code.replace(*cfg.code_replace)
    return code


def parent_code_str(iri: str, imported: bool | None, cfg: PipelineConfig) -> str:
    """Parent-code asymmetry: parents NEVER use the code annotation —
    imported ⇒ full IRI, local ⇒ shortform + codeReplace
    (addHierarchyFields, FhirOwlService.java:633-647 vs processEntity
    :834-841). ``cfg.has_imports`` derived."""
    if imported_flag(iri, imported, cfg):
        return iri
    return local_code_str(shortform_str(iri), cfg)


def dictionary_pass(
    concepts: DataFrame, synonyms: DataFrame, cfg: PipelineConfig
) -> tuple[PipelineConfig, list[tuple], list[tuple]]:
    """The dictionary step of the ontology stage: collect the concept
    (CONCEPT_COLS) and synonym (SYNONYM_COLS) rows once each — a collect
    of a local relation runs no Spark job — derive has_imports and run
    ``dictionary_rows``. → (cfg with has_imports derived, concept rows,
    dictionary rows)."""
    concept_rows = concepts.select(*CONCEPT_COLS).collect()
    synonym_rows = synonyms.select(*SYNONYM_COLS).collect()
    cfg = with_has_imports(cfg, concept_rows)
    return cfg, concept_rows, dictionary_rows(concept_rows, synonym_rows, cfg)


def build_concept_dictionary(
    concepts: DataFrame, synonyms: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """ontology_concepts + ontology_synonyms → CONCEPT_DICTIONARY rows
    (one per EMITTED concept), as an Arrow-backed local relation: the
    stage's ``dictionary_pass``, for callers that hold frames."""
    _, _, rows = dictionary_pass(concepts, synonyms, cfg)
    return local_frame(concepts.sparkSession, rows, CONCEPT_DICTIONARY)


def dictionary_rows(
    concept_rows: list[tuple],
    synonym_rows: list[tuple],
    cfg: PipelineConfig,
) -> list[tuple]:
    """Concept and synonym rows → CONCEPT_DICTIONARY tuples.
    concept_rows are (iri, label, deprecated, imported, unsatisfiable),
    synonym_rows (iri, synonym, prop); ``cfg.has_imports`` must already
    be derived.

    Stages:
      F1/F2  drop unsatisfiable + owl:Nothing
      F3     drop deprecated unless include_deprecated
      F5     imported flag (``imported_flag``)
      F7     code := code-annotation | (imported ? IRI : shortform), then
             codeReplace on local codes only; the annotation is the
             min over candidates (the reference takes the first it sees,
             FhirOwlService.java:695-704) and is never excluded
      A1     preferred term = min display-prop literal minus excluded
             labels (TreeSet.first, FhirOwlService.java:706-724)
      A2     synonyms = union over synonym props minus exclusions minus
             the display (FhirOwlService.java:726-742); empty-preferred
             promotion uses deterministic min (see fixtures docstring)
      F8/A4  display fallback: label column (closure display map analog;
             a label of "" still wins) → special top-entity display, keyed
             on the CODE so it fires only for imported top entities
             (FhirOwlService.java:852-858) → code
    min is the code-point order (Spark's binary string order); one output
    row is emitted per surviving concept row."""
    excluded = set(cfg.labels_to_exclude)
    synonym_props = set(cfg.synonym_props)
    # iri → [preferred, synonym set, code annotation], in one pass
    per_iri: dict[str, list] = {}
    for iri, syn, prop in synonym_rows:
        if syn is None:
            continue
        agg = per_iri.get(iri)
        if agg is None:
            agg = per_iri[iri] = [None, set(), None]
        if cfg.code_prop and prop == cfg.code_prop and (agg[2] is None or syn < agg[2]):
            agg[2] = syn
        if syn in excluded:
            continue
        if prop == cfg.display_prop and (agg[0] is None or syn < agg[0]):
            agg[0] = syn
        if prop in synonym_props:
            agg[1].add(syn)

    none = (None, set(), None)
    out = []
    for iri, label, deprecated, imported, unsatisfiable in concept_rows:
        if iri == OWL_NOTHING or unsatisfiable:
            continue
        deprecated = bool(deprecated)
        if deprecated and not cfg.include_deprecated:
            continue
        preferred, syns, code_anno = per_iri.get(iri, none)
        is_imported = imported_flag(iri, imported, cfg)
        code = code_anno
        if code is None:
            code = iri if is_imported else shortform_str(iri)
        if not is_imported:
            code = local_code_str(code, cfg)
        if preferred is not None:
            display = preferred
        elif syns:
            display = min(syns)
        elif label is not None:
            display = label
        else:
            display = SPECIAL_DISPLAYS.get(code, code)
        out.append((
            iri,
            code,
            display,
            sorted(syns - {display}),
            deprecated,
            is_imported,
            iri in TOP_ENTITIES,
        ))
    return out


def broadcast_dictionary(dictionary: DataFrame) -> DataFrame:
    """Mark the dictionary for broadcast in subsequent joins."""
    return F.broadcast(dictionary)


def concept_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "code",
    compare_cols: "tuple[str, ...]" = ("display",),
) -> DataFrame:
    """Release-over-release concept diff — the KG-maintenance pass for
    versioned ontologies (HPO/GO ship monthly releases; the reference's
    CodeSystem carries a version and real deployments must know which
    concepts were added, retired, or relabeled before re-emitting
    triples; cf. FhirOwlService version handling).

    Full outer join on ``id_col``; emits one row per concept present in
    either version with change ∈ {'added', 'removed', 'changed'}
    (unchanged concepts are dropped) and ``changed_fields`` — a
    comma-joined sorted list of the ``compare_cols`` that differ
    (null-safe comparison). Old/new values ride along per compare
    column as ``old_<col>`` / ``new_<col>`` scalars.

    Shape: ONE full-outer hash join on the concept id (both sides are
    dictionary-scale, tiny next to transcripts); pure Column logic.
    """
    o = old.select(
        F.col(id_col).alias("_id"),
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
    ).withColumn("_in_old", F.lit(True))
    n = new.select(
        F.col(id_col).alias("_id"),
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
    ).withColumn("_in_new", F.lit(True))
    joined = o.join(n, "_id", "full_outer")

    diffs = F.array_sort(
        F.filter(
            F.array(
                *[
                    F.when(
                        ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}")),
                        F.lit(c),
                    )
                    for c in compare_cols
                ]
            ),
            lambda x: x.isNotNull(),
        )
    )
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.size(diffs) > 0, F.lit("changed"))
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(
            F.col("_id").alias(id_col),
            "change",
            F.when(F.col("change") == "changed", F.concat_ws(",", diffs))
            .otherwise(F.lit(""))
            .alias("changed_fields"),
            *[c for p in compare_cols for c in (f"old_{p}", f"new_{p}")],
        )
    )
