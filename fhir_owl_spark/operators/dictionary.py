"""Concept canonicalization — the broadcast ontology dictionary.

Re-expresses the reference's per-concept projection (processEntity,
/root/reference/src/main/java/au/csiro/fhir/owl/FhirOwlService.java:803-903)
as pure Column expressions + two tiny groupBy joins. Everything here is
Catalyst-optimizable; no UDFs. ``dictionary_rows`` is the same program
on driver rows: the ontology stage every pipeline shares
(plans/build_graph.py) runs it, and the column program serves callers
that hold frames (the oracle queries, streaming).

Scale note: the ontology side is the SMALL side by design (HPO ≈ 18k
concepts, reference README.md:98-104; even giant ontologies are ≤10^7
rows). Every join of this output against transcript-scale data must be a
broadcast hash join — callers go through ``broadcast_dictionary``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import PipelineConfig
from ..schemas import (
    OWL_NOTHING,
    SPECIAL_DISPLAYS,
    TOP_ENTITIES,
)

# OWL API IRI.getShortForm: fragment after '#', else last '/' segment
SHORTFORM_REGEX = r"([^/#]+)$"


def shortform(col):
    return F.regexp_extract(col, SHORTFORM_REGEX, 1)


def shortform_str(iri: str) -> str:
    """``shortform`` on the driver: the trailing run of characters other
    than '/' and '#' — "" for an IRI ending in one, the value
    regexp_extract returns when the pattern does not match."""
    return iri[max(iri.rfind("/"), iri.rfind("#")) + 1 :]


def derive_has_imports(concepts: DataFrame, cfg: PipelineConfig) -> bool:
    """hasImports (FhirOwlService.java:505): with no imports, nothing is
    imported regardless of set membership. One tiny action on the small
    ontology table."""
    if cfg.has_imports is not None:
        return cfg.has_imports
    row = concepts.agg(F.max(F.coalesce("imported", F.lit(False))).alias("h")).first()
    return bool(row["h"]) if row and row["h"] is not None else False


def imported_col(cfg: PipelineConfig, has_imports: bool, iri_col="iri"):
    """isImported (FhirOwlService.java:784-801): prefix mode when main
    namespaces are configured, else set-difference membership (the
    ``imported`` column), always false when the ontology has no imports."""
    if cfg.main_namespaces:
        cond = F.lit(False)
        for ns in cfg.main_namespaces:
            cond = cond | F.col(iri_col).startswith(ns)
        return ~cond
    if not has_imports:
        return F.lit(False)
    return F.coalesce(F.col("imported"), F.lit(False))


def imported_flag(iri: str, imported: bool | None, cfg: PipelineConfig) -> bool:
    """``imported_col`` for one driver row (``cfg.has_imports`` derived)."""
    if cfg.main_namespaces:
        return not any(iri.startswith(ns) for ns in cfg.main_namespaces)
    return bool(cfg.has_imports and imported)


def local_code_str(code: str, cfg: PipelineConfig) -> str:
    """``local_code_col`` for one driver value (Spark's replace leaves
    the string as it is when the search string is empty)."""
    if cfg.code_replace and cfg.code_replace[0]:
        return code.replace(*cfg.code_replace)
    return code


def local_code_col(code_col, cfg: PipelineConfig):
    """codeReplace on LOCAL codes only — literal, non-regex replace
    (FhirOwlService.java:844-846; F.replace keeps literal semantics)."""
    if cfg.code_replace:
        old, new = cfg.code_replace
        return F.replace(code_col, F.lit(old), F.lit(new))
    return code_col


def special_display_col(code_col):
    """Hardcoded top-entity displays keyed on the CODE — they only fire
    when the code is the full IRI, i.e. for imported top entities
    (FhirOwlService.java:852-858)."""
    expr = F.lit(None).cast("string")
    for full_iri, disp in SPECIAL_DISPLAYS.items():
        expr = F.when(code_col == full_iri, disp).otherwise(expr)
    return expr


def build_concept_dictionary(
    concepts: DataFrame, synonyms: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """ontology_concepts + ontology_synonyms → CONCEPT_DICTIONARY rows
    (one per EMITTED concept).

    Stages (all on the small side; one shuffle on iri for the groupBys):
      F1/F2  drop unsatisfiable + owl:Nothing
      F3     drop deprecated unless include_deprecated
      F5     imported flag
      F7     code := code-annotation | (imported ? IRI : shortform), then
             codeReplace on local codes only
      A1     preferred term = lexicographic min of display-prop literals
             minus excluded labels (TreeSet.first, FhirOwlService.java:706-724)
      A2     synonyms = union over synonym props minus exclusions minus
             the display (FhirOwlService.java:726-742); empty-preferred
             promotion uses deterministic min (see fixtures docstring)
      F8/A4  display fallback: label column (closure display map analog)
             → special top-entity display → code
    """
    has_imports = derive_has_imports(concepts, cfg)
    excluded = list(cfg.labels_to_exclude)

    base = concepts.filter(
        (F.col("iri") != OWL_NOTHING) & ~F.coalesce("unsatisfiable", F.lit(False))
    )
    if not cfg.include_deprecated:
        base = base.filter(~F.coalesce("deprecated", F.lit(False)))

    syn = synonyms.filter(F.col("synonym").isNotNull())
    if excluded:
        not_excluded = ~F.col("synonym").isin(excluded)
    else:
        not_excluded = F.lit(True)

    # A1 + A2 + F7 in ONE conditional-aggregation pass — one shuffle on iri
    # and one join instead of three of each (aggregates skip the rows their
    # WHEN masks to null; collect_set drops nulls, preserving the old
    # per-predicate-filtered semantics exactly):
    #   A1 preferred = min display-prop literal (TreeSet.first,
    #      FhirOwlService.java:706-724)
    #   A2 syn_set/min_syn over the synonym props (:726-742)
    #   F7 code annotation = deterministic min over candidates (the
    #      reference takes the first it sees, :695-704)
    is_display = (F.col("prop") == cfg.display_prop) & not_excluded
    is_syn = F.col("prop").isin(list(cfg.synonym_props)) & not_excluded
    aggs = [
        F.min(F.when(is_display, F.col("synonym"))).alias("preferred"),
        F.collect_set(F.when(is_syn, F.col("synonym"))).alias("syn_set"),
        F.min(F.when(is_syn, F.col("synonym"))).alias("min_syn"),
    ]
    if cfg.code_prop:
        aggs.append(
            F.min(F.when(F.col("prop") == cfg.code_prop, F.col("synonym"))).alias(
                "code_anno"
            )
        )
    per_iri = syn.groupBy("iri").agg(*aggs)

    df = base.join(per_iri, "iri", "left")
    if not cfg.code_prop:
        df = df.withColumn("code_anno", F.lit(None).cast("string"))

    imported = imported_col(cfg, has_imports).alias("imported_flag")
    df = df.withColumn("imported_flag", imported)

    iri_code = F.when(F.col("imported_flag"), F.col("iri")).otherwise(shortform(F.col("iri")))
    raw_code = F.coalesce(F.col("code_anno"), iri_code)
    code = F.when(
        F.col("imported_flag"), raw_code
    ).otherwise(local_code_col(raw_code, cfg))
    df = df.withColumn("code", code)

    syn_set = F.coalesce(F.col("syn_set"), F.array().cast("array<string>"))
    has_syns = F.size(syn_set) > 0
    display = (
        F.when(F.col("preferred").isNotNull(), F.col("preferred"))
        .when(has_syns, F.col("min_syn"))
        .otherwise(
            F.coalesce(
                F.col("label"),
                special_display_col(F.col("code")),
                F.col("code"),
            )
        )
    )
    df = df.withColumn("display", display)
    # synonyms minus the chosen display (covers both the normal removal and
    # the promoted-synonym removal)
    df = df.withColumn(
        "synonyms", F.array_sort(F.array_except(syn_set, F.array(F.col("display"))))
    )
    df = df.withColumn("root", F.col("iri").isin(list(TOP_ENTITIES)))

    return df.select(
        "iri",
        "code",
        "display",
        "synonyms",
        F.coalesce("deprecated", F.lit(False)).alias("deprecated"),
        F.col("imported_flag").alias("imported"),
        "root",
    )


def parent_code_col(cfg: PipelineConfig, has_imports: bool, iri_col="iri"):
    """Parent-code asymmetry: parents NEVER use the code annotation —
    imported ⇒ full IRI, local ⇒ shortform + codeReplace
    (addHierarchyFields, FhirOwlService.java:633-647 vs processEntity :834-841).
    """
    imported = imported_col(cfg, has_imports, iri_col)
    return F.when(imported, F.col(iri_col)).otherwise(
        local_code_col(shortform(F.col(iri_col)), cfg)
    )


def parent_code_str(iri: str, imported: bool | None, cfg: PipelineConfig) -> str:
    """``parent_code_col`` for one driver row (``cfg.has_imports`` derived)."""
    if imported_flag(iri, imported, cfg):
        return iri
    return local_code_str(shortform_str(iri), cfg)


def dictionary_rows(
    concept_rows: list[tuple],
    synonym_rows: list[tuple],
    cfg: PipelineConfig,
) -> list[tuple]:
    """``build_concept_dictionary`` on the driver, row for row →
    CONCEPT_DICTIONARY tuples. concept_rows are (iri, label, deprecated,
    imported, unsatisfiable), synonym_rows (iri, synonym, prop);
    ``cfg.has_imports`` must already be derived.

    The same stages (F1–F8, A1–A4) with the Spark program's value
    semantics: min is the binary string order, a code-annotation
    candidate is never excluded, a label of "" still wins over the
    code, and one output row is emitted per surviving concept row."""
    excluded = set(cfg.labels_to_exclude)
    synonym_props = set(cfg.synonym_props)
    # iri → [preferred, synonym set, code annotation]; one pass, the
    # driver twin of the conditional aggregation
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
