"""FHIR-R4-CodeSystem-shaped JSON export (S5 parity artifact, SURVEY.md
§2.1): the reference's final output is a CodeSystem JSON document
(FhirOwlService.java:135-140 via HAPI); this export rebuilds that shape
from the engine's dictionary + hierarchy so a reference user can diff the
two converters concept-by-concept. The dictionary and the parent rows
come from the ontology stage build_graph uses (plans/build_graph.py:
ontology_rows), so the export and the triples cannot disagree.

Driver-side by design: the concept list is ontology-scale (broadcast
class), never transcript-scale. The stage is one driver pass, and the
export renders its rows directly: on local-relation inputs it runs no
Spark job at all, at any size. The designation
`use` coding mirrors the reference's fixed SNOMED 'Synonym' coding
(addSynonyms, FhirOwlService.java:905-913); the property list mirrors
processEntity (imported, root, deprecated, parent*).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from ..config import PipelineConfig
from .build_graph import ontology_rows

SYNONYM_USE = {
    "system": "http://snomed.info/sct",
    "code": "900000000000013009",
    "display": "Synonym (core metadata concept)",
}


def export_codesystem(
    spark,
    concepts: DataFrame,
    edges: DataFrame,
    synonyms: DataFrame,
    cfg: PipelineConfig | None = None,
    metadata: dict | None = None,
) -> dict:
    """→ CodeSystem-shaped dict (resourceType/url/version/…/count/concept[])."""
    cfg = cfg or PipelineConfig()
    cfg, dict_rows, isa, _ = ontology_rows(concepts, edges, synonyms, cfg)
    # the same parent rows build_graph emits as is-a triples
    parents_of: dict[str, list[str]] = {}
    for child_iri, _subj, parent_code in isa:
        parents_of.setdefault(child_iri, []).append(parent_code)

    concept_list = []
    for iri, code, display, synonyms, deprecated, imported, root in sorted(
        dict_rows, key=lambda r: r[1]
    ):
        cdc: dict = {"code": code, "display": display}
        if synonyms:
            cdc["designation"] = [
                {"use": SYNONYM_USE, "value": s} for s in sorted(synonyms)
            ]
        props = []
        for pc in sorted(parents_of.get(iri, [])):
            props.append({"code": "parent", "valueCode": pc})
        props.append({"code": "imported", "valueBoolean": bool(imported)})
        props.append({"code": "root", "valueBoolean": bool(root)})
        props.append({"code": "deprecated", "valueBoolean": bool(deprecated)})
        cdc["property"] = props
        concept_list.append(cdc)

    # Without a parsed-ontology metadata dict (tabular input), resolve
    # what we can from cfg alone: explicit values only, no annotation
    # fallback chains (there is no ontology document to read them from).
    from ..metadata import metadata_from_config

    meta = metadata or metadata_from_config(cfg)

    cs: dict = {"resourceType": "CodeSystem"}
    # FHIR-canonical element order; absent optionals are omitted like HAPI
    # does, but experimental/compositional/versionNeeded are ALWAYS emitted
    # (the reference calls the unconditional setters —
    # FhirOwlService.java:397, :467, :470). date is never emitted (see
    # metadata.validate_date).
    if meta.get("id") is not None:
        cs["id"] = meta["id"]
    if meta.get("language") is not None:
        cs["language"] = meta["language"]
    if meta.get("url") is not None:
        cs["url"] = meta["url"]
    if meta.get("identifiers"):
        cs["identifier"] = list(meta["identifiers"])
    if meta.get("version") is not None:
        cs["version"] = meta["version"]
    if meta.get("name") is not None:
        cs["name"] = meta["name"]
    if meta.get("title") is not None:
        cs["title"] = meta["title"]
    cs["status"] = meta.get("status", cfg.status)
    cs["experimental"] = bool(meta.get("experimental", False))
    if meta.get("publisher") is not None:
        cs["publisher"] = meta["publisher"]
    if meta.get("contacts"):
        cs["contact"] = list(meta["contacts"])
    if meta.get("description") is not None:
        cs["description"] = meta["description"]
    if meta.get("purpose") is not None:
        cs["purpose"] = meta["purpose"]
    if meta.get("jurisdictions"):
        cs["jurisdiction"] = list(meta["jurisdictions"])
    if meta.get("copyright") is not None:
        cs["copyright"] = meta["copyright"]
    if meta.get("valueset") is not None:
        cs["valueSet"] = meta["valueset"]
    cs["hierarchyMeaning"] = meta.get("hierarchy_meaning", cfg.hierarchy_meaning)
    cs["compositional"] = bool(meta.get("compositional", False))
    cs["versionNeeded"] = bool(meta.get("version_needed", False))
    cs["content"] = meta.get("content", cfg.content)

    cs.update({
        # A3 concept count (cs.setCount, FhirOwlService.java:587-588)
        "count": len(concept_list),
        "property": [
            {"code": "parent", "type": "code", "description": "Parent codes."},
            {"code": "imported", "type": "boolean",
             "description": "Indicates if the concept is imported from another code system."},
            {"code": "root", "type": "boolean",
             "description": "Indicates if this concept is a root concept (i.e. Thing is "
                            "equivalent or a direct parent)"},
            {"code": "deprecated", "type": "boolean",
             "description": "Indicates if this concept is deprecated."},
        ],
        "concept": concept_list,
    })
    return cs


def write_codesystem_json(cs: dict, path: str) -> None:
    with open(path, "w") as f:
        json.dump(cs, f, indent=2, sort_keys=False)
