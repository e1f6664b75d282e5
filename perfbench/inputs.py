"""Seeded benchmark inputs: ontology documents, configs and transcripts.

Every workload starts from an OWL document on disk, as the CLI's
``--owl`` path does: the fixture generators' tables are rendered to
RDF/XML (``rdfs:label`` labels, ``oboInOwl:hasExactSynonym`` synonyms,
``owl:deprecated`` flags), and the fixture config is remapped to the
property IRIs the parser reports. Unsatisfiable classes are not an
RDF/XML construct here; they travel as the reasoner-output set the CLI
takes through ``--unsatisfiable``.
"""

from __future__ import annotations

import dataclasses
import random
from xml.sax.saxutils import escape, quoteattr

from fhir_owl_spark import fixtures as fx
from fhir_owl_spark.benchgen import _FILLER
from fhir_owl_spark.sources.obo import OBO_IN_OWL_NS
from fhir_owl_spark.sources.owl_xml import OWL_NS, RDF_NS, RDFS_LABEL, RDFS_NS

# fixture synonym prop → the annotation property IRI it is rendered as
PROP_IRIS = {
    "label": RDFS_LABEL,
    "hasExactSynonym": OBO_IN_OWL_NS + "hasExactSynonym",
}
_ELEMENTS = {
    RDFS_LABEL: "rdfs:label",
    OBO_IN_OWL_NS + "hasExactSynonym": "oboInOwl:hasExactSynonym",
}


def render_rdfxml(ont: fx.Ontology, ontology_iri: str) -> str:
    """Fixture tables → an RDF/XML OWL document.

    A concept's ``label`` column and its ``label``-prop synonym rows are
    both written as ``rdfs:label``: in OWL a label is an annotation, so a
    parse reports every label as a label-prop synonym row too."""
    annotations: dict[str, set[tuple[str, str]]] = {}
    for c in ont.concepts:
        if c["label"] is not None:
            annotations.setdefault(c["iri"], set()).add((RDFS_LABEL, c["label"]))
    for s in ont.synonyms:
        annotations.setdefault(s["iri"], set()).add((PROP_IRIS[s["prop"]], s["synonym"]))
    parents: dict[str, list[str]] = {}
    for e in ont.edges:
        parents.setdefault(e["child_iri"], []).append(e["parent_iri"])

    out = [
        '<?xml version="1.0"?>',
        f'<rdf:RDF xmlns:rdf="{RDF_NS}" xmlns:rdfs="{RDFS_NS}" '
        f'xmlns:owl="{OWL_NS}" xmlns:oboInOwl="{OBO_IN_OWL_NS}">',
        f"  <owl:Ontology rdf:about={quoteattr(ontology_iri)}/>",
    ]
    for c in ont.concepts:
        iri = c["iri"]
        out.append(f"  <owl:Class rdf:about={quoteattr(iri)}>")
        for prop, text in sorted(annotations.get(iri, ())):
            tag = _ELEMENTS[prop]
            out.append(f"    <{tag}>{escape(text)}</{tag}>")
        if c["deprecated"]:
            out.append("    <owl:deprecated>true</owl:deprecated>")
        for p in parents.get(iri, ()):
            out.append(f"    <rdfs:subClassOf rdf:resource={quoteattr(p)}/>")
        out.append("  </owl:Class>")
    out.append("</rdf:RDF>\n")
    return "\n".join(out)


def parse_kwargs(ont: fx.Ontology) -> dict:
    """The CLI's ``--owl`` parse options: default reasoner switch, and the
    generator's unsatisfiable classes as ``--unsatisfiable``."""
    return dict(
        include_object_properties=True,
        include_data_properties=False,
        unsatisfiable_iris={c["iri"] for c in ont.concepts if c["unsatisfiable"]},
    )


def document_config(cfg, has_imports: bool):
    """Remap a fixture config to the parsed document's property IRIs, as
    jobs/build_graph.py does for ``--owl`` (display and synonym props
    become annotation-property IRIs; has_imports comes from the parse)."""
    return dataclasses.replace(
        cfg,
        display_prop=PROP_IRIS[cfg.display_prop],
        synonym_props=tuple(PROP_IRIS[p] for p in cfg.synonym_props),
        has_imports=has_imports,
    )


def relabel_one(ont: fx.Ontology, cfg, seed: int) -> tuple[fx.Ontology, str, str]:
    """The v2 release: one seeded, linkable, non-top concept gets a new
    label drawn from the transcript filler vocabulary, so the refresh has
    mentions to drop and mentions to add. Returns (v2, iri, new_label)."""
    rows = fx.model_concept_rows(ont, cfg)
    candidates = sorted(
        iri for iri, r in rows.items() if not r["deprecated"] and not r["root"]
    )
    rng = random.Random(seed)
    iri = rng.choice(candidates)
    old = rows[iri]["display"]
    new = rng.choice(sorted(set(_FILLER)))
    v2 = fx.Ontology(
        concepts=[dict(c, label=new) if c["iri"] == iri else dict(c) for c in ont.concepts],
        edges=[dict(e) for e in ont.edges],
        synonyms=[
            dict(s, synonym=new)
            if s["iri"] == iri and s["prop"] == cfg.display_prop and s["synonym"] == old
            else dict(s)
            for s in ont.synonyms
        ],
    )
    return v2, iri, new

