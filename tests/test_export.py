"""FHIR-shaped CodeSystem export parity: structure mirrors the reference's
emitted JSON (MetadataDefaultsTest / FhirOwlServiceTest assertions)."""

from __future__ import annotations

import dataclasses
import json

import pytest

from fhir_owl_spark import fixtures as fx
from fhir_owl_spark.config import DUO_CONFIG
from fhir_owl_spark.plans.build_graph import build_graph
from fhir_owl_spark.plans.export import export_codesystem, write_codesystem_json
from fhir_owl_spark.sources.owl_xml import (
    RDFS_LABEL,
    ontology_metadata,
    parse_owl_xml,
)


def concept_of(cs, code):
    matches = [c for c in cs["concept"] if c["code"] == code]
    assert len(matches) <= 1, f"duplicate code {code}"  # getConcept duplicate guard
    return matches[0] if matches else None


def parents(cdc):
    return {p["valueCode"] for p in cdc["property"] if p["code"] == "parent"}


def prop(cdc, code):
    return next(p for p in cdc["property"] if p["code"] == code)


def test_pizza_fixture_export(spark):
    ont, cfg = fx.pizza_fixture()
    concepts, edges, synonyms = fx.ontology_dfs(spark, ont)
    cs = export_codesystem(spark, concepts, edges, synonyms, cfg)

    assert cs["resourceType"] == "CodeSystem"
    assert cs["hierarchyMeaning"] == "is-a"
    assert cs["count"] == len(cs["concept"])
    assert concept_of(cs, "IceCream") is None
    prawns = concept_of(cs, "PrawnsTopping")
    assert parents(prawns) == {"FishTopping"}
    thing = concept_of(cs, "Thing")
    assert prop(thing, "root")["valueBoolean"] is True
    assert not parents(thing)
    cheese = concept_of(cs, "CheeseTopping")
    assert cheese["display"] == "Cheese Topping"
    assert {d["value"] for d in cheese["designation"]} == {
        "Mozzarella Topping", "queso"
    }
    assert all(
        d["use"]["code"] == "900000000000013009" for d in cheese["designation"]
    )


@pytest.mark.parametrize("include_deprecated", [False, True])
@pytest.mark.parametrize(
    "fixture", ["pizza_fixture", "duo_fixture", "equivalence_fixture"]
)
def test_export_matches_build_graph_triples(spark, fixture, include_deprecated):
    """Every concept fact the export carries equals the build's triple
    for it: codes and displays (has-display), designations (synonym-of),
    the three flags and the parent properties (is-a)."""
    ont, cfg = getattr(fx, fixture)()
    cfg = dataclasses.replace(cfg, include_deprecated=include_deprecated)
    concepts, edges, synonyms = fx.ontology_dfs(spark, ont)
    cs = export_codesystem(spark, concepts, edges, synonyms, cfg)
    no_turns = fx.transcripts_df(spark, [])
    triples: dict[str, set] = {}
    for r in build_graph(spark, concepts, edges, synonyms, no_turns, cfg).collect():
        triples.setdefault(r["pred"], set()).add((r["subj"], r["obj"]))

    codes = [c["code"] for c in cs["concept"]]
    assert len(codes) == len(set(codes)) == cs["count"]
    assert {(c["code"], c["display"]) for c in cs["concept"]} == triples["has-display"]
    assert {
        (c["code"], d["value"]) for c in cs["concept"] for d in c.get("designation", [])
    } == triples.get("synonym-of", set())
    for flag in ("imported", "root", "deprecated"):
        assert {
            (c["code"], str(prop(c, flag)["valueBoolean"]).lower()) for c in cs["concept"]
        } == triples[flag], flag
    assert {
        (c["code"], pc) for c in cs["concept"] for pc in parents(c)
    } == triples.get("is-a", set())


def test_real_duo_export_with_metadata(spark, tmp_path):
    parsed = parse_owl_xml(
        "/root/reference/src/test/resources/duo.owl", include_object_properties=False
    )
    import dataclasses

    cfg = dataclasses.replace(
        DUO_CONFIG,
        display_prop=RDFS_LABEL,
        synonym_props=(RDFS_LABEL,),
        has_imports=parsed.has_imports,
        code_replace=None,
    )
    concepts, edges, synonyms = fx.ontology_dfs(spark, parsed.tables)
    meta = ontology_metadata(parsed, cfg)
    cs = export_codesystem(spark, concepts, edges, synonyms, cfg, metadata=meta)

    # MetadataFromInput-style assertions (FhirOwlServiceTest.java:152-154)
    assert cs["url"] == "http://purl.obolibrary.org/obo/duo.fhir"
    assert cs["valueSet"] == "http://purl.obolibrary.org/obo/duo.fhir?vs"
    assert cs["version"] == "20210223"
    ds = concept_of(cs, "DUO_0000007")
    assert parents(ds) == {"DUO_0000006"}
    assert ds["display"] == "disease specific research"

    # round-trips through JSON (OutputFileManager-style re-scan)
    path = str(tmp_path / "duo.json")
    write_codesystem_json(cs, path)
    back = json.load(open(path))
    assert back == cs


# ---------------------------------------------------------------------------
# Metadata long tail (round 2): fallback chains, |-parsers, always-emitted
# flags — the behavior spec is MetadataFromInputTest.java:48-100 plus
# createCodeSystem (FhirOwlService.java:313-475).
# ---------------------------------------------------------------------------

from fhir_owl_spark.config import PipelineConfig
from fhir_owl_spark.metadata import (
    InvalidPropertyError,
    parse_contacts,
    parse_identifiers,
    parse_jurisdictions,
)
from fhir_owl_spark.sources.owl_xml import NoOntologyIriError

PIZZA_OWL = "/root/reference/src/test/resources/pizza.owl"
DUO_OWL = "/root/reference/src/test/resources/duo.owl"


def test_name_falls_back_to_rdfs_label_annotation():
    """pizza.owl carries <rdfs:label>pizza</rdfs:label> on owl:Ontology →
    name resolves to 'pizza' (getOntologyName, FhirOwlService.java:750-771)."""
    parsed = parse_owl_xml(PIZZA_OWL)
    meta = ontology_metadata(parsed, PipelineConfig())
    assert meta["name"] == "pizza"


def test_name_falls_back_to_ontology_iri():
    """duo.owl has no ontology-level rdfs:label → name = RAW ontology IRI
    (not the .fhir-rewritten url; the reference reads getOntologyIri)."""
    parsed = parse_owl_xml(DUO_OWL, include_object_properties=False)
    cfg = dataclasses.replace(DUO_CONFIG, has_imports=parsed.has_imports)
    meta = ontology_metadata(parsed, cfg)
    assert meta["name"] == "http://purl.obolibrary.org/obo/duo.owl"
    assert meta["url"] == "http://purl.obolibrary.org/obo/duo.fhir"


def test_name_prop_and_explicit_name_precedence():
    parsed = parse_owl_xml(PIZZA_OWL)
    # custom nameProp: dc:title also says 'pizza'; dcterms:license is a
    # distinguishable value
    meta = ontology_metadata(
        parsed,
        PipelineConfig(name_prop="http://purl.org/dc/terms/license"),
    )
    assert meta["name"].startswith("Creative Commons")
    # explicit -name wins over everything
    meta = ontology_metadata(
        parsed,
        PipelineConfig(name="Explicit", name_prop="http://purl.org/dc/terms/license"),
    )
    assert meta["name"] == "Explicit"


def test_description_prop_chain():
    parsed = parse_owl_xml(PIZZA_OWL)
    # default chain (dc:subject, rdfs:comment) finds nothing in pizza.owl
    assert ontology_metadata(parsed, PipelineConfig())["description"] is None
    # custom chain: first prop missing → falls through to dc:description
    meta = ontology_metadata(
        parsed,
        PipelineConfig(
            description_props=(
                "http://purl.org/dc/elements/1.1/subject",
                "http://purl.org/dc/elements/1.1/description",
            )
        ),
    )
    assert meta["description"].startswith("An ontology about pizzas")
    # explicit -description wins
    meta = ontology_metadata(parsed, PipelineConfig(description="D"))
    assert meta["description"] == "D"


def test_publisher_prop_fallback():
    parsed = parse_owl_xml(DUO_OWL, include_object_properties=False)
    cfg = dataclasses.replace(DUO_CONFIG, has_imports=parsed.has_imports)
    # default dc:publisher absent in duo.owl → no publisher
    assert ontology_metadata(parsed, cfg)["publisher"] is None
    # custom publisherProp hits dc:creator
    cfg2 = dataclasses.replace(
        cfg, publisher_props=("http://purl.org/dc/elements/1.1/creator",)
    )
    assert ontology_metadata(parsed, cfg2)["publisher"] == "Melanie Courtot"


def test_explicit_url_wins_verbatim_no_fhir_rewrite():
    parsed = parse_owl_xml(DUO_OWL, include_object_properties=False)
    cfg = dataclasses.replace(
        DUO_CONFIG, has_imports=parsed.has_imports, url="http://example.org/x.owl"
    )
    meta = ontology_metadata(parsed, cfg)
    # explicit url is NOT rewritten even with use_fhir_extension=True
    # (the rewrite only applies on the IRI fallback, FhirOwlService.java:329-343)
    assert meta["url"] == "http://example.org/x.owl"
    assert meta["valueset"] == "http://example.org/x.owl?vs"


def test_no_iri_no_name_errors(tmp_path):
    owl = tmp_path / "noiri.owl"
    owl.write_text(
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
        'xmlns:owl="http://www.w3.org/2002/07/owl#" '
        'xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#">'
        "<owl:Ontology/>"
        '<owl:Class rdf:about="http://ex/A"><rdfs:label>A</rdfs:label></owl:Class>'
        "</rdf:RDF>"
    )
    parsed = parse_owl_xml(str(owl))
    with pytest.raises(NoOntologyIriError):
        ontology_metadata(parsed, PipelineConfig())


def test_full_metadata_export_shape(spark):
    """End-to-end: the MetadataFromInputTest arg set through the export."""
    parsed = parse_owl_xml(PIZZA_OWL)
    cfg = PipelineConfig(
        cs_id="pizza-cs",
        language="en",
        title="The Pizza CodeSystem",
        status="active",
        experimental=True,
        publisher="CSIRO",
        purpose="testing",
        copyright="CC BY 3.0",
        compositional=False,
        version_needed=True,
        date="2021-02-23",  # validated, must NOT appear in output
        hierarchy_meaning="grouped-by",
        identifiers=parse_identifiers("http://id.sys|ID-1"),
        contacts=parse_contacts(
            "Mr. Lorem Ipsum|email|lorem.ipsum@gmail.com,"
            "Ms. Ipsum Lorem|phone|987-765-4321"
        ),
        jurisdictions=parse_jurisdictions(
            "urn:iso:std:iso:3166|US|United States of America"
        ),
    )
    concepts, edges, synonyms = fx.ontology_dfs(spark, parsed.tables)
    meta = ontology_metadata(parsed, cfg)
    cs = export_codesystem(spark, concepts, edges, synonyms, cfg, metadata=meta)

    assert cs["id"] == "pizza-cs"
    assert cs["language"] == "en"
    assert cs["name"] == "pizza"  # rdfs:label fallback
    assert cs["title"] == "The Pizza CodeSystem"
    assert cs["status"] == "active"
    assert cs["experimental"] is True
    assert cs["publisher"] == "CSIRO"
    assert cs["purpose"] == "testing"
    assert cs["copyright"] == "CC BY 3.0"
    assert cs["compositional"] is False
    assert cs["versionNeeded"] is True
    assert "date" not in cs  # reference never stores the parsed date
    assert cs["hierarchyMeaning"] == "grouped-by"
    assert cs["identifier"] == [{"system": "http://id.sys", "value": "ID-1"}]
    # MetadataFromInputTest.java:80-98 contact assertions
    by_name = {c["name"]: c for c in cs["contact"]}
    assert by_name["Mr. Lorem Ipsum"]["telecom"][0] == {
        "system": "email", "value": "lorem.ipsum@gmail.com"
    }
    assert by_name["Ms. Ipsum Lorem"]["telecom"][0] == {
        "system": "phone", "value": "987-765-4321"
    }
    # MetadataFromInputTest.java:70-76 jurisdiction assertions
    j = cs["jurisdiction"][0]["coding"][0]
    assert j == {
        "system": "urn:iso:std:iso:3166",
        "code": "US",
        "display": "United States of America",
    }
    # element order: FHIR-canonical prefix
    keys = list(cs.keys())
    assert keys.index("id") < keys.index("url") < keys.index("version") \
        < keys.index("name") < keys.index("status") < keys.index("content")


def test_eager_validation_errors():
    with pytest.raises(InvalidPropertyError):
        PipelineConfig(hierarchy_meaning="sideways")
    with pytest.raises(InvalidPropertyError):
        PipelineConfig(content="everything")
    with pytest.raises(InvalidPropertyError):
        parse_identifiers("sys-only")
    with pytest.raises(InvalidPropertyError):
        parse_identifiers("sys|")
    with pytest.raises(InvalidPropertyError):
        parse_jurisdictions("a|b")
    with pytest.raises(InvalidPropertyError):
        parse_contacts("name|value")


def test_cli_metadata_flags(tmp_path):
    """The CLI parses the CodeSystemProperties flag surface and eagerly
    rejects invalid values (Application.java:122-304)."""
    import jobs.build_graph as job

    args = job.parse_args([
        "--output", str(tmp_path / "o"),
        "--publisher", "CSIRO",
        "--contact", "A|email|a@b.c",
        "--jurisdiction", "urn:iso:std:iso:3166|US|United States of America",
        "--identifier", "http://s|v",
        "--status", "active",
        "--title", "T",
        "--experimental",
        "--version-needed",
    ])
    cfg = job.build_config(args)
    assert cfg.publisher == "CSIRO"
    assert cfg.contacts[0]["telecom"][0]["system"] == "email"
    assert cfg.jurisdictions[0]["coding"][0]["code"] == "US"
    assert cfg.identifiers == ({"system": "http://s", "value": "v"},)
    assert cfg.status == "active" and cfg.experimental and cfg.version_needed

    bad = job.parse_args(["--output", "o", "--contact", "A|smoke-signal|x"])
    with pytest.raises(InvalidPropertyError):
        job.build_config(bad)


def test_metadata_defaults(spark):
    """MetadataDefaultsTest.java:25-30: with no metadata flags the export
    defaults to hierarchyMeaning=is-a and omits jurisdiction/contact."""
    parsed = parse_owl_xml(PIZZA_OWL)
    cfg = PipelineConfig()
    concepts, edges, synonyms = fx.ontology_dfs(spark, parsed.tables)
    cs = export_codesystem(
        spark, concepts, edges, synonyms, cfg,
        metadata=ontology_metadata(parsed, cfg),
    )
    assert cs["hierarchyMeaning"] == "is-a"
    assert "jurisdiction" not in cs
    assert "contact" not in cs
    assert cs["status"] == "draft" and cs["content"] == "complete"
    assert cs["experimental"] is False
