"""Format sniffing (typed errors for non-RDF/XML serializations) and the
Turtle subset reader — the reference auto-detects all OWL serializations
via the OWL API (FhirOwlService.java:201); the engine's honest surface is
RDF/XML + Turtle + tabular, with a clear error for the rest."""

from __future__ import annotations

import pytest

from fhir_owl_spark.sources.owl_xml import (
    UnsupportedOwlFormatError,
    detect_owl_format,
    parse_owl_xml,
)
from fhir_owl_spark.sources.turtle import (
    parse_ontology_document,
    parse_turtle,
)

TTL = """@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix owl: <http://www.w3.org/2002/07/owl#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix : <http://ex/t#> .

<http://ex/t> a owl:Ontology ;
    owl:imports <http://ex/other> ;
    owl:versionIRI <http://ex/t/1.0> ;
    rdfs:label "turtle test ontology" .

:Parent a owl:Class ;
    rdfs:label "parent label" .

:Child a owl:Class ;
    rdfs:subClassOf :Parent ;
    rdfs:label "child label"@en , "a-sorts-first" ;
    rdfs:comment "some comment" .

:Dep a owl:Class ;
    rdfs:label "dep" ;
    owl:deprecated "true"^^<http://www.w3.org/2001/XMLSchema#boolean> .

:DepBare a owl:Class ;
    rdfs:label "dep bare" ;
    owl:deprecated true .

:EqA a owl:Class ; owl:equivalentClass :EqB .
:EqB a owl:Class .

:Anon a owl:Class ;
    rdfs:subClassOf [ a owl:Restriction ;
        owl:onProperty :p ; owl:someValuesFrom :Parent ] .

:p a owl:ObjectProperty ; rdfs:label "prop p" .
:q a owl:ObjectProperty ; rdfs:subPropertyOf :p .
"""


class TestDetect:
    @pytest.mark.parametrize(
        "head,fmt",
        [
            ("@prefix owl: <http://x> .", "turtle"),
            ("PREFIX owl: <http://x>\n", "turtle"),
            ("Prefix(owl:=<http://x>)\nOntology(<http://y>", "functional"),
            ("Ontology(<http://y>)", "functional"),
            ("format-version: 1.2\nontology: go", "obo"),
            ("Prefix: owl: <http://x>\nClass: <http://y>", "manchester"),
            ('<?xml version="1.0"?>\n<rdf:RDF xmlns:rdf="…">', "rdfxml"),
            (
                '<?xml version="1.0"?>\n<Ontology xmlns='
                '"http://www.w3.org/2002/07/owl#" ontologyIRI="http://x">',
                "owlxml",
            ),
            ("junk that is nothing", "unknown"),
        ],
    )
    def test_detect(self, head, fmt):
        assert detect_owl_format(head) == fmt

    def test_parse_owl_xml_raises_typed_errors(self, tmp_path):
        for body, fmt in [
            (TTL, "turtle"),
            ("format-version: 1.2\n[Term]\nid: GO:1\n", "obo"),
            ("Prefix(:=<http://x#>)\nOntology(<http://x>)\n", "functional"),
        ]:
            f = tmp_path / f"x_{fmt}"
            f.write_text(body)
            with pytest.raises(UnsupportedOwlFormatError, match=fmt) as ei:
                parse_owl_xml(str(f))
            assert ei.value.format == fmt
            # the message steers users to the six-format dispatcher
            assert "parse_ontology_document" in str(ei.value)

    def test_unknown_garbage_raises_typed_not_xml_error(self, tmp_path):
        f = tmp_path / "garbage.owl"
        f.write_text("complete nonsense, no xml here")
        with pytest.raises(UnsupportedOwlFormatError, match="unknown"):
            parse_owl_xml(str(f))


class TestTurtleReader:
    @pytest.fixture(scope="class")
    def parsed(self, tmp_path_factory):
        f = tmp_path_factory.mktemp("ttl") / "t.ttl"
        f.write_text(TTL)
        return parse_turtle(str(f))

    def test_metadata(self, parsed):
        assert parsed.ontology_iri == "http://ex/t"
        assert parsed.version_iri == "http://ex/t/1.0"
        assert parsed.has_imports is True
        assert parsed.imports == ["http://ex/other"]
        assert ("http://www.w3.org/2000/01/rdf-schema#label",
                "turtle test ontology") in parsed.annotations

    def test_classes_and_edges(self, parsed):
        by_iri = {c["iri"].split("#")[-1]: c for c in parsed.tables.concepts
                  if "#" in c["iri"]}
        assert by_iri["Parent"]["label"] == "parent label"
        # min-literal label competition, same as the XML reader
        assert by_iri["Child"]["label"] == "a-sorts-first"
        assert by_iri["Dep"]["deprecated"] is True
        assert by_iri["DepBare"]["deprecated"] is True
        edges = {(e["child_iri"].split("#")[-1], e["parent_iri"].split("#")[-1])
                 for e in parsed.tables.edges}
        assert ("Child", "Parent") in edges
        assert ("EqA", "EqB") in edges and ("EqB", "EqA") in edges
        assert ("q", "p") in edges
        # parentless object property roots at topObjectProperty
        assert ("p", "topObjectProperty") in edges
        # anonymous restriction body contributes no edge
        assert not any(c == "Anon" for c, _ in edges)

    def test_synonyms_keyed_by_property_iri(self, parsed):
        syns = {(s["iri"].split("#")[-1], s["synonym"], s["prop"])
                for s in parsed.tables.synonyms}
        assert ("Child", "some comment",
                "http://www.w3.org/2000/01/rdf-schema#comment") in syns
        assert ("Child", "child label",
                "http://www.w3.org/2000/01/rdf-schema#label") in syns

    def test_unicode_escapes(self, tmp_path):
        """\\u / \\U escapes decode; a malformed one is a TurtleSyntaxError,
        not a bare ValueError from int()/chr()."""
        from fhir_owl_spark.sources.turtle import TurtleSyntaxError

        head = (
            "@prefix owl: <http://www.w3.org/2002/07/owl#> .\n"
            "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .\n"
            "<http://ex/A> a owl:Class .\n"
        )
        f = tmp_path / "ok.ttl"
        f.write_text(head + '<http://ex/A> rdfs:label "caf\\u00e9 \\U0001F600" .\n')
        syns = {s["synonym"] for s in parse_turtle(str(f)).tables.synonyms}
        assert "caf\u00e9 \U0001F600" in syns
        for bad in ("\\u|\\Kg", "\\uZZZZ", "\\U00110000"):
            f = tmp_path / "bad.ttl"
            f.write_text(head + f'<http://ex/A> rdfs:label "x{bad}y" .\n')
            with pytest.raises(TurtleSyntaxError, match="invalid escape"):
                parse_turtle(str(f))

    def test_dispatcher(self, tmp_path):
        f = tmp_path / "d.ttl"
        f.write_text(TTL)
        p = parse_ontology_document(str(f))
        assert p.ontology_iri == "http://ex/t"
        x = tmp_path / "d.owl"
        x.write_text(
            '<?xml version="1.0"?>'
            '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
            'xmlns:owl="http://www.w3.org/2002/07/owl#" '
            'xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#">'
            '<owl:Ontology rdf:about="http://ex/x"/>'
            '<owl:Class rdf:about="http://ex/x#A"><rdfs:label>A</rdfs:label></owl:Class>'
            "</rdf:RDF>"
        )
        assert parse_ontology_document(str(x)).ontology_iri == "http://ex/x"
        o = tmp_path / "d.obo"
        o.write_text("format-version: 1.2\nontology: go\n[Term]\nid: GO:0000001\nname: g\n")
        p_obo = parse_ontology_document(str(o))
        assert p_obo.ontology_iri == "http://purl.obolibrary.org/obo/go.owl"
        assert any(c["iri"].endswith("GO_0000001") for c in p_obo.tables.concepts)
        fs = tmp_path / "d.ofn"
        fs.write_text("Prefix(:=<http://x#>)\nOntology(<http://x>\n"
                      "Declaration(Class(:A))\n)\n")
        p_fs = parse_ontology_document(str(fs))
        assert p_fs.ontology_iri == "http://x"
        assert any(c["iri"] == "http://x#A" for c in p_fs.tables.concepts)
        man = tmp_path / "d.omn"
        man.write_text("Prefix: : <http://x#>\nOntology: <http://x>\n"
                       "Class: <http://x#A>\n")
        p_man = parse_ontology_document(str(man))
        assert p_man.ontology_iri == "http://x"
        assert any(c["iri"] == "http://x#A" for c in p_man.tables.concepts)

    def test_same_ontology_both_serializations_agree(self, tmp_path, parsed):
        """The RDF/XML rendering of the same axioms must produce the same
        concepts and edges (cross-serialization consistency)."""
        xml = tmp_path / "same.owl"
        xml.write_text(
            '<?xml version="1.0"?>'
            '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
            'xmlns:owl="http://www.w3.org/2002/07/owl#" '
            'xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#">'
            '<owl:Ontology rdf:about="http://ex/t">'
            '<owl:imports rdf:resource="http://ex/other"/></owl:Ontology>'
            '<owl:Class rdf:about="http://ex/t#Parent">'
            "<rdfs:label>parent label</rdfs:label></owl:Class>"
            '<owl:Class rdf:about="http://ex/t#Child">'
            '<rdfs:subClassOf rdf:resource="http://ex/t#Parent"/>'
            "<rdfs:label>child label</rdfs:label>"
            "<rdfs:label>a-sorts-first</rdfs:label>"
            "<rdfs:comment>some comment</rdfs:comment></owl:Class>"
            "</rdf:RDF>"
        )
        a = parse_owl_xml(str(xml))
        ca = {(c["iri"], c["label"], c["deprecated"]) for c in a.tables.concepts}
        cb = {(c["iri"], c["label"], c["deprecated"]) for c in parsed.tables.concepts
              if c["iri"].split("#")[-1] in
              ("Parent", "Child") or c["iri"].endswith("Thing")}
        assert cb <= ca | cb  # sanity
        # Child/Parent rows identical across serializations
        child_a = [c for c in a.tables.concepts if c["iri"].endswith("#Child")][0]
        child_b = [c for c in parsed.tables.concepts if c["iri"].endswith("#Child")][0]
        assert child_a["label"] == child_b["label"] == "a-sorts-first"
        ea = {(e["child_iri"], e["parent_iri"]) for e in a.tables.edges}
        assert ("http://ex/t#Child", "http://ex/t#Parent") in ea


def test_closure_mixes_serializations(tmp_path):
    """An RDF/XML root can import a Turtle document (the OWL API
    auto-detects per document) — the closure must parse both and mark the
    Turtle classes imported."""
    from fhir_owl_spark.sources.owl_xml import load_owl_closure

    ttl = tmp_path / "imp.ttl"
    ttl.write_text(
        "@prefix owl: <http://www.w3.org/2002/07/owl#> .\n"
        "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .\n"
        "<http://ex/imp> a owl:Ontology .\n"
        "<http://ex/imp#I> a owl:Class ; rdfs:label \"imported turtle\" .\n"
    )
    root = tmp_path / "root.owl"
    root.write_text(
        '<?xml version="1.0"?>'
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
        'xmlns:owl="http://www.w3.org/2002/07/owl#" '
        'xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#">'
        '<owl:Ontology rdf:about="http://ex/root">'
        '<owl:imports rdf:resource="http://ex/imp"/></owl:Ontology>'
        '<owl:Class rdf:about="http://ex/root#R"><rdfs:label>R</rdfs:label>'
        '<rdfs:subClassOf rdf:resource="http://ex/imp#I"/></owl:Class>'
        "</rdf:RDF>"
    )
    parsed = load_owl_closure(str(root), {"http://ex/imp": str(ttl)})
    by_iri = {c["iri"]: c for c in parsed.tables.concepts}
    assert by_iri["http://ex/imp#I"]["imported"] is True
    assert by_iri["http://ex/imp#I"]["label"] == "imported turtle"
    assert by_iri["http://ex/root#R"]["imported"] is False
