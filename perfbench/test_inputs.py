"""Tests of the benchmark's input generation (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import inputs  # noqa: E402
from fhir_owl_spark import fixtures as fx  # noqa: E402
from fhir_owl_spark.sources.turtle import parse_ontology_document  # noqa: E402

GENERATORS = {
    "qops": fx.query_ops_fixture,
    "synthetic": lambda: fx.synthetic_ontology(400, seed=7),
}


def _parse(tmp_path, ont):
    path = tmp_path / "ont.owl"
    path.write_text(inputs.render_rdfxml(ont, "http://example.org/bench/test"))
    return parse_ontology_document(str(path), **inputs.parse_kwargs(ont))


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_rendered_document_parses_back_to_generator_tables(tmp_path, name):
    ont, _ = GENERATORS[name]()
    parsed = _parse(tmp_path, ont)
    got = parsed.tables
    assert not parsed.has_imports

    def concepts(o):
        return {(c["iri"], c["label"], c["deprecated"], c["imported"], c["unsatisfiable"])
                for c in o.concepts}

    assert concepts(got) == concepts(ont)
    assert ({(e["child_iri"], e["parent_iri"]) for e in got.edges}
            == {(e["child_iri"], e["parent_iri"]) for e in ont.edges})
    # a parse reports every rdfs:label as a label-prop synonym row too
    want = {(s["iri"], s["synonym"], inputs.PROP_IRIS[s["prop"]]) for s in ont.synonyms}
    want |= {(c["iri"], c["label"], inputs.RDFS_LABEL) for c in ont.concepts if c["label"]}
    assert {(s["iri"], s["synonym"], s["prop"]) for s in got.synonyms} == want


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_document_config_gives_the_model_concepts(tmp_path, name):
    ont, cfg = GENERATORS[name]()
    parsed = _parse(tmp_path, ont)
    dcfg = inputs.document_config(cfg, parsed.has_imports)
    want = fx.model_concept_rows(ont, cfg)
    got = fx.model_concept_rows(parsed.tables, dcfg)
    assert {k: (r["code"], r["display"], r["synonyms"]) for k, r in got.items()} == {
        k: (r["code"], r["display"], r["synonyms"]) for k, r in want.items()
    }


def test_fixed_seed_regenerates_identical_inputs():
    def make(seed):
        ont, cfg = fx.synthetic_ontology(400, seed=seed)
        v2, iri, label = inputs.relabel_one(ont, cfg, seed)
        return (
            inputs.render_rdfxml(ont, "http://example.org/bench/x"),
            inputs.render_rdfxml(v2, "http://example.org/bench/x"),
            fx.make_transcripts(ont, cfg, n_conv=30, seed=seed),
            iri,
            label,
        )

    assert make(3) == make(3)
    assert make(3) != make(4)


def test_relabel_changes_exactly_one_display():
    ont, cfg = fx.query_ops_fixture()
    v2, iri, label = inputs.relabel_one(ont, cfg, 11)
    before = fx.model_concept_rows(ont, cfg)
    after = fx.model_concept_rows(v2, cfg)
    changed = {k for k in before if before[k]["display"] != after[k]["display"]}
    assert changed == {iri}
    assert after[iri]["display"] == label


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_model_triples_equal_the_fixture_model(name):
    import workloads

    ont, cfg = GENERATORS[name]()
    turns = fx.make_transcripts(ont, cfg, n_conv=40, seed=3)
    texts = [(t["conv_id"], t["text"]) for t in turns]
    assert workloads.model_triples(ont, cfg, texts) == fx.model_build_graph(ont, turns, cfg)
