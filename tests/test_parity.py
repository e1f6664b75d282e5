"""Golden-triple parity: the distributed engine must reproduce the
pure-Python model of the reference semantics (the P/R ≥ 0.95 gate,
BASELINE.md) and the reference's own test assertions
(FhirOwlServiceTest.java:42-176) on the tabular pizza/duo fixtures."""

from __future__ import annotations

import pytest

from fhir_owl_spark import fixtures as fx
from fhir_owl_spark.config import PipelineConfig
from fhir_owl_spark.plans.build_graph import build_graph


def engine_triples(spark, ont, turns, cfg):
    concepts, edges, synonyms = fx.ontology_dfs(spark, ont)
    tdf = fx.transcripts_df(spark, turns)
    out = build_graph(spark, concepts, edges, synonyms, tdf, cfg)
    return {(r["subj"], r["pred"], r["obj"]) for r in out.collect()}


def pr(got: set, expected: set) -> tuple[float, float]:
    if not got or not expected:
        return (0.0, 0.0)
    tp = len(got & expected)
    return tp / len(got), tp / len(expected)


@pytest.fixture(scope="module")
def pizza(spark):
    ont, cfg = fx.pizza_fixture()
    turns = fx.make_transcripts(ont, cfg, n_conv=40, seed=42, hub_term="Cheese Topping")
    got = engine_triples(spark, ont, turns, cfg)
    expected = fx.model_build_graph(ont, turns, cfg)
    return got, expected


@pytest.fixture(scope="module")
def duo(spark):
    ont, cfg = fx.duo_fixture()
    turns = fx.make_transcripts(ont, cfg, n_conv=25, seed=7)
    got = engine_triples(spark, ont, turns, cfg)
    expected = fx.model_build_graph(ont, turns, cfg)
    return got, expected


class TestPizzaParity:
    def test_precision_recall(self, pizza):
        got, expected = pizza
        p, r = pr(got, expected)
        assert p >= 0.95, f"precision {p}: extra={sorted(got - expected)[:10]}"
        assert r >= 0.95, f"recall {r}: missing={sorted(expected - got)[:10]}"

    def test_exact_match(self, pizza):
        got, expected = pizza
        assert got == expected

    # FhirOwlServiceTest.java:90-94 — Thing & topObjectProperty present,
    # topDataProperty absent
    def test_top_entities(self, pizza):
        got, _ = pizza
        subjects = {s for s, _, _ in got}
        assert "Thing" in subjects
        assert "topObjectProperty" in subjects
        assert "topDataProperty" not in subjects

    # FhirOwlServiceTest.java:76-81 — unsatisfiable IceCream absent
    def test_unsatisfiable_absent(self, pizza):
        got, _ = pizza
        assert not any("IceCream" in (s, o) for s, _, o in got)

    # FhirOwlServiceTest.java:97-101 — the 5-deep class chain, direct parents
    def test_class_chain(self, pizza):
        got, _ = pizza
        for child, parent in [
            ("PrawnsTopping", "FishTopping"),
            ("FishTopping", "PizzaTopping"),
            ("PizzaTopping", "Food"),
            ("Food", "DomainConcept"),
            ("DomainConcept", "Thing"),
        ]:
            assert (child, "is-a", parent) in got, (child, parent)

    # GraphUtils.java:160-175 — redundant asserted edge removed by reduction
    def test_redundant_edge_removed(self, pizza):
        got, _ = pizza
        assert ("PrawnsTopping", "is-a", "PizzaTopping") not in got

    # FhirOwlServiceTest.java:111-112 — object property chain
    def test_object_property_chain(self, pizza):
        got, _ = pizza
        assert ("isToppingOf", "is-a", "isIngredientOf") in got
        assert ("isIngredientOf", "is-a", "topObjectProperty") in got

    # FhirOwlService.java:627-631 — deprecated parent dropped, no relink;
    # deprecated concept itself absent (:824-827)
    def test_deprecated(self, pizza):
        got, _ = pizza
        subjects = {s for s, _, _ in got}
        assert "OldTopping" not in subjects
        assert not any(s == "NewTopping" and p == "is-a" for s, p, _ in got)

    # diamond: both direct parents emitted (FhirOwlService.java:620-648)
    def test_diamond(self, pizza):
        got, _ = pizza
        assert ("CheesyPizza", "is-a", "Pizza") in got
        assert ("CheesyPizza", "is-a", "CheesyFood") in got

    # A1 lexicographic-min preferred term; A2 synonyms minus display/excluded
    def test_display_and_synonyms(self, pizza):
        got, _ = pizza
        assert ("CheeseTopping", "has-display", "Cheese Topping") in got
        assert ("CheeseTopping", "synonym-of", "Mozzarella Topping") in got
        assert ("CheeseTopping", "synonym-of", "queso") in got
        assert ("CheeseTopping", "synonym-of", "Cheese Topping") not in got
        assert ("CheeseTopping", "synonym-of", "wiki") not in got
        # excluded-only labels fall back to the closure label column
        assert ("MysteryTopping", "has-display", "Mystery Topping") in got
        # promotion: min synonym becomes display, removed from synonyms
        assert ("VeggieTopping", "has-display", "garden topping") in got
        assert ("VeggieTopping", "synonym-of", "vegetable topping") in got
        assert ("VeggieTopping", "synonym-of", "garden topping") not in got

    # implicit ⊑Thing completion for parentless classes
    def test_parentless_gets_thing(self, pizza):
        got, _ = pizza
        assert ("Quantity", "is-a", "Thing") in got

    # root=true ONLY for top entities (FhirOwlService.java:611-613 actual
    # behavior, not the :488-491 description)
    def test_root_flags(self, pizza):
        got, _ = pizza
        assert ("Thing", "root", "true") in got
        assert ("topObjectProperty", "root", "true") in got
        assert ("DomainConcept", "root", "false") in got


class TestDuoParity:
    def test_precision_recall(self, duo):
        got, expected = duo
        p, r = pr(got, expected)
        assert p >= 0.95, f"precision {p}: extra={sorted(got - expected)[:10]}"
        assert r >= 0.95, f"recall {r}: missing={sorted(expected - got)[:10]}"

    def test_exact_match(self, duo):
        got, expected = duo
        assert got == expected

    # FhirOwlServiceTest.java:173-175 with codeReplace('_',':') applied to
    # local codes (README.md:101 style)
    def test_duo_chain_with_code_replace(self, duo):
        got, _ = duo
        for child, parent in [
            ("DUO:0000007", "DUO:0000006"),
            ("DUO:0000006", "DUO:0000042"),
            ("DUO:0000042", "DUO:0000001"),
        ]:
            assert (child, "is-a", parent) in got, (child, parent)

    # Thing is imported → full-IRI code (FhirOwlServiceTest.java:166) and
    # the special display fires (FhirOwlService.java:852)
    def test_imported_thing(self, duo):
        got, _ = duo
        thing = "http://www.w3.org/2002/07/owl#Thing"
        assert (thing, "root", "true") in got
        assert (thing, "has-display", "Thing") in got
        assert (thing, "imported", "true") in got

    # imported parent code = full IRI, codeReplace NOT applied
    # (FhirOwlService.java:644-647, :843)
    def test_imported_parent_full_iri(self, duo):
        got, _ = duo
        assert (
            "DUO:0000010",
            "is-a",
            "http://purl.example/obo/IAO_0000030",
        ) in got

    # deprecated DUO concepts absent by default (duo.owl:461-481 analog)
    def test_deprecated_absent(self, duo):
        got, _ = duo
        subjects = {s for s, _, _ in got}
        assert "DUO:0000002" not in subjects
        assert "DUO:0000003" not in subjects


class TestIncludeDeprecated:
    def test_deprecated_kept_and_flagged(self, spark):
        ont, cfg0 = fx.pizza_fixture()
        cfg = PipelineConfig(
            synonym_props=cfg0.synonym_props,
            labels_to_exclude=cfg0.labels_to_exclude,
            include_deprecated=True,
        )
        got = engine_triples(spark, ont, [], cfg)
        expected = fx.model_build_graph(ont, [], cfg)
        assert got == expected
        assert ("OldTopping", "deprecated", "true") in got
        assert ("NewTopping", "is-a", "OldTopping") in got


class TestSyntheticScale:
    def test_18k_paths_agree_sampled(self, spark):
        """HPO-scale sanity (BASELINE.md anchor): a 2k-concept slice of the
        synthetic ontology — engine ≡ model."""
        ont, cfg = fx.synthetic_ontology(2_000)
        expected = fx.model_build_graph(ont, [], cfg)
        assert engine_triples(spark, ont, [], cfg) == expected
