"""Mention-detection semantics: whole-word ASCII-boundary matching, case
insensitivity, nested/overlapping terms, engine ≡ fixture model
(fixtures.model_mentions), deprecated/stop-term exclusion."""

from __future__ import annotations

import datetime as dt
from collections import Counter

import pytest
from pyspark.sql import functions as F

from fhir_owl_spark.config import PipelineConfig
from fhir_owl_spark.fixtures import Ontology, ontology_dfs, transcripts_df
from fhir_owl_spark.operators.dictionary import build_concept_dictionary
from fhir_owl_spark.operators.mentions import (
    _layer_terms,
    _trie_layer_regex,
    _trie_patterns_for,
    extract_mentions,
    linkable_terms,
)
from fhir_owl_spark.schemas import OWL_THING


def make_ont():
    o = Ontology()
    o.concept(OWL_THING, "t", label="Thing")
    o.concept("http://x#Data", "t", label="data")
    o.concept("http://x#DataObject", "t", label="data object")
    o.concept("http://x#Object", "t", label="object")
    o.concept("http://x#Scan", "t", label="scan")
    o.concept("http://x#Old", "t", label="legacy", deprecated=True)
    for c in o.concepts:
        if c["label"]:
            o.synonym(c["iri"], c["label"], prop="label")
    cfg = PipelineConfig(synonym_props=("label",), has_imports=False, min_term_chars=2)
    return o, cfg


def turns(*texts):
    return [
        dict(conv_id=f"c{i}", turn_idx=0, role="user", text=t, tool=None,
             ts=dt.datetime(2026, 1, 1))
        for i, t in enumerate(texts)
    ]


def run(spark, texts, cfg=None, ont=None, n_filler=0):
    o, c = make_ont()
    cfg = cfg or c
    ont = ont or o
    concepts, edges, synonyms = ontology_dfs(spark, ont)
    d = build_concept_dictionary(concepts, synonyms, cfg)
    if n_filler:
        # filler concepts whose terms ('zq0000042', ...) occur in no text:
        # they only grow the dictionary
        filler = spark.range(n_filler).select(
            F.format_string("http://x#F%d", "id").alias("iri"),
            F.format_string("F%d", "id").alias("code"),
            F.format_string("zq%07d", "id").alias("display"),
            F.array().cast("array<string>").alias("synonyms"),
            F.lit(False).alias("deprecated"),
            F.lit(False).alias("imported"),
            F.lit(False).alias("root"),
        )
        d = d.unionByName(filler)
    tdf = transcripts_df(spark, turns(*texts))
    m = extract_mentions(tdf, d, cfg)
    return {(r["conv_id"], r["code"], r["term"], r["n_hits"]) for r in m.collect()}


TEXTS = [
    "the data object is ready",     # 'data object' AND 'data' both match
    "DATA Object pipeline",         # case-insensitive, multi-word across case
    "database scan running",        # 'data' must NOT match inside 'database'
    "scan scan scan",               # n_hits=3
    "data, object!",                # punctuation boundary: 'data', 'object' yes; 'data object' no
    "legacy system",                # deprecated label must not link
    "",                             # empty text
    "a data object here",           # 'object' nested as a suffix of 'data object'
    "database",                     # no term matches inside a longer word
]

EXPECTED = {
    ("c0", "Data", "data", 1),
    ("c0", "DataObject", "data object", 1),
    ("c0", "Object", "object", 1),
    ("c1", "Data", "data", 1),
    ("c1", "DataObject", "data object", 1),
    ("c1", "Object", "object", 1),
    ("c2", "Scan", "scan", 1),
    ("c3", "Scan", "scan", 3),
    ("c4", "Data", "data", 1),
    ("c4", "Object", "object", 1),
    ("c7", "Data", "data", 1),
    ("c7", "DataObject", "data object", 1),
    ("c7", "Object", "object", 1),
}


# Dictionary sizes on each side of the former kernel cutovers (flat regex
# up to 256 terms, trie regex up to 65,536, Aho-Corasick above). Each id
# names the kernel that used to serve that size; the trie regex now serves
# all of them, so the semantics must hold unchanged at every size.
DICT_SIZES = {"regex": 0, "trieregex": 300, "ahocorasick": 65_537}


@pytest.mark.parametrize("size_class", list(DICT_SIZES))
def test_matching_semantics(spark, size_class):
    assert run(spark, TEXTS, n_filler=DICT_SIZES[size_class]) == EXPECTED


def test_engine_matches_model_on_fixture_corpus(spark):
    from fhir_owl_spark import fixtures as fx

    ont, cfg = fx.pizza_fixture()
    texts = [t["text"] for t in fx.make_transcripts(ont, cfg, n_conv=20, seed=3)]
    concepts, edges, synonyms = fx.ontology_dfs(spark, ont)
    d = build_concept_dictionary(concepts, synonyms, cfg)
    rows = turns(*texts)
    tdf = transcripts_df(spark, rows)
    got = {
        (r["code"], r["conv_id"])
        for r in extract_mentions(tdf, d, cfg).select("code", "conv_id").collect()
    }
    want = {
        (code, conv_id)
        for code, _, conv_id in fx.model_mentions(fx.model_concept_rows(ont, cfg), rows, cfg)
    }
    assert got == want and got


def test_trie_pattern_language():
    """The trie-factored pattern matches exactly the flat alternation's
    language, including prefix-nested same-layer terms and regex
    metacharacters in terms."""
    import re

    from fhir_owl_spark.operators.mentions import _trie_pattern

    terms = ["scan", "scanner", "scans", "s.c", "a-b", "a-bc", "x", "xy z"]
    pat = re.compile("^(?:" + _trie_pattern(terms) + ")$")
    for t in terms:
        assert pat.match(t), t
    for bad in ["sca", "scann", "s c", "ab", "a-", "xy", "xy  z", ""]:
        assert not pat.match(bad), bad


def test_layering():
    layers = _layer_terms(["data", "data object", "data object model", "scan"])
    assert layers[0] == ["data object model", "scan"]
    assert layers[1] == ["data object"]
    assert layers[2] == ["data"]
    # word-prefix only when a boundary follows: 'scan' vs 'scanner' coexist
    assert _layer_terms(["scan", "scanner"]) == [["scanner", "scan"]]


def test_ahocorasick_overlaps():
    """The overlap cases of the removed Aho-Corasick kernel, checked on the
    trie kernel: a term nested as a prefix ('data') and as a suffix
    ('object') of 'data object' all match once, and no term matches
    inside a longer word ('database')."""

    def counts(text):
        return Counter(
            t for pat in _trie_patterns_for(("data", "data object", "object"))
            for t in pat.findall(text)
        )

    assert counts("a data object here") == {"data": 1, "data object": 1, "object": 1}
    assert counts("database") == {}


def test_long_term_matches():
    """A term thousands of characters long compiles and matches: the
    pattern builder must not recurse once per character."""
    term = "ab" * 2500
    pat = _trie_layer_regex([term, "ab"])
    assert pat.findall(f"x {term} y") == [term]
    assert pat.findall(f"x {term}c y") == []


def test_pairs_only_equals_distinct_pairs(spark):
    """pairs_only batch-dedup path must equal distinct (code, conv_id)
    of the full mention output."""
    from fhir_owl_spark import fixtures as fx

    ont, cfg = fx.pizza_fixture()
    texts = [t["text"] for t in fx.make_transcripts(ont, cfg, n_conv=15, seed=4)]
    concepts, edges, synonyms = fx.ontology_dfs(spark, ont)
    d = build_concept_dictionary(concepts, synonyms, cfg)
    tdf = transcripts_df(spark, turns(*texts))
    full = extract_mentions(tdf, d, cfg)
    a = {(r["code"], r["conv_id"]) for r in full.select("code", "conv_id").distinct().collect()}
    b = {
        tuple(r)
        for r in extract_mentions(tdf, d, cfg, pairs_only=True).distinct().collect()
    }
    assert a == b and a


# sha256 of json.dumps(linkable_terms(...)) on each fixture's dictionary
# and config, as computed by the explode-then-collect form of
# linkable_terms (term counts: pizza 20, duo 8, query_ops 26)
LINKABLE_TERMS_SHA256 = {
    "pizza_fixture": "e2c9f2a79cd9fd655dde7e045df2d968f4a83239030112caf1f2667ecc5933db",
    "duo_fixture": "63b43c6f8886952df3f24164c22848d556b02e528ff8b2fe1a25a3dab4e99d8e",
    "query_ops_fixture": "53b146784c0fbc63cb52a2d3f32dda31afc7fbbc3eec1a88db71651ba112710d",
}


@pytest.mark.parametrize("fixture", sorted(LINKABLE_TERMS_SHA256))
def test_linkable_terms_pinned(spark, fixture):
    import hashlib
    import json

    from fhir_owl_spark import fixtures as fx

    ont, cfg = getattr(fx, fixture)()
    concepts, _, synonyms = fx.ontology_dfs(spark, ont)
    terms = linkable_terms(build_concept_dictionary(concepts, synonyms, cfg), cfg)
    digest = hashlib.sha256(json.dumps(terms).encode()).hexdigest()
    assert digest == LINKABLE_TERMS_SHA256[fixture], terms


def test_linkable_terms_unicode(spark):
    """Lower-casing is Spark's (İ → i + U+0307, final Σ → ς, ẞ → ß), the
    length filter counts code points AFTER it (combining marks count),
    and stop terms are lower-cased in Python; expected lists as computed
    by the explode-then-collect form of linkable_terms."""
    import dataclasses

    from fhir_owl_spark.schemas import CONCEPT_DICTIONARY
    from fhir_owl_spark.session import local_frame

    rows = [
        ("u:1", "c1", "\u0130stanbul",
         ["\u0130", "\u0130\u0130", "\u039f\u0394\u039f\u03a3"], False, False, False),
        ("u:2", "c2", "STRASSE",
         ["Stra\u00dfe", "\u1e9e", "\u1e9e\u1e9e\u1e9e"], False, False, False),
        ("u:3", "c3", "Cafe\u0301",
         ["e\u0301", "E\u0301E\u0301", "\u03a3\u03a3"], True, False, False),
        ("u:4", "c4", None, ["Ab", "a"], False, False, False),
        ("u:5", "c5", "\u041e\u0414\u041e\u0421", [], False, False, False),
    ]
    d = local_frame(spark, rows, CONCEPT_DICTIONARY)
    base = PipelineConfig()
    every = dataclasses.replace(base, min_term_chars=2, link_deprecated=True)
    assert linkable_terms(d, every) == [
        ("ab", "c4"), ("cafe\u0301", "c3"), ("e\u0301", "c3"),
        ("e\u0301e\u0301", "c3"), ("i\u0307", "c1"), ("i\u0307i\u0307", "c1"),
        ("i\u0307stanbul", "c1"), ("strasse", "c2"), ("stra\u00dfe", "c2"),
        ("\u00df\u00df\u00df", "c2"), ("\u03bf\u03b4\u03bf\u03c2", "c1"),
        ("\u03c3\u03c2", "c3"), ("\u043e\u0434\u043e\u0441", "c5"),
    ]
    guarded = dataclasses.replace(
        base,
        min_term_chars=3,
        link_stop_terms=("\u039f\u0394\u039f\u03a3", "stra\u00dfe", "\u0130\u0130"),
    )
    assert linkable_terms(d, guarded) == [
        ("i\u0307stanbul", "c1"), ("strasse", "c2"),
        ("\u00df\u00df\u00df", "c2"), ("\u043e\u0434\u043e\u0441", "c5"),
    ]
