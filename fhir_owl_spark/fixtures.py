"""Deterministic fixtures + a pure-Python model implementation.

Two things live here:

1. Tabular fixture ontologies mirroring the reference's test resources
   (/root/reference/src/test/resources/pizza.owl, duo.owl) per FIXTURES.md,
   plus a deterministic transcript generator (seed=42, no wall clock).

2. ``model_build_graph`` — an independent, driver-side, pure-Python
   implementation of the reference's per-concept semantics
   (FhirOwlService.processEntity, FhirOwlService.java:803-903;
   GraphUtils.transitiveReduction, GraphUtils.java:53-175). It is the
   oracle the distributed engine is scored against (triple P/R ≥ 0.95,
   BASELINE.md). It shares NO code with the Spark engine.

Known, documented deviations from the reference (all absorbed by the
0.95 tolerance; see SURVEY.md §7.4):
  * synonym-promotion uses lexicographic min, not HashSet iteration order
    (FhirOwlService.java:889-895 is nondeterministic);
  * display fallback prefers the closure label over the special-display
    override (the reference's production path overwrites the special
    display with the IRI string for unnamed top entities,
    FhirOwlService.java:882-888 — a quirk we do not reproduce);
  * hierarchy is computed over asserted subClassOf edges completed with
    an implicit edge→owl:Thing for parentless classes (stand-in for the
    reasoner's ⊑Thing inference, FhirOwlService.java:532-533); no DL
    reasoning — unsatisfiable classes are an explicit fixture column.
"""

from __future__ import annotations

import datetime as dt
import random
import re
from dataclasses import dataclass, field

from .config import PipelineConfig
from .schemas import (
    OWL_NOTHING,
    OWL_THING,
    OWL_TOP_DATA_PROPERTY,
    OWL_TOP_OBJECT_PROPERTY,
    SPECIAL_DISPLAYS,
    TOP_ENTITIES,
)

PIZZA_NS = "http://example.org/pizza.owl#"
DUO_NS = "http://purl.example/obo/"

EPOCH = dt.datetime(2026, 1, 1, 0, 0, 0)


# ---------------------------------------------------------------------------
# Fixture container
# ---------------------------------------------------------------------------


@dataclass
class Ontology:
    """Row dicts matching schemas.ONTOLOGY_* field order."""

    concepts: list[dict] = field(default_factory=list)
    edges: list[dict] = field(default_factory=list)
    synonyms: list[dict] = field(default_factory=list)

    def concept(self, iri, ontology_id, label=None, deprecated=False, imported=False,
                unsatisfiable=False):
        self.concepts.append(
            dict(iri=iri, ontology_id=ontology_id, label=label, deprecated=deprecated,
                 imported=imported, unsatisfiable=unsatisfiable)
        )
        return iri

    def edge(self, child, parent):
        self.edges.append(dict(child_iri=child, parent_iri=parent))

    def synonym(self, iri, synonym, prop="hasExactSynonym"):
        self.synonyms.append(dict(iri=iri, synonym=synonym, prop=prop))


# ---------------------------------------------------------------------------
# Pizza-style fixture (DL test analog: FhirOwlServiceTest.java:42-113)
# No imports → local codes are IRI short forms.
# ---------------------------------------------------------------------------


def pizza_fixture() -> tuple[Ontology, PipelineConfig]:
    o = Ontology()
    p = lambda name: PIZZA_NS + name  # noqa: E731

    o.concept(OWL_THING, "pizza", label="Thing")
    o.concept(OWL_NOTHING, "pizza", label="Nothing")  # engine must drop (F2)

    # Class chain Prawns→Fish→PizzaTopping→Food→DomainConcept→Thing
    # (FhirOwlServiceTest.java:97-101)
    o.concept(p("DomainConcept"), "pizza", label="Domain Concept")
    o.concept(p("Food"), "pizza", label="Food")
    o.concept(p("PizzaTopping"), "pizza", label="Pizza Topping")
    o.concept(p("FishTopping"), "pizza", label="Fish Topping")
    o.concept(p("PrawnsTopping"), "pizza", label="Prawns Topping")
    o.edge(p("DomainConcept"), OWL_THING)
    o.edge(p("Food"), p("DomainConcept"))
    o.edge(p("PizzaTopping"), p("Food"))
    o.edge(p("FishTopping"), p("PizzaTopping"))
    o.edge(p("PrawnsTopping"), p("FishTopping"))
    # Redundant edge — transitive reduction must remove it (GraphUtils.java:160-175)
    o.edge(p("PrawnsTopping"), p("PizzaTopping"))

    # Diamond: CheesyPizza has two direct parents (FhirOwlService.java:620-648)
    o.concept(p("Pizza"), "pizza", label="Pizza")
    o.concept(p("CheesyFood"), "pizza", label="Cheesy Food")
    o.concept(p("CheesyPizza"), "pizza", label="Cheesy Pizza")
    o.edge(p("Pizza"), p("Food"))
    o.edge(p("CheesyFood"), p("Food"))
    o.edge(p("CheesyPizza"), p("Pizza"))
    o.edge(p("CheesyPizza"), p("CheesyFood"))

    # Unsatisfiable class analog of IceCream (pizza.owl:1148-1160): dropped
    # like Nothing-equivalents (FhirOwlService.java:520-527)
    o.concept(p("IceCream"), "pizza", label="Ice Cream", unsatisfiable=True)
    o.edge(p("IceCream"), p("Food"))

    # Deprecated parent in a chain: NewTopping→OldTopping→PizzaTopping.
    # Default output: OldTopping absent; NewTopping keeps NO parent (the
    # reference drops the edge without relinking, FhirOwlService.java:627-631)
    o.concept(p("OldTopping"), "pizza", label="Old Topping", deprecated=True)
    o.concept(p("NewTopping"), "pizza", label="New Topping")
    o.edge(p("OldTopping"), p("PizzaTopping"))
    o.edge(p("NewTopping"), p("OldTopping"))

    # Multi-label concept: lexicographic-min preferred term
    # (TreeSet.first(), FhirOwlService.java:706-724)
    o.concept(p("CheeseTopping"), "pizza", label="Mozzarella Topping")
    o.edge(p("CheeseTopping"), p("PizzaTopping"))
    o.synonym(p("CheeseTopping"), "Cheese Topping", prop="label")       # min → display
    o.synonym(p("CheeseTopping"), "Mozzarella Topping", prop="label")
    o.synonym(p("CheeseTopping"), "queso", prop="hasExactSynonym")
    o.synonym(p("CheeseTopping"), "Cheese Topping", prop="hasExactSynonym")  # == display → dropped
    o.synonym(p("CheeseTopping"), "wiki", prop="hasExactSynonym")       # excluded label

    # A concept whose only label candidates are excluded → display falls back
    # to the closure label column (iriDisplayMap analog)
    o.concept(p("MysteryTopping"), "pizza", label="Mystery Topping")
    o.edge(p("MysteryTopping"), p("PizzaTopping"))
    o.synonym(p("MysteryTopping"), "wiki", prop="label")

    # A concept with synonyms but no preferred term → min synonym promoted
    # (deterministic stand-in for FhirOwlService.java:889-895)
    o.concept(p("VeggieTopping"), "pizza")
    o.edge(p("VeggieTopping"), p("PizzaTopping"))
    o.synonym(p("VeggieTopping"), "vegetable topping", prop="hasExactSynonym")
    o.synonym(p("VeggieTopping"), "garden topping", prop="hasExactSynonym")

    # Parentless class → implicit is-a Thing (reasoner ⊑Thing completion)
    o.concept(p("Quantity"), "pizza", label="Quantity Value")

    # Object-property chain isToppingOf→isIngredientOf→topObjectProperty
    # (FhirOwlServiceTest.java:111-112; jfact-only path FhirOwlService.java:543-564)
    o.concept(OWL_TOP_OBJECT_PROPERTY, "pizza")
    o.concept(p("isIngredientOf"), "pizza", label="is ingredient of")
    o.concept(p("isToppingOf"), "pizza", label="is topping of")
    o.edge(p("isIngredientOf"), OWL_TOP_OBJECT_PROPERTY)
    o.edge(p("isToppingOf"), p("isIngredientOf"))
    # topDataProperty intentionally absent (pizza has no data properties →
    # the reference skips the block entirely, FhirOwlService.java:567)

    cfg = PipelineConfig(
        synonym_props=("label", "hasExactSynonym"),
        labels_to_exclude=("wiki", "WIKI"),
        has_imports=False,
    )
    return o, cfg


# ---------------------------------------------------------------------------
# DUO-style fixture (EL test analog: FhirOwlServiceTest.java:119-176)
# Has imports → local codes shortform+replace, imported codes = full IRI.
# ---------------------------------------------------------------------------


def duo_fixture() -> tuple[Ontology, PipelineConfig]:
    o = Ontology()
    d = lambda name: DUO_NS + name  # noqa: E731

    # With imports present and Thing not in the main signature, Thing is
    # imported → code = full IRI (FhirOwlServiceTest.java:166 asserts the
    # full-IRI code) and the special display fires (FhirOwlService.java:852).
    o.concept(OWL_THING, "imported-iao", imported=True)

    # Chain DUO_0000007→0000006→0000042→0000001 (FhirOwlServiceTest.java:173-175)
    o.concept(d("DUO_0000001"), "duo", label="data use permission")
    o.concept(d("DUO_0000042"), "duo", label="general research use")
    o.concept(d("DUO_0000006"), "duo", label="health or medical or biomedical research")
    o.concept(d("DUO_0000007"), "duo", label="disease specific research")
    o.edge(d("DUO_0000001"), OWL_THING)
    o.edge(d("DUO_0000042"), d("DUO_0000001"))
    o.edge(d("DUO_0000006"), d("DUO_0000042"))
    o.edge(d("DUO_0000007"), d("DUO_0000006"))

    # Deprecated concepts (duo.owl:461-481)
    o.concept(d("DUO_0000002"), "duo", label="obsolete general methods research", deprecated=True)
    o.concept(d("DUO_0000003"), "duo", label="obsolete clinical care use", deprecated=True)
    o.edge(d("DUO_0000002"), d("DUO_0000001"))
    o.edge(d("DUO_0000003"), d("DUO_0000001"))

    # Imported concept as a parent: child is local, parent code = full IRI
    # (FhirOwlService.java:644-647)
    o.concept(d("IAO_0000030"), "imported-iao", label="information content entity",
              imported=True)
    o.edge(d("IAO_0000030"), OWL_THING)
    o.concept(d("DUO_0000010"), "duo", label="data use modifier")
    o.edge(d("DUO_0000010"), d("IAO_0000030"))

    # alt-label synonyms (IAO_0000118 analog, duo.owl:451)
    o.synonym(d("DUO_0000042"), "GRU", prop="altLabel")
    o.synonym(d("DUO_0000006"), "HMB", prop="altLabel")
    o.synonym(d("DUO_0000007"), "DS", prop="altLabel")
    # labels also flow through the synonym pipeline when configured
    o.synonym(d("DUO_0000007"), "disease specific research", prop="label")

    cfg = PipelineConfig(
        synonym_props=("label", "altLabel"),
        code_replace=("_", ":"),  # DUO_0000007 → DUO:0000007 (README.md:101 style)
        has_imports=True,
        use_fhir_extension=True,
        date_regex=r"(?P<year>\d{4})-(?P<month>\d{2})-(?P<day>\d{2})",
    )
    return o, cfg


def cycle_fixture() -> tuple[Ontology, PipelineConfig]:
    """Quarantined 2-cycle with equivalence_mode='abort' — the literal
    GraphUtils.java:146 throw. Under the default 'group' mode the same
    input is treated as an equivalence set instead (see
    equivalence_fixture)."""
    o = Ontology()
    p = lambda name: PIZZA_NS + name  # noqa: E731
    o.concept(OWL_THING, "pizza", label="Thing")
    o.concept(p("A"), "pizza", label="A node")
    o.concept(p("B"), "pizza", label="B node")
    o.edge(p("A"), p("B"))
    o.edge(p("B"), p("A"))
    o.edge(p("A"), OWL_THING)
    return o, PipelineConfig(equivalence_mode="abort")


def equivalence_fixture() -> tuple[Ontology, PipelineConfig]:
    """Equivalence semantics (default mode='group'): Veggie ≡ Vegetarian
    (mutual subsumption), both ⊑ Food; Margherita ⊑ Veggie. Reasoner-
    parity expectation: Veggie and Vegetarian each get parent Food (no
    edge between them), Margherita gets BOTH as parents; an isolated
    2-cycle {X, Y} with no external parent re-roots both at Thing."""
    o = Ontology()
    p = lambda name: PIZZA_NS + name  # noqa: E731
    o.concept(OWL_THING, "pizza", label="Thing")
    o.concept(p("Food"), "pizza", label="Food")
    o.concept(p("Veggie"), "pizza", label="Veggie")
    o.concept(p("Vegetarian"), "pizza", label="Vegetarian")
    o.concept(p("Margherita"), "pizza", label="Margherita")
    o.concept(p("X"), "pizza", label="X node")
    o.concept(p("Y"), "pizza", label="Y node")
    o.edge(p("Veggie"), p("Vegetarian"))
    o.edge(p("Vegetarian"), p("Veggie"))
    o.edge(p("Veggie"), p("Food"))
    o.edge(p("Margherita"), p("Veggie"))
    o.edge(p("X"), p("Y"))
    o.edge(p("Y"), p("X"))
    return o, PipelineConfig()


# ---------------------------------------------------------------------------
# Model implementation of the reference semantics (the oracle)
# ---------------------------------------------------------------------------


def _shortform(iri: str) -> str:
    """OWL API IRI.getShortForm: fragment after '#', else last '/' segment."""
    m = re.search(r"([^/#]+)$", iri)
    return m.group(1) if m else iri


def model_concept_rows(ont: Ontology, cfg: PipelineConfig) -> dict[str, dict]:
    """Per-concept canonicalization — mirrors processEntity
    (FhirOwlService.java:803-903). Returns {iri: row} for EMITTED concepts;
    row keys: code, display, synonyms(set), deprecated, imported, root.
    """
    concepts = {c["iri"]: c for c in ont.concepts}
    has_imports = (
        cfg.has_imports
        if cfg.has_imports is not None
        else any(c["imported"] for c in ont.concepts)
    )

    def is_imported(iri: str) -> bool:
        # isImported (FhirOwlService.java:784-801)
        if cfg.main_namespaces:
            return not any(iri.startswith(ns) for ns in cfg.main_namespaces)
        if not has_imports:
            return False
        return bool(concepts.get(iri, {}).get("imported", False))

    by_iri_prop: dict[tuple[str, str], set[str]] = {}
    for s in ont.synonyms:
        by_iri_prop.setdefault((s["iri"], s["prop"]), set()).add(s["synonym"])

    excluded = set(cfg.labels_to_exclude)
    out: dict[str, dict] = {}
    for iri, c in concepts.items():
        if iri == OWL_NOTHING or c["unsatisfiable"]:
            continue  # F2 / F1
        deprecated = bool(c["deprecated"])
        if deprecated and not cfg.include_deprecated:
            continue  # F3
        imported = is_imported(iri)

        # F7 code derivation
        code = None
        if cfg.code_prop:
            cands = by_iri_prop.get((iri, cfg.code_prop), set())
            code = min(cands) if cands else None
        if code is None:
            code = iri if imported else _shortform(iri)
        if not imported and cfg.code_replace:
            code = code.replace(*cfg.code_replace)

        # A1 preferred term (TreeSet min over display-prop literals)
        pref_cands = {
            lbl
            for lbl in by_iri_prop.get((iri, cfg.display_prop), set())
            if lbl not in excluded
        }
        preferred = min(pref_cands) if pref_cands else None

        # A2 synonym union minus exclusions minus preferred
        syns: set[str] = set()
        for prop in cfg.synonym_props:
            syns |= {
                s for s in by_iri_prop.get((iri, prop), set()) if s not in excluded
            }
        syns.discard(preferred)

        if preferred is None and not syns:
            display = c["label"] or SPECIAL_DISPLAYS.get(code) or code
        elif preferred is None:
            preferred = min(syns)  # deterministic stand-in, see module docstring
            syns.discard(preferred)
            display = preferred
        else:
            display = preferred

        out[iri] = dict(
            code=code,
            display=display,
            synonyms=syns,
            deprecated=deprecated,
            imported=imported,
            root=iri in TOP_ENTITIES,  # isTopEntity (FhirOwlService.java:611-613)
        )
    return out


def model_hierarchy(ont: Ontology, cfg: PipelineConfig) -> dict[str, set[str]]:
    """Transitive closure + reduction over asserted edges — mirrors
    GraphUtils.transitiveReduction (GraphUtils.java:53-175) with the
    implicit ⊑Thing completion. Returns {child_iri: {direct parent iris}}
    over ALL non-Nothing/non-unsat nodes (deprecated included — filtering
    happens at emission, like the reference).
    """
    dropped = {OWL_NOTHING} | {c["iri"] for c in ont.concepts if c["unsatisfiable"]}
    nodes = {c["iri"] for c in ont.concepts} - dropped
    nodes.add(OWL_THING)

    parents_of: dict[str, set[str]] = {n: set() for n in nodes}
    for e in ont.edges:
        ch, pa = e["child_iri"], e["parent_iri"]
        if ch in dropped or pa in dropped or ch == pa:
            continue
        parents_of.setdefault(ch, set()).add(pa)
        parents_of.setdefault(pa, set())
    # implicit ⊑Thing for parentless non-top nodes (reasoner completion)
    for n in list(parents_of):
        if not parents_of[n] and n not in TOP_ENTITIES:
            parents_of[n].add(OWL_THING)

    # closure (BFS per node, like GraphUtils.transitiveClosure)
    anc: dict[str, set[str]] = {}
    for n in parents_of:
        seen: set[str] = set()
        stack = list(parents_of[n])
        while stack:
            a = stack.pop()
            if a in seen:
                continue
            seen.add(a)
            stack.extend(parents_of.get(a, ()))
        if n in seen and cfg.equivalence_mode == "abort":
            raise RuntimeError(f"Cycle found in hierarchy involving: {n}")
        anc[n] = seen

    if cfg.equivalence_mode == "group":
        # strict ancestors only (reasoner parity — equivalence-set members
        # share external parents; see PipelineConfig.equivalence_mode)
        anc = {
            n: {a for a in ancestors if n not in anc.get(a, ()) and a != n}
            for n, ancestors in anc.items()
        }

    # reduction: direct parents = ancestors not below another ancestor
    direct: dict[str, set[str]] = {}
    for n, ancestors in anc.items():
        direct[n] = {a for a in ancestors if not any(a in anc.get(b, ()) for b in ancestors)}
    if cfg.equivalence_mode == "group":
        # equivalence sets whose only ancestors were in-set re-root at
        # Thing — DECLARED concepts only (dangling edge endpoints from
        # unmapped imports get no invented Thing edge; same rule as both
        # engine paths)
        for n in direct:
            if not direct[n] and n not in TOP_ENTITIES and n in nodes:
                direct[n] = {OWL_THING}
    return direct


_WORD_CHARS = set("abcdefghijklmnopqrstuvwxyz0123456789")


def model_mentions(
    rows: dict[str, dict], transcripts: list[dict], cfg: PipelineConfig
) -> set[tuple[str, str, str]]:
    """Whole-word case-insensitive dictionary matching — the model for J7.

    Term boundary = ASCII-alphanumeric transition (documented in
    operators/mentions.py; fixtures are ASCII).
    """
    term_to_codes: dict[str, set[str]] = {}
    stop = {t.lower() for t in cfg.link_stop_terms}
    for row in rows.values():
        if row["deprecated"] and not cfg.link_deprecated:
            continue
        for term in {row["display"], *row["synonyms"]}:
            if term is None:
                continue
            t = term.lower()
            if len(t) < cfg.min_term_chars or t in stop:
                continue
            term_to_codes.setdefault(t, set()).add(row["code"])

    out: set[tuple[str, str, str]] = set()
    for turn in transcripts:
        text = (turn["text"] or "").lower()
        for term, codes in term_to_codes.items():
            pat = r"(?<![a-z0-9])" + re.escape(term) + r"(?![a-z0-9])"
            if re.search(pat, text):
                for code in codes:
                    out.add((code, "mentions-in", turn["conv_id"]))
    return out


def model_build_graph(
    ont: Ontology, transcripts: list[dict], cfg: PipelineConfig
) -> set[tuple[str, str, str]]:
    """Full expected triple set (subj, pred, obj) — the P/R oracle."""
    rows = model_concept_rows(ont, cfg)
    direct = model_hierarchy(ont, cfg)
    concepts = {c["iri"]: c for c in ont.concepts}
    has_imports = (
        cfg.has_imports
        if cfg.has_imports is not None
        else any(c["imported"] for c in ont.concepts)
    )

    def parent_code(iri: str) -> str:
        # parent-code asymmetry: code annotation NOT consulted
        # (FhirOwlService.java:637-647)
        if cfg.main_namespaces:
            imported = not any(iri.startswith(ns) for ns in cfg.main_namespaces)
        else:
            imported = has_imports and bool(concepts.get(iri, {}).get("imported", False))
        if imported:
            return iri
        code = _shortform(iri)
        if cfg.code_replace:
            code = code.replace(*cfg.code_replace)
        return code

    triples: set[tuple[str, str, str]] = set()
    for iri, row in rows.items():
        code = row["code"]
        triples.add((code, "has-display", row["display"]))
        triples.add((code, "imported", str(row["imported"]).lower()))
        triples.add((code, "deprecated", str(row["deprecated"]).lower()))
        for syn in row["synonyms"]:
            triples.add((code, "synonym-of", syn))
        is_root = iri in TOP_ENTITIES
        triples.add((code, "root", str(is_root).lower()))
        if not is_root:
            for p in direct.get(iri, ()):  # addHierarchyFields
                if p == OWL_NOTHING:
                    continue
                pc = concepts.get(p)
                if (
                    not cfg.include_deprecated
                    and pc is not None
                    and pc["deprecated"]
                ):
                    continue  # deprecated parent dropped, no relink
                triples.add((code, "is-a", parent_code(p)))
    triples |= model_mentions(rows, transcripts, cfg)
    return triples


# ---------------------------------------------------------------------------
# Transcript generator (FIXTURES.md §1)
# ---------------------------------------------------------------------------

_FILLER = (
    "please summarize latest update regarding deployment and verify numbers "
    "thanks okay looking into details now checking results output ready soon "
    "confirmed done next item review notes draft plan agenda meeting follow"
).split()

_ROLES = ("user", "assistant", "tool")
_TOOLS = {"tool": ("search", "codegen")}


def make_transcripts(
    ont: Ontology,
    cfg: PipelineConfig,
    n_conv: int = 50,
    seed: int = 42,
    hub_term: str | None = None,
    hub_rate: float = 0.3,
) -> list[dict]:
    """Template turns with 0–3 planted ontology mentions (case-varied),
    a hub term planted in ~hub_rate of turns (skew exercise), plus planted
    deprecated / excluded labels that must NOT link.
    """
    rng = random.Random(seed)
    rows = model_concept_rows(ont, cfg)
    linkable: list[str] = []
    for r in rows.values():
        if r["deprecated"] and not cfg.link_deprecated:
            continue
        for t in {r["display"], *r["synonyms"]}:
            if t and len(t) >= cfg.min_term_chars:
                linkable.append(t)
    linkable.sort()
    # labels that must NOT produce links
    dep_labels = sorted(
        {c["label"] for c in ont.concepts if c["deprecated"] and c["label"]}
    )
    nolink = list(dep_labels) + list(cfg.labels_to_exclude)
    hub = hub_term or (linkable[0] if linkable else None)

    def vary_case(t: str) -> str:
        return rng.choice((t.lower(), t.upper(), t.title(), t))

    out: list[dict] = []
    for ci in range(n_conv):
        conv_id = f"conv{ci:05d}"
        n_turns = rng.randint(4, 10)
        for ti in range(n_turns):
            role = _ROLES[ti % 3]
            words = [rng.choice(_FILLER) for _ in range(rng.randint(5, 14))]
            n_mentions = rng.randint(0, 3)
            for _ in range(n_mentions):
                if linkable:
                    words.insert(
                        rng.randrange(len(words) + 1), vary_case(rng.choice(linkable))
                    )
            if nolink and rng.random() < 0.15:
                words.insert(rng.randrange(len(words) + 1), rng.choice(nolink))
            if hub and rng.random() < hub_rate:
                words.insert(rng.randrange(len(words) + 1), vary_case(hub))
            out.append(
                dict(
                    conv_id=conv_id,
                    turn_idx=ti,
                    role=role,
                    text=" ".join(words),
                    tool=rng.choice(_TOOLS["tool"]) if role == "tool" else None,
                    ts=EPOCH + dt.timedelta(hours=ci, minutes=ti),
                )
            )
    return out


# ---------------------------------------------------------------------------
# Spark DataFrame helpers
# ---------------------------------------------------------------------------


def ontology_dfs(spark, ont: Ontology):
    from .schemas import ONTOLOGY_CONCEPTS, ONTOLOGY_EDGES, ONTOLOGY_SYNONYMS
    from .session import local_frame

    concepts = local_frame(
        spark,
        [tuple(c[f.name] for f in ONTOLOGY_CONCEPTS.fields) for c in ont.concepts],
        ONTOLOGY_CONCEPTS,
    )
    edges = local_frame(
        spark,
        [tuple(e[f.name] for f in ONTOLOGY_EDGES.fields) for e in ont.edges],
        ONTOLOGY_EDGES,
    )
    synonyms = local_frame(
        spark,
        [tuple(s[f.name] for f in ONTOLOGY_SYNONYMS.fields) for s in ont.synonyms],
        ONTOLOGY_SYNONYMS,
    )
    return concepts, edges, synonyms


def transcripts_df(spark, turns: list[dict]):
    from .schemas import TRANSCRIPTS

    return spark.createDataFrame(
        [tuple(t[f.name] for f in TRANSCRIPTS.fields) for t in turns], TRANSCRIPTS
    )


# ---------------------------------------------------------------------------
# Query-ops ontology — the flagship corpus ontology over the driver's
# documents.parquet vocabulary (TESTDATA.md). Deterministic; labels are
# exactly the tokens that occur in documents.text so mention detection has
# real work to do. 'scan' is the hub term (appears in ~98% of docs) —
# the skew exercise.
# ---------------------------------------------------------------------------

QOPS_NS = "http://example.org/queryops#"


def query_ops_fixture() -> tuple[Ontology, PipelineConfig]:
    o = Ontology()
    q = lambda name: QOPS_NS + name  # noqa: E731

    o.concept(OWL_THING, "qops", label="Thing")
    o.concept(q("Operator"), "qops", label="operator")
    o.edge(q("Operator"), OWL_THING)

    # operators — labels/synonyms drawn from the documents vocabulary
    o.concept(q("Scan"), "qops", label="scan")            # HUB
    o.concept(q("Join"), "qops", label="join")
    o.concept(q("Sort"), "qops", label="sort")
    o.concept(q("Agg"), "qops", label="agg")
    o.concept(q("Filter"), "qops", label="filter")
    o.concept(q("Window"), "qops", label="window")
    o.concept(q("Query"), "qops", label="query")
    for c in ("Scan", "Join", "Sort", "Agg", "Filter", "Window", "Query"):
        o.edge(q(c), q("Operator"))
    o.synonym(q("Join"), "merge", prop="hasExactSynonym")
    o.synonym(q("Sort"), "order", prop="hasExactSynonym")
    o.synonym(q("Agg"), "group", prop="hasExactSynonym")
    # redundant edge — reduction must drop it
    o.edge(q("Scan"), OWL_THING)

    # one level deeper: HashJoin under Join
    o.concept(q("HashJoin"), "qops", label="hash join")
    o.edge(q("HashJoin"), q("Join"))
    o.synonym(q("HashJoin"), "hash", prop="hasExactSynonym")

    # data objects
    o.concept(q("DataObject"), "qops", label="data object")
    o.edge(q("DataObject"), OWL_THING)
    o.synonym(q("DataObject"), "data", prop="hasExactSynonym")
    for name, label in (
        ("Table", "table"), ("Row", "row"), ("Column", "column"),
        ("Vector", "vector"), ("Batch", "batch"), ("Stream", "stream"),
        ("Key", "key"), ("Value", "value"),
    ):
        o.concept(q(name), "qops", label=label)
        o.edge(q(name), q("DataObject"))

    # engine
    o.concept(q("Engine"), "qops", label="spark engine")
    o.edge(q("Engine"), OWL_THING)
    o.synonym(q("Engine"), "spark", prop="hasExactSynonym")

    # deprecated concept whose label ('slow') must NOT link
    o.concept(q("SlowPath"), "qops", label="slow", deprecated=True)
    o.edge(q("SlowPath"), q("Operator"))
    # unsatisfiable concept whose label ('dup') must NOT link
    o.concept(q("DupThing"), "qops", label="dup", unsatisfiable=True)
    o.edge(q("DupThing"), q("DataObject"))

    # rdfs:label is an annotation in OWL — mirror every label column value
    # as a prop='label' synonym row so it feeds preferred-term selection
    # (A1) rather than only the closure-map fallback.
    for c in o.concepts:
        if c["label"] is not None:
            o.synonym(c["iri"], c["label"], prop="label")

    cfg = PipelineConfig(
        synonym_props=("label", "hasExactSynonym"),
        labels_to_exclude=("the", "a"),
        min_term_chars=2,
        has_imports=False,
    )
    return o, cfg


def documents_as_transcripts(spark, sf_dir: str):
    """documents.parquet → the transcripts shape (input_hint): one doc =
    one single-turn conversation."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )


def synthetic_ontology(
    n_concepts: int = 18_000, seed: int = 42, branching: int = 8
) -> tuple[Ontology, PipelineConfig]:
    """HPO-scale synthetic ontology (BASELINE.md sanity anchor: the
    reference's largest real-world input is the ~18k-class Human Phenotype
    Ontology, README.md:98-104). Deterministic tree + ~10% extra redundant
    edges, one label each, ~30% with a synonym, ~2% deprecated."""
    rng = random.Random(seed)
    o = Ontology()
    o.concept(OWL_THING, "syn", label="Thing")
    ns = "http://example.org/scale#"
    for i in range(n_concepts):
        iri = f"{ns}C{i:06d}"
        o.concept(
            iri, "syn",
            label=f"concept {i:06d}",
            deprecated=(rng.random() < 0.02),
        )
        # parent drawn uniformly from earlier nodes → DAG, depth ~log n
        if i == 0:
            o.edge(iri, OWL_THING)
        else:
            o.edge(iri, f"{ns}C{rng.randrange(i):06d}")
            if rng.random() < 0.1:  # redundant extra edge
                o.edge(iri, f"{ns}C{rng.randrange(i):06d}")
        o.synonym(iri, f"concept {i:06d}", prop="label")
        if rng.random() < 0.3:
            o.synonym(iri, f"syn {i:06d} term", prop="hasExactSynonym")
    cfg = PipelineConfig(
        synonym_props=("label", "hasExactSynonym"), has_imports=False
    )
    return o, cfg
