"""Turtle (subset) ontology reader → the same tabular ontology that
sources/owl_xml.py produces from RDF/XML.

The reference accepts any serialization the OWL API auto-detects
(loadOntologyFromOntologyDocument, FhirOwlService.java:201), Turtle
included. Production input here is tabular; this driver-side reader
exists so a user feeding a raw ``.ttl`` file (the most common non-XML
serialization for OBO/Bio ontologies) gets real triples instead of a
format error. Same scope as the XML reader's fixture-scale role:
single-digit-MB files parsed on the driver.

Subset handled (mirrors what the XML reader extracts):
  * ``@prefix`` / ``@base`` / SPARQL-style ``PREFIX`` / ``BASE``
  * triples with ``;`` predicate lists and ``,`` object lists
  * ``a`` / rdf:type of owl:Class, owl:ObjectProperty,
    owl:DatatypeProperty, owl:Ontology
  * rdfs:subClassOf / rdfs:subPropertyOf with NAMED objects;
    owl:equivalentClass between named classes → mutual edges
  * literal annotations (label competition + synonym rows keyed by full
    property IRI, exactly like the XML reader), owl:deprecated booleans,
    owl:imports / owl:versionIRI, ontology-level literal annotations
  * blank-node bodies ``[ … ]`` and collections ``( … )`` are skipped
    atomically — anonymous restriction/intersection bodies contribute no
    parent edge here (documented subset; the RDF/XML reader's told-slice
    extraction of intersection conjuncts is not replicated)

Not handled: full blank-node graphs, RDF-star, numeric-literal
abbreviations beyond integers/decimals/booleans.
"""

from __future__ import annotations

import re

from .owl_xml import (
    OWL_NS,
    RDF_NS,
    RDFS_LABEL,
    RDFS_NS,
    ParsedOntology,
    UnsupportedOwlFormatError,
    detect_owl_format,
)

_TOKEN = re.compile(
    r"""
    (?P<comment>\#[^\n]*)
  | (?P<iri><[^>]*>)
  | (?P<long_literal>\"\"\"(?:[^"\\]|\\.|"(?!""))*\"\"\"|'''(?:[^'\\]|\\.|'(?!''))*''')
  | (?P<literal>"(?:[^"\\\n]|\\.)*"|'(?:[^'\\\n]|\\.)*')
  | (?P<langtag>@[A-Za-z][A-Za-z0-9-]*)
  | (?P<dtype>\^\^)
  | (?P<punct>[;,.\[\]()])
  | (?P<pname>[^\s;,.\[\]()"'^]+)
    """,
    re.VERBOSE,
)

_STRING_ESCAPES = {
    "t": "\t", "n": "\n", "r": "\r", "b": "\b", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}


_HEX_DIGITS = "0123456789abcdefABCDEF"


def _unescape(raw: str) -> str:
    out = []
    i = 0
    while i < len(raw):
        c = raw[i]
        if c == "\\" and i + 1 < len(raw):
            nxt = raw[i + 1]
            if nxt in _STRING_ESCAPES:
                out.append(_STRING_ESCAPES[nxt])
                i += 2
                continue
            width = {"u": 4, "U": 8}.get(nxt, 0)
            if width and i + 2 + width <= len(raw):
                code = raw[i + 2:i + 2 + width]
                if any(ch not in _HEX_DIGITS for ch in code) or int(code, 16) > 0x10FFFF:
                    raise TurtleSyntaxError(f"invalid escape \\{nxt}{code}")
                out.append(chr(int(code, 16)))
                i += 2 + width
                continue
        out.append(c)
        i += 1
    return "".join(out)


class _Tok:
    __slots__ = ("kind", "value")

    def __init__(self, kind: str, value: str):
        self.kind = kind
        self.value = value

    def __repr__(self):  # pragma: no cover - debug aid
        return f"_Tok({self.kind}, {self.value!r})"


def _tokenize(text: str) -> list[_Tok]:
    toks = []
    for m in _TOKEN.finditer(text):
        kind = m.lastgroup
        if kind == "comment":
            continue
        v = m.group()
        if kind == "long_literal":
            toks.append(_Tok("literal", _unescape(v[3:-3])))
        elif kind == "literal":
            toks.append(_Tok("literal", _unescape(v[1:-1])))
        elif kind == "iri":
            toks.append(_Tok("iri", v[1:-1]))
        elif kind == "punct":
            toks.append(_Tok(v, v))
        else:
            toks.append(_Tok(kind, v))
    return toks


class TurtleSyntaxError(ValueError):
    pass


def _parse_triples(text: str):
    """Yield (subject, predicate, object) with objects as
    ('iri', value) | ('literal', value) | ('blank', None). Blank-node
    bodies and collections are skipped atomically and surfaced as a
    single ('blank', None) object."""
    toks = _tokenize(text)
    prefixes: dict[str, str] = {}
    base = [""]
    i = 0
    n = len(toks)

    def expand(tok: _Tok) -> str:
        if tok.kind == "iri":
            v = tok.value
            if base[0] and not re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", v):
                return base[0] + v
            return v
        if tok.kind in ("pname", "langtag"):
            v = tok.value
            if v == "a":
                return RDF_NS + "type"
            if ":" in v:
                pfx, local = v.split(":", 1)
                if pfx in prefixes:
                    return prefixes[pfx] + local
            return v
        raise TurtleSyntaxError(f"expected IRI or prefixed name, got {tok!r}")

    def skip_group(idx: int, open_t: str, close_t: str) -> int:
        depth = 1
        idx += 1
        while idx < n and depth:
            if toks[idx].kind == open_t:
                depth += 1
            elif toks[idx].kind == close_t:
                depth -= 1
            idx += 1
        return idx

    def tok_at(idx: int) -> _Tok:
        # truncated documents must fail with the TYPED syntax error, not
        # IndexError (r5 fuzz: '@prefix' at EOF)
        if idx >= n:
            raise TurtleSyntaxError("unexpected end of document")
        return toks[idx]

    while i < n:
        t = toks[i]
        # directives
        if t.kind == "langtag" and t.value in ("@prefix", "@base"):
            if t.value == "@prefix":
                pname = tok_at(i + 1).value  # 'pfx:' (may be just ':')
                prefixes[pname[:-1] if pname.endswith(":") else pname] = tok_at(
                    i + 2
                ).value
                i += 3
            else:
                base[0] = tok_at(i + 1).value
                i += 2
            if i < n and toks[i].kind == ".":
                i += 1
            continue
        if t.kind == "pname" and t.value.upper() in ("PREFIX", "BASE"):
            if t.value.upper() == "PREFIX":
                pname = tok_at(i + 1).value
                prefixes[pname[:-1] if pname.endswith(":") else pname] = tok_at(
                    i + 2
                ).value
                i += 3
            else:
                base[0] = tok_at(i + 1).value
                i += 2
            continue
        # subject
        if t.kind == "[":
            i = skip_group(i, "[", "]")
            # anonymous subject: skip its whole statement
            depth_guard = 0
            while i < n and toks[i].kind != "." and depth_guard < 10_000:
                if toks[i].kind == "[":
                    i = skip_group(i, "[", "]")
                elif toks[i].kind == "(":
                    i = skip_group(i, "(", ")")
                else:
                    i += 1
                depth_guard += 1
            i += 1
            continue
        subj = expand(t)
        i += 1
        # predicate-object list
        while i < n:
            pred = expand(toks[i])
            i += 1
            # object list
            while i < n:
                ot = toks[i]
                if ot.kind == "[":
                    i = skip_group(i, "[", "]")
                    yield subj, pred, ("blank", None)
                elif ot.kind == "(":
                    i = skip_group(i, "(", ")")
                    yield subj, pred, ("blank", None)
                elif ot.kind == "literal":
                    val = ot.value
                    i += 1
                    if i < n and toks[i].kind == "langtag":
                        i += 1
                    elif i < n and toks[i].kind == "dtype":
                        i += 2  # ^^ + datatype IRI/pname
                    yield subj, pred, ("literal", val)
                elif ot.kind in ("iri", "pname"):
                    if ot.kind == "pname" and (
                        ot.value in ("true", "false")
                        or re.fullmatch(r"[+-]?\d+(\.\d+)?([eE][+-]?\d+)?", ot.value)
                    ):
                        yield subj, pred, ("literal", ot.value)
                    else:
                        yield subj, pred, ("iri", expand(ot))
                    i += 1
                else:
                    raise TurtleSyntaxError(f"unexpected object token {ot!r}")
                if i < n and toks[i].kind == ",":
                    i += 1
                    continue
                break
            if i < n and toks[i].kind == ";":
                i += 1
                # tolerate trailing ';' before '.'
                if i < n and toks[i].kind == ".":
                    break
                continue
            break
        if i < n and toks[i].kind == ".":
            i += 1
        else:
            raise TurtleSyntaxError(
                f"statement for <{subj}> not terminated with '.'"
            )


def parse_turtle(
    path: str,
    include_object_properties: bool = True,
    include_data_properties: bool = False,
    unsatisfiable_iris: set[str] | None = None,
    ontology_id: str = "root",
) -> ParsedOntology:
    """Parse a Turtle ontology document into ParsedOntology — the same
    tables, label competition, deprecated handling, property rooting and
    metadata surface as parse_owl_xml (shared downstream pipeline).
    Told-slice extraction from anonymous bodies (intersection conjuncts,
    existence-forcing restrictions, disjointness) is NOT replicated:
    blank-node objects are skipped, exactly like the XML reader ignores
    constructs outside its documented subset."""
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    fmt = detect_owl_format(text[:4096])
    if fmt not in ("turtle", "unknown"):
        raise UnsupportedOwlFormatError(fmt, path, hint="expected Turtle")

    rdf_type = RDF_NS + "type"
    owl_class = OWL_NS + "Class"
    owl_objprop = OWL_NS + "ObjectProperty"
    owl_dataprop = OWL_NS + "DatatypeProperty"
    owl_ontology = OWL_NS + "Ontology"

    kind_of: dict[str, str] = {}
    sub_edges: list[tuple[str, str]] = []
    equiv_edges: list[tuple[str, str]] = []
    labels_of: dict[str, list[str]] = {}
    synonyms: list[tuple[str, str, str]] = []
    deprecated_of: dict[str, bool] = {}
    ontology_iri: str | None = None
    version_iri: str | None = None
    imports: list[str] = []
    annotations: list[tuple[str, str]] = []
    subj_order: list[str] = []

    triples = list(_parse_triples(text))
    for s, p, (okind, oval) in triples:
        if p == rdf_type and okind == "iri" and oval == owl_ontology:
            if ontology_iri is None:
                ontology_iri = s

    for s, p, (okind, oval) in triples:
        if s == ontology_iri:
            if p == OWL_NS + "imports" and okind == "iri":
                imports.append(oval)
            elif p == OWL_NS + "versionIRI" and okind == "iri":
                version_iri = oval
            elif okind == "literal" and p != rdf_type:
                annotations.append((p, oval))
            continue
        if p == rdf_type and okind == "iri":
            if oval in (owl_class, owl_objprop, owl_dataprop):
                if s not in kind_of:
                    kind_of[s] = oval
                    subj_order.append(s)
            continue
        if p in (RDFS_NS + "subClassOf", RDFS_NS + "subPropertyOf"):
            if okind == "iri":
                sub_edges.append((s, oval))
            continue
        if p == OWL_NS + "equivalentClass":
            if okind == "iri":
                equiv_edges.append((s, oval))
            continue
        if okind == "literal":
            local = re.search(r"([^/#]+)$", p)
            if local and local.group(1) == "deprecated":
                if oval in ("true", "false"):
                    deprecated_of[s] = oval == "true"
                continue
            synonyms.append((s, oval, p))
            if p == RDFS_LABEL:
                labels_of.setdefault(s, []).append(oval)

    # shared finalization (round-5 review: turtle was the 4th copy).
    # NOTE one deliberate widening vs the pre-helper turtle behavior: a
    # named equivalence whose SUBJECT is undeclared but whose OBJECT is a
    # declared class now still emits the mutual edges (equivalence is
    # symmetric; matches the FS/OWL-XML/Manchester readers).
    from ._reader_common import finalize_parsed_ontology

    return finalize_parsed_ontology(
        kind_of=kind_of,
        subj_order=subj_order,
        sub_edges=sub_edges,
        equiv_groups=[[a, b] for a, b in equiv_edges],
        synonyms=synonyms,
        labels_of=labels_of,
        deprecated_of=deprecated_of,
        include_object_properties=include_object_properties,
        include_data_properties=include_data_properties,
        unsatisfiable_iris=unsatisfiable_iris,
        ontology_id=ontology_id,
        ontology_iri=ontology_iri,
        version_iri=version_iri,
        imports=imports,
        annotations=annotations,
    )


def parse_ontology_document(path: str, **kwargs) -> ParsedOntology:
    """Format-dispatching loader covering EVERY serialization the
    reference's OWL API auto-detects (FhirOwlService.java:196-201):
    RDF/XML → parse_owl_xml, Turtle → parse_turtle, OBO → parse_obo,
    functional syntax → parse_functional, OWL/XML → parse_owlxml,
    Manchester → parse_manchester; unrecognizable documents raise the
    typed UnsupportedOwlFormatError."""
    from .owl_xml import parse_owl_xml, sniff_owl_format

    fmt = sniff_owl_format(path)
    if fmt == "turtle":
        kwargs.pop("classify_defined", None)
        return parse_turtle(path, **kwargs)
    if fmt == "obo":
        from .obo import parse_obo

        kwargs.pop("classify_defined", None)
        return parse_obo(path, **kwargs)
    if fmt == "functional":
        from .functional import parse_functional

        kwargs.pop("classify_defined", None)
        return parse_functional(path, **kwargs)
    if fmt == "owlxml":
        from .owlxml_fmt import parse_owlxml

        kwargs.pop("classify_defined", None)
        return parse_owlxml(path, **kwargs)
    if fmt == "manchester":
        from .manchester import parse_manchester

        kwargs.pop("classify_defined", None)
        return parse_manchester(path, **kwargs)
    return parse_owl_xml(path, **kwargs)
