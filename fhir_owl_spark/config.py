"""Pipeline configuration.

Mirrors the reference's job options (CLI → CodeSystemProperties /
ConceptProperties, /root/reference/src/main/java/au/csiro/fhir/owl/
Application.java:122-304, CodeSystemProperties.java, ConceptProperties.java)
plus the mention-detection options, which have no reference counterpart.

Defaults follow the reference's application.properties
(/root/reference/src/main/resources/config/application.properties:2-8):
preferred term property = rdfs:label; synonym properties = [rdfs:label].
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class PipelineConfig:
    # ---- concept options (ConceptProperties.java:22-33) -------------------
    # Annotation property (ontology_synonyms.prop value) supplying the code;
    # None → IRI-derived codes (FhirOwlService.java:834-841).
    code_prop: str | None = None
    # Property supplying preferred-term candidates (getPreferedTerm,
    # FhirOwlService.java:706-724). 'label' ≙ rdfs:label.
    display_prop: str = "label"
    # Properties supplying synonyms (getSynonyms, FhirOwlService.java:726-742).
    synonym_props: tuple[str, ...] = ("label",)
    # Literal (non-regex) replacement applied to LOCAL codes only
    # (FhirOwlService.java:844-846; parents too, :640-642).
    code_replace: tuple[str, str] | None = None
    # Labels dropped from both preferred-term and synonym candidate sets
    # (FhirOwlService.java:714, :734; README.md:109 'wiki,WIKI').
    labels_to_exclude: tuple[str, ...] = ()
    # Keep deprecated concepts / parents (FhirOwlService.java:824-827, :627-631).
    include_deprecated: bool = False
    # Namespace prefixes defining "main"; empty → set-difference mode using
    # the concepts.imported column (isImported, FhirOwlService.java:784-801).
    main_namespaces: tuple[str, ...] = ()
    # Whether the ontology has imports at all: with no imports nothing is
    # imported regardless of set membership (FhirOwlService.java:795-797).
    # None → derived from the concepts table (any imported=true row).
    has_imports: bool | None = None

    # ---- code-system metadata options (CodeSystemProperties.java) ---------
    url: str | None = None
    version: str | None = None
    date_regex: str | None = None        # named groups year/month/day → YYYYMMDD
    use_fhir_extension: bool = False     # '.owl' → '.fhir' URL rewrite
    valueset: str | None = None          # default: url + '?vs' / '&vs'
    hierarchy_meaning: str = "is-a"
    status: str = "draft"
    content: str = "complete"
    # -- metadata long tail (CodeSystemProperties.java:33-58; all eagerly
    #    validated in __post_init__ like the reference's setters) ----------
    cs_id: str | None = None             # -id: technical resource id
    language: str | None = None          # -language (not validated; :684)
    identifiers: tuple = ()              # parsed by metadata.parse_identifiers
    name: str | None = None              # -name: wins over name_prop
    name_prop: str | None = None         # -nameProp: default rdfs:label (:697)
    title: str | None = None
    experimental: bool = False
    date: str | None = None              # validated only — NEVER emitted
                                         # (reference bug parity; see
                                         # metadata.validate_date)
    publisher: str | None = None         # wins over publisher_props
    publisher_props: tuple[str, ...] = ()  # default dc:publisher (:636-638)
    contacts: tuple = ()                 # parsed by parse_contacts
    description: str | None = None       # wins over description_props
    description_props: tuple[str, ...] = ()  # default dc:subject, rdfs:comment
    purpose: str | None = None
    jurisdictions: tuple = ()            # parsed by parse_jurisdictions
    copyright: str | None = None
    compositional: bool = False
    version_needed: bool = False

    # ---- mention detection (the graft; no reference counterpart) ----------
    # Link mentions of deprecated concepts? Default no (FIXTURES.md §5).
    link_deprecated: bool = False
    # Minimum term length admitted to the dictionary (guards stop-word hubs).
    min_term_chars: int = 2
    # Terms excluded from linking on top of labels_to_exclude.
    link_stop_terms: tuple[str, ...] = ()

    # ---- hierarchy semantics ----------------------------------------------
    # How mutually-subsumed (equivalent) classes are handled:
    #   "group" (default, reasoner parity): members of an equivalence set
    #     share the set's external parents, and external children get ALL
    #     members as parents — exactly what the reference emits, because its
    #     reasoner feeds GraphUtils STRICT superclasses (equivalents never
    #     have edges between each other; OWLReasoner.getSuperClasses
    #     semantics at FhirOwlService.java:532-533). Implemented as
    #     transitive reduction over the STRICT closure.
    #   "abort": raise HierarchyCycleError on any mutual reachability — the
    #     literal GraphUtils.TransitiveReduction throw (GraphUtils.java:146),
    #     which in the reference is a guard against malformed input that a
    #     reasoner can never produce.
    equivalence_mode: str = "group"

    def __post_init__(self):
        # eager enum validation, mirroring the reference's argument setters
        # (CodeSystemProperties.java:119-126 status, :759-766 content,
        # setDate :131-182) — fail at config time, not mid-job
        from .metadata import (
            validate_content,
            validate_date,
            validate_hierarchy_meaning,
            validate_status,
        )

        validate_status(self.status)
        validate_content(self.content)
        validate_hierarchy_meaning(self.hierarchy_meaning)
        validate_date(self.date)
        if self.equivalence_mode not in ("group", "abort"):
            raise ValueError(
                f"equivalence_mode must be 'group' or 'abort', "
                f"got {self.equivalence_mode!r}"
            )

    @property
    def all_excluded_labels(self) -> tuple[str, ...]:
        return tuple(self.labels_to_exclude)


# Reference defaults used by its own tests (FhirOwlServiceTest.java:56-72)
PIZZA_CONFIG = PipelineConfig()
# DUO test config (FhirOwlServiceTest.java:152-162)
DUO_CONFIG = PipelineConfig(
    use_fhir_extension=True,
    # Python named-group syntax (the reference's Java regex is (?<year>...),
    # FhirOwlServiceTest.java:154 — semantics identical)
    date_regex=r"(?P<year>\d{4})-(?P<month>\d{2})-(?P<day>\d{2})",
)
