"""The end-to-end knowledge-graph build.

Reference lifecycle being re-expressed (FhirOwlService.createCodeSystem,
/root/reference/src/main/java/au/csiro/fhir/owl/FhirOwlService.java:192-591):
ontology → dictionary → hierarchy (closure + reduction) → per-concept rows
→ serialized output, PLUS the transcript graft (mention triples).

Every entry point — ``build_graph`` here, ``build_graph_resumable``
(plans/lineage.py), ``refresh_graph`` (plans/refresh.py) and
``export_codesystem`` (plans/export.py) — shares one ontology stage and
``mention_triples``, the one mentions-in projection. The stage
(``ontology_rows``) is the reference's one in-memory pass
(FhirOwlService.java:299-591): the concept and synonym tables are
collected once, as positional rows, and the driver derives has_imports
and the dictionary rows (``dictionary_pass``, the one dictionary
program, which ``build_concept_dictionary`` runs as well) and the is-a
rows (``isa_rows``: parent codes, Nothing and deprecated parents
dropped, undeclared parents as their IRI). The ontology is
broadcast-class data by contract, and ``linkable_terms`` and the export
hold the whole dictionary on the driver anyway, so the stage runs there
at every size, with no size gate: the direct parents come from the
driver kernel (operators/hierarchy.py ``driver_direct_parents``) on the
concept rows the pass already holds and the collected edge rows.

The export renders the rows directly (no Spark job on local-relation
inputs); ``ontology_stage`` hands the other entry points the dictionary
as an Arrow-backed local relation, so their joins and the mention-term
collect plan over local data, and the ontology-side triples already
keyed and deduplicated (``ontology_triple_rows`` + ``triple_key``, the
driver twin of ``triple_key_col``) as one single-partition local
relation.

Physical shape at 10^12-turn scale:
  * ontology stages touch only the small side (broadcast-class data);
    their triples are built, keyed and deduplicated on the driver, so
    the ontology side runs no shuffle at all;
  * mention extraction is map-only over transcripts — no shuffle;
  * ONE transcript-scale shuffle exists in the whole job: the mention
    dedup, hash-partitioned on key_hash (uniform by construction — SHA256
    of the triple — so no skew). Mention and ontology triples share no
    predicate, so deduplicating each side on its own is the global dedup;
  * the optional turn-ordering invariant check (W2) shuffles on conv_id;
    it is an assertion stage, disabled on the hot path by default and run
    as a separate validation pass.
"""

from __future__ import annotations

import hashlib
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StringType, StructField, StructType
from pyspark.sql.window import Window

from ..config import PipelineConfig
from ..operators.dictionary import (
    CONCEPT_COLS,
    dictionary_pass,
    parent_code_str,
    with_has_imports,
)
from ..operators.hierarchy import driver_direct_parents
from ..operators.mentions import extract_mentions
from ..schemas import CONCEPT_DICTIONARY, OWL_NOTHING
from ..session import local_frame

# Field separator for the canonical key — unit separator, cannot appear in
# IRIs/codes/conv ids.
KEY_SEP = "\x1f"


def triple_key_col() -> "F.Column":
    """THE canonical triple key expression — shared by the mention dedup
    and the incremental refresh's map-side key recompute so the two can
    never diverge; ``triple_key`` is its driver twin."""
    return F.sha2(
        F.concat_ws(KEY_SEP, F.col("subj"), F.col("pred"), F.coalesce("obj", F.lit(""))),
        256,
    )


def triple_key(subj: str, pred: str, obj: str | None) -> str:
    """``triple_key_col`` on the driver, for non-null ``subj`` and
    ``pred``: hex SHA-256 of the UTF-8 ``subj␟pred␟obj``, a null obj
    keyed as ""."""
    obj = "" if obj is None else obj
    return hashlib.sha256(f"{subj}{KEY_SEP}{pred}{KEY_SEP}{obj}".encode()).hexdigest()


def triples_with_key(triples: DataFrame) -> DataFrame:
    """A5: canonical-key hashing + dedup. dropDuplicates on the SHA256 key
    runs as partial-then-final HashAggregate (map-side combine before the
    shuffle); the hash key is uniformly distributed so the shuffle cannot
    skew."""
    keyed = triples.withColumn("key_hash", triple_key_col())
    # Full-row dropDuplicates instead of dropDuplicates([key_hash]): the
    # non-key columns are functions of the key here, and keys-only dedup
    # compiles to HashAggregate (no sort), while subset-dedup would carry
    # first(string) aggregates that force SortAggregate — a per-partition
    # sort of every triple at 10^12 scale for nothing.
    return keyed.dropDuplicates()


# The keyed ontology-side triples (``ontology_triple_rows``); the
# nullability is the TRIPLES columns' as the Spark union derived it, so
# the ontology chunk's parquet schema keeps ``subj`` and ``obj_type``
# required
ONTOLOGY_TRIPLES = StructType(
    [
        StructField("subj", StringType(), nullable=False),
        StructField("pred", StringType(), nullable=False),
        StructField("obj", StringType()),
        StructField("obj_type", StringType(), nullable=False),
        StructField("conv_id", StringType()),
        StructField("key_hash", StringType()),
    ]
)


class OntologyRows(NamedTuple):
    """The ontology stage on the driver (``ontology_rows``)."""

    cfg: PipelineConfig  # has_imports derived
    dictionary: list[tuple]  # CONCEPT_DICTIONARY order
    # (child_iri, subj, parent_code) rows (``isa_rows``); None unless
    # hierarchy=True
    isa: list[tuple] | None
    n_concepts: int  # concept table rows


class OntologyStage(NamedTuple):
    """The ontology stage as frames (``ontology_stage``): the dictionary
    and the keyed ontology-side triples as Arrow-backed local relations."""

    cfg: PipelineConfig
    dictionary: DataFrame
    triples: DataFrame | None  # ONTOLOGY_TRIPLES; None unless hierarchy=True
    n_concepts: int


def ontology_rows(
    concepts: DataFrame,
    edges: DataFrame,
    synonyms: DataFrame,
    cfg: PipelineConfig,
    hierarchy: bool = True,
) -> OntologyRows:
    """The ontology stage every entry point shares, in one driver pass.

    ``dictionary_pass`` collects concepts and synonyms once each, as
    positional tuples, derives has_imports ONCE into the returned cfg and
    builds the dictionary rows. Unless ``hierarchy`` is off (a resume
    whose ontology chunk is committed needs only the dictionary), the
    edges are collected once — no Spark job on a local relation — the
    driver kernel (``driver_direct_parents``) reduces them against the
    concept rows already held, and the is-a rows (``isa_rows``)
    follow."""
    cfg, concept_rows, dict_rows = dictionary_pass(concepts, synonyms, cfg)
    isa = None
    if hierarchy:
        direct = driver_direct_parents(
            [(r[0], r[4]) for r in concept_rows],
            edges.select("child_iri", "parent_iri").collect(),
            cfg.equivalence_mode,
        )
        isa = isa_rows(dict_rows, direct, concept_rows, cfg)
    return OntologyRows(cfg, dict_rows, isa, len(concept_rows))


def ontology_stage(
    concepts: DataFrame,
    edges: DataFrame,
    synonyms: DataFrame,
    cfg: PipelineConfig,
    hierarchy: bool = True,
) -> OntologyStage:
    """``ontology_rows`` as local relations, for the entry points that
    join, scan or write them; the driver rows are released on return.
    The keyed triples are one partition, so the ontology chunk commits
    one file per predicate."""
    rows = ontology_rows(concepts, edges, synonyms, cfg, hierarchy)
    spark = concepts.sparkSession
    triples = None
    if rows.isa is not None:
        triples = local_frame(
            spark, ontology_triple_rows(rows.dictionary, rows.isa), ONTOLOGY_TRIPLES
        ).coalesce(1)
    return OntologyStage(
        rows.cfg,
        local_frame(spark, rows.dictionary, CONCEPT_DICTIONARY),
        triples,
        rows.n_concepts,
    )


def isa_rows(
    dict_rows: list[tuple],
    direct: list[tuple[str, str]],
    concept_rows: list[tuple],
    cfg: PipelineConfig,
) -> list[tuple]:
    """Direct parents of emitted non-root concepts → (child_iri, subj,
    parent_code) rows. Deprecated parents are dropped WITHOUT relinking
    unless ``cfg.include_deprecated``, and Nothing parents dropped
    (FhirOwlService.java:620-647); parents keep the code-annotation-free
    derivation (``parent_code_str``), and parents outside the concepts
    table (undeclared) fall back to their IRI. One row per (emitted
    non-root child, direct parent, parent concept row).
    ``cfg.has_imports`` must be derived."""
    parent_meta: dict[str, list[tuple[str, bool]]] = {}
    for iri, _label, deprecated, imported, _unsat in concept_rows:
        parent_meta.setdefault(iri, []).append(
            (parent_code_str(iri, imported, cfg), bool(deprecated))
        )
    parents_of: dict[str, list[str]] = {}
    for child, parent in direct:
        if parent != OWL_NOTHING:
            parents_of.setdefault(child, []).append(parent)
    out = []
    for iri, code, *_, root in dict_rows:
        if root:
            continue
        for parent in parents_of.get(iri, ()):
            for parent_code, deprecated in parent_meta.get(parent, ((parent, False),)):
                if not deprecated or cfg.include_deprecated:
                    out.append((iri, code, parent_code))
    return out


def ontology_triple_rows(dict_rows: list[tuple], isa: list[tuple]) -> list[tuple]:
    """Dictionary rows + is-a rows → the ontology-side triples as
    ONTOLOGY_TRIPLES rows: deduplicated, sorted by (pred, subj, obj) and
    keyed by ``triple_key``.

    Emits per concept: has-display, imported, deprecated, root,
    synonym-of*, and is-a* for non-root concepts (the parent rule is
    ``isa_rows``).
    """
    flag = ("false", "true")
    display, imported, deprecated, root, synonym_of = (set() for _ in range(5))
    for _iri, code, disp, synonyms, dep, imp, is_root in dict_rows:
        display.add((code, disp))
        imported.add((code, flag[imp]))
        deprecated.add((code, flag[dep]))
        root.add((code, flag[is_root]))
        synonym_of.update((code, s) for s in synonyms)
    is_a = {(subj, parent_code) for _child_iri, subj, parent_code in isa}
    # (subj, obj) pairs per predicate, predicates in sorted order
    by_pred = (
        ("deprecated", "boolean", deprecated),
        ("has-display", "string", display),
        ("imported", "boolean", imported),
        ("is-a", "code", is_a),
        ("root", "boolean", root),
        ("synonym-of", "string", synonym_of),
    )
    return [
        (subj, pred, obj, obj_type, None, triple_key(subj, pred, obj))
        for pred, obj_type, pairs in by_pred
        for subj, obj in sorted(pairs)
    ]


def mention_triples(pairs: DataFrame) -> DataFrame:
    """(code, conv_id) mention pairs → mentions-in triples."""
    return pairs.select(
        F.col("code").alias("subj"),
        F.lit("mentions-in").alias("pred"),
        F.col("conv_id").alias("obj"),
        F.lit("conv").alias("obj_type"),
        F.col("conv_id").alias("conv_id"),
    )


def concept_triples(
    dictionary: DataFrame,
    direct_parents: DataFrame,
    concepts: DataFrame,
    cfg: PipelineConfig,
) -> DataFrame:
    """Dictionary + reduced hierarchy → ontology-side triples (no key),
    for a caller holding its own dictionary and hierarchy frames (the
    pipelines use ``ontology_stage``). The three are ontology-scale:
    they are collected, and the rules are ``isa_rows`` and
    ``ontology_triple_rows``."""
    concept_rows = concepts.select(*CONCEPT_COLS).collect()
    cfg = with_has_imports(cfg, concept_rows)
    dict_rows = dictionary.select(*CONCEPT_DICTIONARY.fieldNames()).collect()
    isa = isa_rows(
        dict_rows,
        direct_parents.select("child_iri", "parent_iri").collect(),
        concept_rows,
        cfg,
    )
    return local_frame(
        dictionary.sparkSession, ontology_triple_rows(dict_rows, isa), ONTOLOGY_TRIPLES
    ).drop("key_hash")


def materialize_ontology_inputs(
    concepts: DataFrame, edges: DataFrame, synonyms: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Materialize the three ontology tables in ONE job (three lazy
    localCheckpoints + one union-count action; every frame keeps its
    exact input schema).

    No pipeline calls this. Checkpointed frames are no longer local
    relations, so every collect of the ontology stage becomes a job.
    Spark jobs per call without → with this call first, its own jobs
    included (Spark 4, local mode, pizza fixture frames):
    ``build_graph(...).count()`` 3 → 8, a one-chunk
    ``build_graph_resumable`` 4 → 9 and ``export_codesystem`` 0 → 5.
    Kept only for the benchmark's per-layer probes (perfbench/probes.py),
    which time the ontology frames as their own layer."""
    concepts = concepts.localCheckpoint(eager=False)
    edges = edges.localCheckpoint(eager=False)
    synonyms = synonyms.localCheckpoint(eager=False)
    one = F.lit(1).alias("_x")
    (
        concepts.select(one)
        .unionByName(edges.select(one))
        .unionByName(synonyms.select(one))
        .count()
    )
    return concepts, edges, synonyms


def validate_turn_ordering(transcripts: DataFrame) -> DataFrame:
    """W2 invariant check: within each conv_id, turn_idx must be unique
    (stable ordering ⇒ per-turn text equality is well-defined). Returns the
    violating rows — empty when the invariant holds. Shuffles on conv_id;
    run as a validation pass, not on the hot path."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        transcripts.withColumn("_prev", F.lag("turn_idx").over(w))
        .filter(F.col("turn_idx") == F.col("_prev"))
        .drop("_prev")
    )


def build_graph(
    spark: SparkSession,
    concepts: DataFrame,
    edges: DataFrame,
    synonyms: DataFrame,
    transcripts: DataFrame,
    cfg: PipelineConfig | None = None,
    check_order: bool = False,
    related_npmi: float | None = None,
) -> DataFrame:
    """Full pipeline → deduplicated TRIPLES DataFrame.

    This is the seam the reference's unit tests treat as the public
    contract (FhirOwlServiceTest calls createCodeSystem directly,
    FhirOwlServiceTest.java:42-72) — pytest drives this function.

    ``related_npmi`` (default None = off, the reference-parity build)
    additionally emits (entity, related-to, entity) triples for every
    co-mentioned pair whose NPMI ≥ the threshold — the statistical edge
    family the reference cannot derive (it only has told axioms; a
    transcript corpus carries co-occurrence evidence). When enabled the
    mention pairs are checkpointed so the Arrow mention pass still runs
    exactly ONCE feeding both the mentions-in triples and the PMI
    layer; the default path stays a single uninterrupted Catalyst plan.
    NOTE: the chunked/resumable job (plans.lineage) intentionally does
    NOT expose this flag — PMI marginals are corpus-GLOBAL aggregates,
    so a per-chunk computation would weight each chunk's conversations
    against chunk-local totals; at deployment scale the related-to
    layer runs as a second pass over the committed mentions-in
    partition (operators.graph.pmi_edges on the re-scanned output).
    """
    cfg = cfg or PipelineConfig()

    if check_order:
        bad = validate_turn_ordering(transcripts).limit(1).collect()
        if bad:
            raise ValueError(
                f"turn-ordering invariant violated, e.g. conv_id={bad[0]['conv_id']} "
                f"turn_idx={bad[0]['turn_idx']}"
            )

    stage = ontology_stage(concepts, edges, synonyms, cfg)
    cfg = stage.cfg

    # pairs_only: batch-local dedup inside the UDF (hub terms repeat in
    # most turns of a conversation) — global dedup still happens in the
    # mention side's key-hash dropDuplicates, one shuffle, map-side
    # combined.
    pairs = extract_mentions(transcripts, stage.dictionary, cfg, pairs_only=True)
    if related_npmi is not None:
        pairs = pairs.localCheckpoint(eager=True)

    corpus_triples = mention_triples(pairs)
    if related_npmi is not None:
        from ..operators.graph import pmi_edges

        related = (
            pmi_edges(pairs.select("conv_id", "code"))
            .filter(F.col("npmi") >= F.lit(float(related_npmi)))
            .select(
                F.col("code_a").alias("subj"),
                F.lit("related-to").alias("pred"),
                F.col("code_b").alias("obj"),
                F.lit("concept").alias("obj_type"),
                F.lit(None).cast("string").alias("conv_id"),
            )
        )
        corpus_triples = corpus_triples.unionByName(related)
    # the ontology triples come keyed and deduplicated, and share no
    # predicate with the corpus-side ones
    return stage.triples.unionByName(triples_with_key(corpus_triples))
