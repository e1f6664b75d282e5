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
hold the whole dictionary on the driver anyway, so the dictionary runs
there at every size. The only size gate is the hierarchy's, decided in
operators/hierarchy.py (``small_direct_parents``): the direct parents
come from the driver kernel below it, else from the distributed
program, collected.

The export renders the rows directly (no Spark job on local-relation
inputs); ``ontology_stage`` hands the other entry points the dictionary
and is-a rows as Arrow-backed local relations, so their joins and the
mention-term collect plan over local data.

Physical shape at 10^12-turn scale:
  * ontology stages touch only the small side (broadcast-class data);
  * mention extraction is map-only over transcripts — no shuffle;
  * ONE transcript-scale shuffle exists in the whole job: the final
    dedup, hash-partitioned on key_hash (uniform by construction — SHA256
    of the triple — so no skew);
  * the optional turn-ordering invariant check (W2) shuffles on conv_id;
    it is an assertion stage, disabled on the hot path by default and run
    as a separate validation pass.
"""

from __future__ import annotations

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
from ..operators.hierarchy import distributed_direct_parents, small_direct_parents
from ..operators.mentions import extract_mentions
from ..schemas import CONCEPT_DICTIONARY, OWL_NOTHING
from ..session import local_frame

# Field separator for the canonical key — unit separator, cannot appear in
# IRIs/codes/conv ids.
KEY_SEP = "\x1f"


def triple_key_col() -> "F.Column":
    """THE canonical triple key expression — shared by the build dedup
    and the incremental refresh's map-side key recompute so the two can
    never diverge."""
    return F.sha2(
        F.concat_ws(KEY_SEP, F.col("subj"), F.col("pred"), F.coalesce("obj", F.lit(""))),
        256,
    )


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


# is-a rows of emitted non-root concepts (see isa_rows); the nullability
# is the Spark program's, so the ontology chunk's parquet schema keeps
# ``subj`` required
ISA_ROWS = StructType(
    [
        StructField("child_iri", StringType(), nullable=False),
        StructField("subj", StringType(), nullable=False),
        StructField("parent_code", StringType(), nullable=False),
    ]
)


class OntologyRows(NamedTuple):
    """The ontology stage on the driver (``ontology_rows``)."""

    cfg: PipelineConfig  # has_imports derived
    dictionary: list[tuple]  # CONCEPT_DICTIONARY order
    isa: list[tuple] | None  # ISA_ROWS order; None unless hierarchy=True
    n_concepts: int  # concept table rows


class OntologyStage(NamedTuple):
    """The ontology stage as frames (``ontology_stage``): the dictionary
    and is-a rows as Arrow-backed local relations."""

    cfg: PipelineConfig
    dictionary: DataFrame
    isa: DataFrame | None
    n_concepts: int

    def triples(self) -> DataFrame:
        """The ontology-side triples (``ontology_triples``)."""
        return ontology_triples(self.dictionary, self.isa)


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
    direct parents follow — the hierarchy's gate (``small_direct_parents``)
    on the concept rows already held, else the distributed program,
    collected (its output is ontology-scale) — and the is-a rows
    (``isa_rows``)."""
    cfg, concept_rows, dict_rows = dictionary_pass(concepts, synonyms, cfg)
    isa = None
    if hierarchy:
        direct = small_direct_parents(
            concepts, edges, cfg, [(r[0], r[4]) for r in concept_rows]
        )
        if direct is None:
            direct = distributed_direct_parents(concepts, edges, cfg).collect()
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
    join or scan them; the driver rows are released on return."""
    rows = ontology_rows(concepts, edges, synonyms, cfg, hierarchy)
    spark = concepts.sparkSession
    return OntologyStage(
        rows.cfg,
        local_frame(spark, rows.dictionary, CONCEPT_DICTIONARY),
        None if rows.isa is None else local_frame(spark, rows.isa, ISA_ROWS),
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


def mention_triples(pairs: DataFrame) -> DataFrame:
    """(code, conv_id) mention pairs → mentions-in triples."""
    return pairs.select(
        F.col("code").alias("subj"),
        F.lit("mentions-in").alias("pred"),
        F.col("conv_id").alias("obj"),
        F.lit("conv").alias("obj_type"),
        F.col("conv_id").alias("conv_id"),
    )


def ontology_triples(dictionary: DataFrame, isa: DataFrame) -> DataFrame:
    """Dictionary + is-a rows → ontology-side triples.

    Emits per concept: has-display, imported, deprecated, root,
    synonym-of*, and is-a* for non-root concepts (the parent rule is
    ``isa_rows``).
    """
    d = dictionary

    def lit_triple(pred: str, obj_col, obj_type: str) -> DataFrame:
        return d.select(
            F.col("code").alias("subj"),
            F.lit(pred).alias("pred"),
            obj_col.cast("string").alias("obj"),
            F.lit(obj_type).alias("obj_type"),
            F.lit(None).cast("string").alias("conv_id"),
        )

    def bool_str(col):
        return F.when(col, "true").otherwise("false")

    parts = [
        lit_triple("has-display", F.col("display"), "string"),
        lit_triple("imported", bool_str(F.col("imported")), "boolean"),
        lit_triple("deprecated", bool_str(F.col("deprecated")), "boolean"),
        lit_triple("root", bool_str(F.col("root")), "boolean"),
        d.select(
            F.col("code").alias("subj"),
            F.lit("synonym-of").alias("pred"),
            F.explode("synonyms").alias("obj"),
            F.lit("string").alias("obj_type"),
            F.lit(None).cast("string").alias("conv_id"),
        ),
        isa.select(
            "subj",
            F.lit("is-a").alias("pred"),
            F.col("parent_code").alias("obj"),
            F.lit("code").alias("obj_type"),
            F.lit(None).cast("string").alias("conv_id"),
        ),
    ]

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def concept_triples(
    dictionary: DataFrame,
    direct_parents: DataFrame,
    concepts: DataFrame,
    cfg: PipelineConfig,
) -> DataFrame:
    """Dictionary + reduced hierarchy → ontology-side triples, for a
    caller holding its own dictionary and hierarchy frames (the
    pipelines use ``ontology_stage``). The three are ontology-scale:
    they are collected and the parent rule is ``isa_rows``."""
    concept_rows = concepts.select(*CONCEPT_COLS).collect()
    cfg = with_has_imports(cfg, concept_rows)
    isa = isa_rows(
        dictionary.select("iri", "code", "root").collect(),
        direct_parents.select("child_iri", "parent_iri").collect(),
        concept_rows,
        cfg,
    )
    return ontology_triples(
        dictionary, local_frame(dictionary.sparkSession, isa, ISA_ROWS)
    )


def materialize_ontology_inputs(
    concepts: DataFrame, edges: DataFrame, synonyms: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Materialize the three ontology tables in ONE job (three lazy
    localCheckpoints + one union-count action; every frame keeps its
    exact input schema).

    No pipeline calls this. Checkpointed frames are no longer local
    relations, so every collect and bounded probe of the ontology stage
    becomes a job. Spark jobs per call without → with this call first,
    its own jobs included (Spark 4, local mode, pizza fixture frames):
    ``build_graph(...).count()`` 4 → 10, a one-chunk
    ``build_graph_resumable`` 6 → 12 and ``export_codesystem`` 0 → 6.
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
    onto = stage.triples()

    # pairs_only: batch-local dedup inside the UDF (hub terms repeat in
    # most turns of a conversation) — global dedup still happens in the
    # final key-hash dropDuplicates, one shuffle, map-side combined.
    pairs = extract_mentions(transcripts, stage.dictionary, cfg, pairs_only=True)
    if related_npmi is not None:
        pairs = pairs.localCheckpoint(eager=True)

    all_triples = onto.unionByName(mention_triples(pairs))
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
        all_triples = all_triples.unionByName(related)
    return triples_with_key(all_triples)
