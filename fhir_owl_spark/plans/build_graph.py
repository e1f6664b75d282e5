"""The end-to-end knowledge-graph build.

Reference lifecycle being re-expressed (FhirOwlService.createCodeSystem,
/root/reference/src/main/java/au/csiro/fhir/owl/FhirOwlService.java:192-591):
ontology → dictionary → hierarchy (closure + reduction) → per-concept rows
→ serialized output, PLUS the transcript graft (mention triples).

Every entry point — ``build_graph`` here, ``build_graph_resumable``
(plans/lineage.py), ``refresh_graph`` (plans/refresh.py) and
``export_codesystem`` (plans/export.py) — shares one ontology stage:
``ontology_stage`` derives has_imports once and checkpoints the concept
dictionary, ``isa_rows`` holds the one parent rule (parent codes, Nothing
and deprecated parents dropped) and ``mention_triples`` the one
mentions-in projection. Each caller runs ``build_hierarchy`` itself, so a
resume whose ontology chunk is committed does no hierarchy work.

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

import dataclasses

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..config import PipelineConfig
from ..operators.dictionary import (
    build_concept_dictionary,
    derive_has_imports,
    parent_code_col,
)
from ..operators.hierarchy import build_hierarchy
from ..operators.mentions import extract_mentions
from ..schemas import OWL_NOTHING

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


def ontology_stage(
    concepts: DataFrame,
    edges: DataFrame,
    synonyms: DataFrame,
    cfg: PipelineConfig,
) -> tuple[PipelineConfig, DataFrame, DataFrame, DataFrame]:
    """The ontology stage every entry point shares → (cfg, concepts,
    edges, dictionary).

    has_imports is derived ONCE into the returned cfg: the dictionary
    and the is-a parent codes would otherwise each run their own probe
    job for the same answer (derive_has_imports returns cfg.has_imports
    verbatim when it is set). The dictionary is consumed several times
    (triples, the mention broadcast, export, the refresh diff) and is
    small by design — materialized once, eagerly. Callers must use the
    returned concepts and edges, and build the hierarchy themselves."""
    if cfg.has_imports is None:
        cfg = dataclasses.replace(
            cfg, has_imports=derive_has_imports(concepts, cfg)
        )
    dictionary = build_concept_dictionary(concepts, synonyms, cfg)
    return cfg, concepts, edges, dictionary.localCheckpoint(eager=True)


def isa_rows(
    dictionary: DataFrame,
    direct: DataFrame,
    concepts: DataFrame,
    cfg: PipelineConfig,
) -> DataFrame:
    """Direct parents of emitted non-root concepts → (child_iri, subj,
    parent_code). Deprecated parents are dropped WITHOUT relinking and
    Nothing parents dropped (FhirOwlService.java:620-647); parents keep
    the code-annotation-free derivation (parent_code_col), and parents
    outside the concepts table (undeclared) fall back to their IRI."""
    has_imports = derive_has_imports(concepts, cfg)
    parent_meta = concepts.select(
        F.col("iri").alias("parent_iri"),
        parent_code_col(cfg, has_imports, "iri").alias("parent_code"),
        F.coalesce("deprecated", F.lit(False)).alias("parent_deprecated"),
    )
    isa = (
        dictionary.filter(~F.col("root"))
        .select(F.col("iri").alias("child_iri"), F.col("code").alias("subj"))
        # both sides are ontology-bounded; without the hint Spark has no
        # size stats for the checkpointed/driver-built inputs and falls
        # back to SortMergeJoin — two shuffles + sorts for nothing
        .join(F.broadcast(direct), "child_iri")
        .filter(F.col("parent_iri") != OWL_NOTHING)
        .join(F.broadcast(parent_meta), "parent_iri", "left")
    )
    if not cfg.include_deprecated:
        isa = isa.filter(~F.coalesce("parent_deprecated", F.lit(False)))
    return isa.select(
        "child_iri",
        "subj",
        F.coalesce("parent_code", F.col("parent_iri")).alias("parent_code"),
    )


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
    """Dictionary + reduced hierarchy → ontology-side triples.

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
        isa_rows(d, direct_parents, concepts, cfg).select(
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


def materialize_ontology_inputs(
    concepts: DataFrame, edges: DataFrame, synonyms: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Materialize the three ontology tables in ONE job (three lazy
    localCheckpoints + one union-count action; every frame keeps its
    exact input schema).

    No pipeline calls this: ``ontology_stage`` leaves its inputs as the
    caller built them, because the extra job did not pay for itself.
    Spark jobs per call, stage without → with this call (Spark 4, local
    mode; counts repeat exactly): ``perfbench`` corpus workload, seed 21,
    ``build`` op 23 → 29 and ``export`` op 7 → 13 (export median
    0.67 → 0.99 s on a shared 4-vCPU VM, +55%); on pizza fixture frames,
    ``build_graph(...).count()`` 9 → 17, a one-chunk
    ``build_graph_resumable`` 23 → 31 and ``export_codesystem`` 7 → 15.
    Fixture frames are Arrow-backed local
    relations: Spark answers the stage's bounded collects on them without
    launching a job, and the checkpoint turns those collects into jobs.
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

    cfg, concepts, edges, dictionary = ontology_stage(
        concepts, edges, synonyms, cfg
    )
    direct = build_hierarchy(concepts, edges, cfg)
    onto = concept_triples(dictionary, direct, concepts, cfg)

    # pairs_only: batch-local dedup inside the UDF (hub terms repeat in
    # most turns of a conversation) — global dedup still happens in the
    # final key-hash dropDuplicates, one shuffle, map-side combined.
    pairs = extract_mentions(transcripts, dictionary, cfg, pairs_only=True)
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
