"""Fixed schemas.

The reference's schema system is fixed and code-declared (FHIR R4 model +
OWL API model, no inference) — see /root/reference/src/main/java/au/csiro/
fhir/owl/FhirOwlService.java. Ours is likewise: every table the engine
reads or writes has a StructType declared here.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --------------------------------------------------------------------------
# Input: transcripts (BASELINE.json input_hint — exact shape)
# --------------------------------------------------------------------------
TRANSCRIPTS = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)

# --------------------------------------------------------------------------
# Input: tabular ontology (pizza/duo semantics in table form; FIXTURES.md)
# Node table + edge table + multi-valued label table — the Spark analog of
# OWLOntology + Map<IRI,String> (FhirOwlService.java:199-229).
# --------------------------------------------------------------------------
ONTOLOGY_CONCEPTS = StructType(
    [
        StructField("iri", StringType(), nullable=False),
        StructField("ontology_id", StringType()),
        StructField("label", StringType()),          # closure-wide display candidate
        StructField("deprecated", BooleanType()),    # owl:deprecated=true analog
        StructField("imported", BooleanType()),      # set-difference membership analog
        StructField("unsatisfiable", BooleanType()), # equivalent-to-Nothing analog
    ]
)

ONTOLOGY_EDGES = StructType(
    [
        StructField("child_iri", StringType(), nullable=False),
        StructField("parent_iri", StringType(), nullable=False),
    ]
)

ONTOLOGY_SYNONYMS = StructType(
    [
        StructField("iri", StringType(), nullable=False),
        StructField("synonym", StringType()),
        StructField("prop", StringType()),  # 'label' | 'hasExactSynonym' | 'altLabel' | 'code'
    ]
)

# --------------------------------------------------------------------------
# Intermediate: the canonical concept dictionary (output of
# operators/dictionary.py; the broadcast side of mention detection).
# One row per emitted concept — the Spark analog of
# ConceptDefinitionComponent (FhirOwlService.java:848-901).
# --------------------------------------------------------------------------
CONCEPT_DICTIONARY = StructType(
    [
        StructField("iri", StringType(), nullable=False),
        StructField("code", StringType(), nullable=False),
        StructField("display", StringType()),
        StructField("synonyms", ArrayType(StringType()), nullable=False),
        StructField("deprecated", BooleanType(), nullable=False),
        StructField("imported", BooleanType(), nullable=False),
        StructField("root", BooleanType(), nullable=False),
    ]
)

# --------------------------------------------------------------------------
# Output: triples + lineage
# --------------------------------------------------------------------------
TRIPLES = StructType(
    [
        StructField("subj", StringType(), nullable=False),
        StructField("pred", StringType(), nullable=False),
        StructField("obj", StringType()),
        StructField("obj_type", StringType()),  # 'code'|'string'|'boolean'|'conv'
        StructField("conv_id", StringType()),   # provenance for mentions-in, else null
        StructField("key_hash", StringType()),  # sha256(subj||pred||obj) — dedup key
    ]
)

PREDICATES = ("is-a", "synonym-of", "mentions-in", "has-display", "deprecated", "imported", "root")

LINEAGE = StructType(
    [
        StructField("run_id", StringType()),
        StructField("partition_id", IntegerType()),
        StructField("input_rows", LongType()),
        StructField("output_triples", LongType()),
        StructField("started_ts", TimestampType()),
        StructField("finished_ts", TimestampType()),
        StructField("checkpoint_id", StringType()),
    ]
)

# Mention rows before triple projection (operators/mentions.py output)
MENTIONS = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("code", StringType()),
        StructField("term", StringType()),
        StructField("n_hits", IntegerType()),
        StructField("score", DoubleType()),
    ]
)

# Well-known IRIs (owl vocabulary — public W3C namespace)
OWL_THING = "http://www.w3.org/2002/07/owl#Thing"
OWL_NOTHING = "http://www.w3.org/2002/07/owl#Nothing"
OWL_TOP_OBJECT_PROPERTY = "http://www.w3.org/2002/07/owl#topObjectProperty"
OWL_TOP_DATA_PROPERTY = "http://www.w3.org/2002/07/owl#topDataProperty"
TOP_ENTITIES = (OWL_THING, OWL_TOP_OBJECT_PROPERTY, OWL_TOP_DATA_PROPERTY)

# Hardcoded special displays (FhirOwlService.java:852-858)
SPECIAL_DISPLAYS = {
    OWL_THING: "Thing",
    OWL_TOP_OBJECT_PROPERTY: "Top Object Property",
    OWL_TOP_DATA_PROPERTY: "Top Data Property",
}
