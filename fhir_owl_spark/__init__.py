"""fhir_owl_spark — a from-scratch PySpark-native knowledge-graph
construction pipeline with the canonicalization semantics of
aehrc/fhir-owl (reference: /root/reference, v1.1.0), grafted onto
multi-turn conversation transcripts.

The reference is a single-JVM batch converter (OWL ontology → FHIR R4
CodeSystem JSON). This engine re-expresses WHAT it computes per concept
— code, display, synonyms, direct parents after transitive reduction,
deprecated/imported/root flags — as (subj, pred, obj) triples, computed
with declarative DataFrame plans that Catalyst can optimize, at
transcript scale (design point: 10^12 turns on a multi-executor
cluster; tested on local[32]).

Layout:
  schemas.py              fixed StructTypes (reference has a fixed code-declared schema)
  config.py               PipelineConfig — mirrors the reference CLI options
  session.py              SparkSession builder with scale-tuned confs
  fixtures.py             deterministic tabular pizza/duo-style fixtures + expected triples
  operators/dictionary.py concept canonicalization (codes/display/synonyms/flags)
  operators/hierarchy.py  closure + reduction (driver SCC kernel; iterative self-joins)
  operators/mentions.py   broadcast-dictionary mention detection (Arrow pandas UDF)
  operators/dedup.py      canonical-key triple dedup + document dedup family
  operators/skew.py       salted two-phase aggregation
  operators/similarity.py embedding cosine top-k (brute force + LSH-bucketed)
  operators/text.py       language-ID / quality / token-count / fingerprint
  plans/build_graph.py    the end-to-end pipeline
  plans/lineage.py        per-partition lineage + checkpoint/resume
  sources/owl_xml.py      driver-side RDF/XML → tabular ontology (fixture-scale only)
"""

__version__ = "0.1.0"
