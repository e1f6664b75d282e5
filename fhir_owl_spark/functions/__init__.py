"""Scalar/column function surface (SURVEY.md §2.3).

One importable namespace for every reusable Column-expression function in
the engine — all JVM-side, Catalyst-optimizable, UDF-free. The ontology
dictionary's rules are not among them: they run in one driver pass
(operators/dictionary.py), of which only ``shortform`` has a Column form.
"""

from ..operators.dedup import (  # noqa: F401
    ngram_jaccard_col,
    simhash_col,
    word_shingles_col,
)
from ..operators.dictionary import shortform  # noqa: F401
from ..operators.similarity import cosine_expr  # noqa: F401
from ..operators.sampling import hash_bucket  # noqa: F401
from ..operators.text import (  # noqa: F401
    bpeish_token_count,
    fingerprint_col,
    lang_id_col,
    quality_features,
    redact_pii_col,
    whitespace_token_count,
)

__all__ = [
    "bpeish_token_count",
    "hash_bucket",
    "redact_pii_col",
    "cosine_expr",
    "fingerprint_col",
    "lang_id_col",
    "ngram_jaccard_col",
    "quality_features",
    "shortform",
    "simhash_col",
    "whitespace_token_count",
    "word_shingles_col",
]
