"""Mention detection / entity linking over turn text (the graft — no
reference counterpart; north_star in BASELINE.json).

A broadcast dictionary of canonical terms (display + synonyms from
operators/dictionary.py, lowercased, deprecated/excluded filtered) drives
whole-word, case-insensitive matching inside ``mapInPandas`` — Arrow
batches in, Arrow batches out, zero per-row Python round trips to the JVM.

Matching semantics (shared with the fixture model, fixtures.model_mentions):
a term matches at [i, j) iff text.lower()[i:j] == term and the characters
at i-1 and j are NOT in [a-z0-9]. ASCII word-boundary semantics —
documented, deterministic, SQL-expressible for the DuckDB oracle when the
corpus is space-separated.

One kernel at every dictionary size: each prefix layer (see
``_layer_terms``) becomes one PREFIX-FACTORED (trie) regex, scanned with
the vectorized ``pd.Series.str.findall`` — the per-row work stays in the
C regex engine, and the engine walks shared prefixes once, so scan cost
does not grow with term count. Compile cost grows with total dictionary
characters; the patterns are compiled once per Python worker and cached
by dictionary, so every Arrow batch and every job on one dictionary
reuses them.

Scale notes (10^12 turns):
  * the dictionary is driver-collected then ``sc.broadcast`` — bounded by
    ontology size (HPO ≈ 18k concepts → a few MB), never by corpus size;
  * the stage is map-only: no shuffle is introduced here; dedup of the
    emitted pairs happens downstream on the hash-partitioned triple key;
  * hub terms ("the common word problem") produce output skew, not input
    skew — handled by salted two-phase aggregation (operators/skew.py) and
    by dictionary-side stop-term exclusion (cfg.link_stop_terms).
"""

from __future__ import annotations

import re
from typing import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from ..config import PipelineConfig
from ..schemas import MENTIONS

_WORD_CHARS = frozenset("abcdefghijklmnopqrstuvwxyz0123456789")


def _layer_terms(terms: list[str]) -> list[list[str]]:
    """Split terms into layers such that within a layer no term is a
    word-boundary prefix of another (e.g. 'data' of 'data object').

    A single alternation pass can only report ONE match per start
    position (the longest), so prefix-nested terms must be searched in a
    later pass. Sorted-order scan → near-linear: prefixes are contiguous
    with the terms they prefix."""
    remaining = sorted(set(terms))
    layers: list[list[str]] = []
    while remaining:
        conflicted: set[str] = set()
        n = len(remaining)
        for i, a in enumerate(remaining):
            la = len(a)
            for j in range(i + 1, n):
                b = remaining[j]
                if not b.startswith(a):
                    break
                if len(b) > la and b[la] not in _WORD_CHARS:
                    conflicted.add(a)
                    break
        layers.append(
            sorted((t for t in remaining if t not in conflicted), key=len, reverse=True)
        )
        remaining = sorted(conflicted)
    return layers


def _trie_pattern(terms: list[str]) -> str:
    """Prefix-factored (trie) alternation over ``terms`` — the same
    LANGUAGE as the flat '|'-join, but the engine walks shared prefixes
    once instead of retrying every alternative at every position, so
    matching cost is independent of dictionary size (the property that
    makes a 10^4-term dictionary run at C speed; guide §4.2 — do the
    heavy lifting in native code). Longest-match preference is preserved
    structurally: a term that is a prefix of another in the same trie
    becomes an optional greedy suffix group, tried longest-first."""
    trie: dict = {}
    end = "\0"
    for t in terms:
        d = trie
        for ch in t:
            d = d.setdefault(ch, {})
        d[end] = {}

    def emit(d: dict) -> str:
        alts = []
        has_end = False
        for ch, sub in sorted(d.items()):
            if ch == end:
                has_end = True
                continue
            # a run of single-child, non-terminal nodes is a plain
            # literal: extend it in a loop, so a long term does not
            # recurse once per character
            run = [ch]
            while len(sub) == 1 and end not in sub:
                ((ch, sub),) = sub.items()
                run.append(ch)
            alts.append(re.escape("".join(run)) + emit(sub))
        if not alts:
            return ""
        body = alts[0] if len(alts) == 1 else "(?:" + "|".join(alts) + ")"
        if has_end:
            if len(alts) == 1 and len(alts[0]) > 1:
                body = "(?:" + body + ")"
            body += "?"
        return body

    return emit(trie)


def _trie_layer_regex(layer: list[str]) -> "re.Pattern[str]":
    return re.compile(r"(?<![a-z0-9])(?=(" + _trie_pattern(layer) + r")(?![a-z0-9]))")


# keyed by the terms tuple ITSELF (dict keys hash then compare by
# equality), never by hash(terms): a long-lived Python worker running
# successive jobs with different dictionaries could collide on the 64-bit
# hash and silently reuse the wrong patterns. Single-entry policy — one
# dictionary per job; clear on miss to avoid leaks.
_TRIE_PATTERN_CACHE: dict[tuple[str, ...], "list[re.Pattern[str]]"] = {}


def _trie_patterns_for(terms: tuple[str, ...]) -> "list[re.Pattern[str]]":
    pats = _TRIE_PATTERN_CACHE.get(terms)
    if pats is None:
        pats = [_trie_layer_regex(layer) for layer in _layer_terms(list(terms))]
        _TRIE_PATTERN_CACHE.clear()
        _TRIE_PATTERN_CACHE[terms] = pats
    return pats


# ---------------------------------------------------------------------------
# Dictionary extraction
# ---------------------------------------------------------------------------


def linkable_terms(dictionary: DataFrame, cfg: PipelineConfig) -> list[tuple[str, str]]:
    """CONCEPT_DICTIONARY rows → sorted [(term_lower, code)].

    Deprecated concepts never link by default (FIXTURES.md §5); terms
    shorter than min_term_chars and configured stop terms are dropped
    (hub/stop-word guard). Driver-side collect is bounded by ontology size
    (see module docstring) — transcript data is never collected.
    """
    d = dictionary
    if not cfg.link_deprecated:
        d = d.filter(~F.col("deprecated"))
    # one projection, which the optimizer folds into a local relation (no
    # job); the explode, the null/length filter, the stop terms and the
    # dedup run on the collected rows. Lower-casing stays Spark's; Spark
    # ``length`` and Python ``len`` both count code points.
    rows = d.select(
        F.lower("display"), F.transform("synonyms", F.lower), "code"
    ).collect()
    stop = {t.lower() for t in cfg.link_stop_terms}
    n = cfg.min_term_chars
    return sorted(
        {
            (term, code)
            for display, synonyms, code in rows
            for term in [display, *(synonyms or ())]
            if term is not None and len(term) >= n and term not in stop
        }
    )


# ---------------------------------------------------------------------------
# mapInPandas stage
# ---------------------------------------------------------------------------


def extract_mentions(
    transcripts: DataFrame,
    dictionary: DataFrame,
    cfg: PipelineConfig,
    carry_cols: tuple[str, ...] = (),
    pairs_only: bool = False,
) -> DataFrame:
    """transcripts × broadcast dictionary → MENTIONS rows.

    One mention row per (turn, matched term) with an occurrence count and
    a bounded link score. Map-only; Arrow-vectorized. Works on batch AND
    streaming DataFrames (no shuffle, no state). carry_cols: extra input
    columns threaded through to the output (e.g. the event-time column
    for streaming window aggs).

    pairs_only: emit only (code, conv_id), deduped batch-locally inside
    the UDF before any data returns to the JVM. For the triple path the
    turn/term/score detail is dead weight — batch-local dedup cuts the
    Arrow return volume and the dedup-shuffle input by the per-batch
    duplication factor (hub terms repeat in most turns of a conv).
    Global dedup still happens downstream on the triple key.
    """
    from pyspark.sql.types import StringType as _Str
    from pyspark.sql.types import StructField as _Sf
    from pyspark.sql.types import StructType as _St

    if pairs_only:
        out_schema = _St([_Sf("code", _Str()), _Sf("conv_id", _Str())])
    else:
        out_schema = _St(
            MENTIONS.fields
            + [transcripts.schema[c] for c in carry_cols]
        )
    pairs = linkable_terms(dictionary, cfg)
    if not pairs:
        # Emit via a mapInPandas no-op so STREAMING inputs still get a
        # streaming (empty) result — createDataFrame([]) would be a batch
        # frame and writeStream on it would fail.
        def empty_gen(batches):
            for pdf in batches:
                yield pd.DataFrame(
                    {f.name: pd.Series([], dtype="object") for f in out_schema.fields}
                )

        cols = ["conv_id", "turn_idx", "text", *carry_cols]
        return transcripts.select(*cols).mapInPandas(empty_gen, out_schema)

    term_list = tuple(sorted({t for t, _ in pairs}))
    term_codes: dict[str, tuple[str, ...]] = {}
    for t, c in pairs:
        term_codes.setdefault(t, ())
    for t, c in pairs:
        term_codes[t] = term_codes[t] + (c,)

    sc = transcripts.sparkSession.sparkContext
    bc = sc.broadcast((term_list, term_codes))

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        terms, codes_of = bc.value
        patterns = _trie_patterns_for(terms)
        code_map = pd.DataFrame(
            [(t, c) for t, cs in codes_of.items() for c in cs],
            columns=["term", "code"],
        )
        for pdf in batches:
            text = pdf["text"].fillna("").str.lower()
            parts: list[pd.DataFrame] = []
            # single alternation pass per layer (usually 1-2 layers):
            # findall → explode → group counts; all C-speed
            for pat in patterns:
                found = text.str.findall(pat)
                ex = found.explode().dropna()
                if len(ex) == 0:
                    continue
                counts = ex.groupby([ex.index, ex.to_numpy()]).size()
                counts.index.names = ["_row", "term"]
                parts.append(counts.rename("n_hits").reset_index())
            if pairs_only:
                if not parts:
                    yield pd.DataFrame(
                        {"code": pd.Series([], dtype="object"),
                         "conv_id": pd.Series([], dtype="object")}
                    )
                    continue
                hits = pd.concat(parts, ignore_index=True)
                out = hits.merge(code_map, on="term", how="inner")
                out["conv_id"] = pdf["conv_id"].reindex(out["_row"]).to_numpy()
                # batch-local dedup: the hub term repeats across the turns
                # of a conversation within the batch — collapse before the
                # rows ever cross Arrow back to the JVM
                yield out[["code", "conv_id"]].drop_duplicates(ignore_index=True)
                continue
            out_cols = ["conv_id", "turn_idx", "code", "term", "n_hits", "score"] + list(
                carry
            )
            if not parts:
                empty = {
                    "conv_id": pd.Series([], dtype="object"),
                    "turn_idx": pd.Series([], dtype="int32"),
                    "code": pd.Series([], dtype="object"),
                    "term": pd.Series([], dtype="object"),
                    "n_hits": pd.Series([], dtype="int32"),
                    "score": pd.Series([], dtype="float64"),
                }
                for c in carry:
                    empty[c] = pdf[c].iloc[:0]
                yield pd.DataFrame(empty)
                continue
            hits = pd.concat(parts, ignore_index=True)
            # term → one or more codes (ontology homonyms fan out here)
            out = hits.merge(code_map, on="term", how="inner")
            out["conv_id"] = pdf["conv_id"].reindex(out["_row"]).to_numpy()
            out["turn_idx"] = (
                pdf["turn_idx"].reindex(out["_row"]).to_numpy().astype("int32")
            )
            out["n_hits"] = out["n_hits"].astype("int32")
            # bounded deterministic link score: more hits → higher, ≤1.0
            out["score"] = (1.0 - 0.5 ** out["n_hits"]).astype("float64")
            for c in carry:
                out[c] = pdf[c].reindex(out["_row"]).to_numpy()
            yield out[out_cols]

    carry = tuple(carry_cols)
    return transcripts.select("conv_id", "turn_idx", "text", *carry).mapInPandas(
        gen, out_schema
    )


def score_mentions_with_context(
    mentions_df: DataFrame,
    isa_edges: DataFrame,
    boost: float = 0.2,
) -> DataFrame:
    """Context-aware entity-link scoring: a mention's score is boosted
    when the entity's DIRECT PARENT is also mentioned somewhere in the
    same conversation — hierarchy-consistent context is linking evidence
    (north-star 'entity-link scoring'; no reference counterpart).

    isa_edges: (child_code, parent_code) — the reduced hierarchy keyed by
    CODES (broadcast side). One conv-keyed semi-join against the distinct
    per-conversation entity set; output schema = input + context_score.
    """
    per_conv = mentions_df.select("conv_id", F.col("code").alias("parent_code")).distinct()
    child_parent = F.broadcast(
        isa_edges.select(
            F.col("child_code").alias("code"), F.col("parent_code")
        )
    )
    with_parent = mentions_df.join(child_parent, "code", "left")
    boosted = (
        with_parent.join(
            per_conv.withColumn("_ctx", F.lit(True)),
            ["conv_id", "parent_code"],
            "left",
        )
        .groupBy(*mentions_df.columns)
        .agg(F.max(F.coalesce("_ctx", F.lit(False))).alias("_has_ctx"))
    )
    return boosted.withColumn(
        "context_score",
        F.round(
            F.least(
                F.lit(1.0), F.col("score") + F.when(F.col("_has_ctx"), boost).otherwise(0.0)
            ),
            9,
        ),
    ).drop("_has_ctx")
