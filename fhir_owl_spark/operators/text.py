"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language ID, document fingerprinting.

All of these are pure Column expressions (JVM-side, inside whole-stage
codegen) — no Python in the hot path. Each has a deterministic,
SQL-expressible definition so DuckDB can act as the row-level oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

# ---------------------------------------------------------------------------
# Token counting
# ---------------------------------------------------------------------------

# BPE-ish pre-tokenizer: word pieces, numbers, or single non-space symbols —
# a deterministic approximation of GPT-style pretokenization.
BPE_ISH_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def whitespace_token_count(text_col: str = "text") -> Column:
    t = F.trim(F.col(text_col))
    return F.when(F.length(t) == 0, 0).otherwise(F.size(F.split(t, r"\s+")))


def bpeish_token_count(text_col: str = "text") -> Column:
    """Count of BPE-ish pretokens via regexp_count (JVM regex)."""
    return F.regexp_count(F.coalesce(F.col(text_col), F.lit("")), F.lit(BPE_ISH_REGEX))


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------

_EN_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio features + a composite score.

    score = clamp(0,1, 0.5*stopword_presence + 0.3*len_norm - 0.2*punct_ratio)
    — a deterministic toy composite; the features are the real output.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.length(t)
    n_tokens = whitespace_token_count(text_col)
    n_punct = F.regexp_count(t, F.lit(r"[^\w\s]"))
    words = F.split(F.lower(t), r"\s+")
    n_stop = F.size(F.array_intersect(F.array_distinct(words), F.array(*[F.lit(w) for w in _EN_STOPWORDS])))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, n_stop / F.lit(len(_EN_STOPWORDS))).otherwise(F.lit(0.0))
    len_norm = F.least(n_chars / F.lit(1000.0), F.lit(1.0))
    score = F.greatest(
        F.lit(0.0),
        F.least(
            F.lit(1.0), 0.5 * stop_ratio + 0.3 * len_norm - 0.2 * punct_ratio
        ),
    )
    return df.withColumns(
        {
            "n_chars": n_chars.cast("long"),
            "n_tokens": n_tokens.cast("long"),
            "punct_ratio": punct_ratio.cast("double"),
            "stopword_ratio": stop_ratio.cast("double"),
            "quality_score": score.cast("double"),
        }
    )


# ---------------------------------------------------------------------------
# Language ID (marker-word heuristic)
# ---------------------------------------------------------------------------

# Top function words per language — public linguistic facts.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "is", "of", "to"),
    "de": ("der", "die", "und", "ist", "das"),
    "es": ("el", "la", "que", "los", "es"),
    "fr": ("le", "la", "les", "est", "une"),
}


def lang_id_col(text_col: str = "text") -> Column:
    """argmax over marker-word hit counts; 'und' (undetermined) on ties/zero.

    Deterministic: ties broken by language code order. Pure Column code.
    """
    words = F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    scores = {
        lang: F.size(
            F.filter(words, lambda w: w.isin(*[F.lit(m) for m in markers]))
        )
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # reversed so that earlier language codes win ties
    for lang in sorted(scores, reverse=True):
        expr = F.when((scores[lang] == best) & (best > 0), lang).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# Document fingerprinting (rolling-hash winnowing-lite)
# ---------------------------------------------------------------------------


def fingerprint_col(
    text_col: str = "text", k: int = 5, keep_every: int = 8, hash_fn=F.xxhash64
) -> Column:
    """Deterministic document fingerprint: hash_fn (default xxhash64) of
    every k-word shingle, keep hashes ≡ 0 (mod keep_every) (mod-sampling
    winnowing), sorted array. Two documents share fingerprint elements ⇔
    they share sampled shingles."""
    words = F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    n = F.size(words)
    shingles = F.when(n < k, F.array(F.concat_ws(" ", words))).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
        )
    )
    hashes = F.transform(shingles, lambda s: hash_fn(s))
    sampled = F.filter(hashes, lambda h: F.pmod(h, F.lit(keep_every)) == 0)
    return F.array_sort(F.array_distinct(sampled))


# ---------------------------------------------------------------------------
# Token-window document chunking (training-data prep: long documents →
# overlapping context-window-sized chunks). Pure Column code — the
# transform/slice pipeline stays inside whole-stage codegen; one explode,
# no shuffle, no Python.
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    max_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, chunk_idx, chunk_text, n_tokens) — whitespace-token windows of
    ``max_tokens`` with ``overlap`` tokens shared between consecutive
    chunks (stride = max_tokens - overlap). Every document emits at least
    one chunk; the final chunk may be short. Scale shape: map-only
    (narrow), chunk count per row is bounded by the document length, and
    the downstream repartition is the caller's choice."""
    if not 0 <= overlap < max_tokens:
        raise ValueError(f"need 0 <= overlap < max_tokens, got {overlap}/{max_tokens}")
    stride = max_tokens - overlap
    raw = F.coalesce(F.col(text_col), F.lit(""))
    words = F.split(F.lower(raw), r"\s+")
    # blank text → 0 tokens (split of '' yields [''], which would
    # otherwise count as one phantom token — same empty→0 rule as
    # whitespace_token_count, so chunk n_tokens sums tie out with
    # corpus_stats)
    n = F.when(F.length(F.trim(raw)) == 0, F.lit(0)).otherwise(F.size(words))
    # number of stride-starts that still begin inside the document:
    # 1 + floor((n - max_tokens + stride - 1) / stride) clamped to >= 1
    n_chunks = F.greatest(
        F.lit(1),
        (F.lit(1) + F.floor((n - max_tokens + stride - 1) / F.lit(stride))).cast("int"),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(words, i * stride + 1, max_tokens)).alias(
                "chunk_text"
            ),
            F.greatest(
                F.lit(0), F.least(n - i * stride, F.lit(max_tokens))
            ).cast("long").alias("n_tokens"),
        ),
    )
    return df.select(F.col(id_col), F.explode(chunks).alias("c")).select(
        id_col,
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_tokens").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# PII redaction (training-data hygiene): regexp_replace chain, JVM-side.
# Patterns are kept to the regex subset Java (Spark) and RE2 (DuckDB,
# the contract oracle) interpret identically — no lookarounds, no
# backreferences.
# ---------------------------------------------------------------------------

# order matters: specific → general (credit card before generic digit runs)
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    # email
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # ipv4
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    # 16-digit card-like runs (with optional -/space groups of 4)
    (r"\b\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{4}\b", "<CC>"),
    # SSN-like 3-2-4
    (r"\b\d{3}-\d{2}-\d{4}\b", "<ID>"),
    # phone-like: 3-3-4, country-code group optional. The separator after
    # the area code is MANDATORY ([\). -]): with every separator optional
    # the pattern matched the trailing 10 digits of ANY >=10-digit run
    # (epoch-millis '1723791600123' -> '172<PHONE>'), systematically
    # over-redacting numeric IDs/timestamps. RE2 has no lookbehind, so
    # requiring one in-number separator is the portable anchor — plain
    # 555-123-4567 / (555) 123-4567 / 555.123.4567 all still match.
    # {1,2} separator chars: '(555)-123-4567' needs ')' AND '-' consumed
    (r"(\+?\d{1,2}[ .-])?\(?\d{3}[\). -]{1,2}\d{3}[ .-]?\d{4}\b", "<PHONE>"),
)


def redact_pii_col(text_col: str = "text") -> Column:
    """Chained regexp_replace over PII_PATTERNS — one JVM-side projection,
    no UDF, safe to push before any text operator."""
    out = F.coalesce(F.col(text_col), F.lit(""))
    for pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


# ---------------------------------------------------------------------------
# Text normalization (web-scrape hygiene): tag strip → entity unescape →
# control-char strip → whitespace collapse. Chained JVM-side
# regexp_replace/replace, no UDF; patterns stay in the subset Java and
# RE2 (DuckDB oracle) interpret identically.
# ---------------------------------------------------------------------------

_HTML_TAG = r"<[^>]+>"
_CONTROL_CHARS = r"[\x00-\x08\x0b\x0c\x0e-\x1f]"
# the handful of entities that dominate scraped text; tags are stripped
# FIRST so unescaped '&lt;b&gt;' never turns into a live tag
_HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # last: '&amp;lt;' decodes to the literal '&lt;'
)


def normalize_text_col(text_col: str = "text") -> Column:
    """Normalized text: HTML tags → space, common entities unescaped,
    ASCII control characters removed, whitespace runs collapsed to one
    space, trimmed."""
    out = F.coalesce(F.col(text_col), F.lit(""))
    out = F.regexp_replace(out, _HTML_TAG, " ")
    for ent, rep in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    out = F.regexp_replace(out, _CONTROL_CHARS, "")
    return F.trim(F.regexp_replace(out, r"\s+", " "))


# ---------------------------------------------------------------------------
# Repetition-based quality filters (Gopher-style, Rae et al. 2021 §A1.1,
# adapted from character-fractions to word-count fractions since the
# corpus has no line structure). Pure Column code — per-row bounded work
# (O(distinct_words × words)), map-only, no shuffle, no Python.
# ---------------------------------------------------------------------------

# word-count adaptations of the published char-fraction cutoffs
# (top 2-gram 0.20, duplicated 3-gram 0.18)
TOP_2GRAM_MAX_FRAC = 0.20
DUP_3GRAM_MAX_FRAC = 0.18


def _ngrams(words: Column, n_words: Column, k: int) -> Column:
    """Array of k-word shingles; empty when the document is shorter than k.

    Built by zip_with-folding k shifted slices of the word array — 3-4×
    faster than the transform(sequence)/slice/concat_ws form, which
    allocates a k-element sub-array per output element.
    """
    m = n_words - (k - 1)
    out = F.slice(words, 1, m)
    for j in range(1, k):
        out = F.zip_with(
            out, F.slice(words, 1 + j, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(n_words < k, F.array().cast("array<string>")).otherwise(out)


def _top_frac(arr: Column) -> Column:
    """Fraction of elements equal to the most frequent element (ties
    irrelevant — only the max count matters). 0.0 for empty arrays.

    Computed as the longest run in the SORTED array via one aggregate()
    pass — O(n log n) per row. The naive distinct×filter nest is O(u×n)
    AND re-evaluates the (possibly expensive) input array expression once
    per distinct element, because higher-order-function lambdas re-expand
    their argument subtree — measured 20× slower on 2-gram arrays.
    """
    n = F.size(arr)
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc, x):
        run = F.when(x.eqNullSafe(acc.prev), acc.run + F.lit(1)).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc.best, run).alias("best")
        )

    best = F.aggregate(F.array_sort(arr), zero, step, lambda acc: acc.best)
    return F.when(n > 0, best / n).otherwise(F.lit(0.0))


def _dup_frac(arr: Column) -> Column:
    """Fraction of elements that are repeats of an earlier element:
    1 - distinct/total. 0.0 for empty arrays."""
    n = F.size(arr)
    return F.when(n > 0, F.lit(1.0) - F.size(F.array_distinct(arr)) / n).otherwise(
        F.lit(0.0)
    )


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document repetition statistics + a keep/drop verdict.

    Emits dup_word_frac, top_word_frac, dup_2gram_frac, top_2gram_frac,
    dup_3gram_frac, mean_word_len, and ``repetition_ok`` (true when
    top_2gram_frac ≤ 0.20 and dup_3gram_frac ≤ 0.18 — the Gopher cutoffs
    re-read as word-count fractions). Floats are rounded to 6 dp so a SQL
    engine computing the same definition matches value-for-value.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    words = F.when(F.length(F.trim(t)) == 0, F.array().cast("array<string>")).otherwise(
        F.split(F.lower(t), r"\s+")
    )
    n = F.size(words)
    g2 = _ngrams(words, n, 2)
    g3 = _ngrams(words, n, 3)
    top2 = _top_frac(g2)
    dup3 = _dup_frac(g3)
    mean_len = F.when(
        n > 0,
        F.aggregate(words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)) / n,
    ).otherwise(F.lit(0.0))
    return df.withColumns(
        {
            "dup_word_frac": F.round(_dup_frac(words), 6),
            "top_word_frac": F.round(_top_frac(words), 6),
            "dup_2gram_frac": F.round(_dup_frac(g2), 6),
            "top_2gram_frac": F.round(top2, 6),
            "dup_3gram_frac": F.round(dup3, 6),
            "mean_word_len": F.round(mean_len, 6),
            "repetition_ok": (top2 <= TOP_2GRAM_MAX_FRAC)
            & (dup3 <= DUP_3GRAM_MAX_FRAC),
        }
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary: global top-k words by frequency (tokenizer-training /
# stopword-discovery input). One explode + one combiner-backed hash
# aggregation on the word key, then TakeOrderedAndProject for the top-k —
# per-partition heads merged on the driver, so the full vocabulary is
# never sorted or collected. Ties break by word ascending (deterministic).
# ---------------------------------------------------------------------------


def vocab_top_words(df: DataFrame, k: int = 100, text_col: str = "text") -> DataFrame:
    words = F.explode(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    ).alias("word")
    counts = (
        df.select(words)
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return counts.orderBy(F.col("n").desc(), F.col("word")).limit(k)


# ---------------------------------------------------------------------------
# Corpus composition stats (the mixing-weights input for a training run):
# per (source, lang) document/token/char totals — one partial-aggregated
# shuffle on the tiny group key; every measure is map-side combined.
# ---------------------------------------------------------------------------


def corpus_stats(
    df: DataFrame,
    group_cols: tuple[str, ...] = ("source", "lang"),
    text_col: str = "text",
    rollup: bool = False,
) -> DataFrame:
    """Per-group composition totals; with ``rollup=True`` every GROUPING
    SETS level (per-group, per-prefix, grand total) comes out of the same
    single partial-aggregated pass."""
    grouped = df.rollup(*group_cols) if rollup else df.groupBy(*group_cols)
    return grouped.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(whitespace_token_count(text_col)).alias("n_tokens"),
        F.sum(F.length(F.coalesce(F.col(text_col), F.lit("")))).alias("n_chars"),
        F.avg(whitespace_token_count(text_col)).alias("avg_tokens"),
    )


# ---------------------------------------------------------------------------
# Per-document characteristic terms (TF-IDF-style): the corpus-curation
# primitive behind topic filtering and domain mixing.
# ---------------------------------------------------------------------------


def tfidf_top_terms(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k characteristic terms per document, scored tf/df
    (document-frequency-normalized term frequency).

    The idf factor is the DIVISION form rather than ln(N/df)
    deliberately: ÷ is IEEE-correctly-rounded and therefore
    bit-identical across engines, while ln() depends on the platform
    libm — this keeps the operator value-oracle-able (the DuckDB
    contract query recomputes the identical doubles). Monotone in the
    same direction as classic idf: rarer term → higher score.

    Scale shape: tokens explode map-side; ONE (doc,term) hash aggregate
    (tf); term frequencies derive from it with a term-keyed aggregate
    that is vocabulary-sized, not corpus-sized; the scoring join is
    term-keyed (AQE handles stop-word skew); per-doc top-k is a
    row_number window on doc_id with a deterministic (score desc, term)
    tie-break. No driver-side N: the score needs only tf and df.
    """
    from pyspark.sql.window import Window

    # fan-out guard: the token explode multiplies rows ~2 orders of
    # magnitude, so a narrow input (one small parquet file, or an
    # AQE-coalesced upstream output of 1-2 partitions) would run the
    # whole explode+aggregate on as many cores. Repartitioning the
    # PRE-explode rows is a cheap shuffle of the compact form (same
    # pattern as minhash_signatures).
    default_par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < default_par:
        df = df.repartition(default_par)
    tokens = (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    tf = tokens.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(dfreq, "term").withColumn(
        "score", F.col("tf") / F.col("df")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", F.round("score", 6).alias("score"), "rank")
    )


# ---------------------------------------------------------------------------
# Sequence packing (training-batch prep): assign documents to fixed
# token-budget bins in a deterministic order.
# ---------------------------------------------------------------------------


def pack_documents(
    df: DataFrame,
    target_tokens: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_cols: Sequence[str] = (),
    count_col: str | None = None,
) -> DataFrame:
    """Deterministic START-OFFSET packing: documents in ``id_col`` order
    are conceptually concatenated; a document's bin is the
    ``target_tokens`` window its first token falls in
    (bin = floor(prefix_sum / target)). This is the streaming
    concat-and-cut shape GPT-style dataloaders use, WITHOUT splitting a
    document across bins — so a bin can exceed the budget by at most
    one document tail (documented approximation; true greedy next-fit
    is a stateful sequential scan with no prefix-sum closed form, which
    is exactly why dataloaders concat-and-cut instead).

    Scale shape — pass ``shard_cols`` at any real scale: the prefix sum
    then runs per shard (``Window.partitionBy(*shard_cols)``), bins are
    numbered independently within each (shard, bin_idx) — a hash
    Exchange on the shard key, shards packed in parallel, which is what
    a real packing job does anyway for shuffle locality (source/date
    shards). With ``shard_cols=()`` (the oracle-parity default) the
    ordered prefix sum is inherently global and the window has ONE
    partition — correct, but a single-task sort: small/medium frames
    only. All-integer arithmetic → byte-identical across engines; both
    forms carry complete DuckDB value oracles in the contract.
    """
    from pyspark.sql.window import Window

    # count_col (e.g. size of a bpe_encode token array) packs by REAL
    # tokenizer counts; default = whitespace counts from the text
    toks = F.greatest(
        F.lit(1),
        F.col(count_col) if count_col else whitespace_token_count(text_col),
    )  # empty docs still occupy a slot
    base = (
        Window.partitionBy(*shard_cols) if shard_cols else Window
    )
    w = base.orderBy(id_col).rowsBetween(Window.unboundedPreceding, -1)
    prefix = F.coalesce(F.sum(toks).over(w), F.lit(0))
    return df.select(
        *[F.col(c) for c in shard_cols],
        F.col(id_col),
        toks.alias("n_tokens"),
        F.floor(prefix / target_tokens).cast("long").alias("bin_idx"),
    )


def pack_documents_split(
    df: DataFrame,
    target_tokens: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_cols: Sequence[str] = (),
) -> DataFrame:
    """TRUE concat-and-cut packing: documents in ``id_col`` order are
    concatenated into one token stream and cut into EXACT
    ``target_tokens`` bins, SPLITTING documents across bin boundaries —
    the actual GPT-dataloader shape (``pack_documents`` is the
    no-splitting approximation). Output: one row per (document, bin)
    overlap with the within-document token span ``[tok_start, tok_end)``
    that lands in the bin, so every bin except the stream's last holds
    exactly ``target_tokens`` tokens and every document's spans
    partition ``[0, n_tokens)``.

    All-integer Column arithmetic: the span explode is
    ``posexplode(sequence(first_bin, last_bin))`` — at most
    ``n_tokens/target + 2`` rows per document, map-side after the same
    prefix-sum window as ``pack_documents`` (per-shard with
    ``shard_cols``, single-partition otherwise — pass shard_cols at any
    real scale). Full DuckDB value oracle via generate_series.
    """
    from pyspark.sql.window import Window

    toks = F.greatest(F.lit(1), whitespace_token_count(text_col))
    base = Window.partitionBy(*shard_cols) if shard_cols else Window
    w = base.orderBy(id_col).rowsBetween(Window.unboundedPreceding, -1)
    prefix = F.coalesce(F.sum(toks).over(w), F.lit(0))
    staged = df.select(
        *[F.col(c) for c in shard_cols],
        F.col(id_col),
        toks.alias("n_tokens"),
        prefix.alias("_prefix"),
    )
    t = F.lit(target_tokens)
    first_bin = F.floor(F.col("_prefix") / t)
    last_bin = F.floor((F.col("_prefix") + F.col("n_tokens") - 1) / t)
    exploded = staged.select(
        *[F.col(c) for c in shard_cols],
        id_col,
        "n_tokens",
        "_prefix",
        F.explode(F.sequence(first_bin, last_bin)).alias("bin_idx"),
    )
    g_start = F.greatest(F.col("bin_idx") * t, F.col("_prefix"))
    g_end = F.least(
        (F.col("bin_idx") + 1) * t, F.col("_prefix") + F.col("n_tokens")
    )
    return exploded.select(
        *[F.col(c) for c in shard_cols],
        F.col(id_col),
        F.col("n_tokens"),
        F.col("bin_idx").cast("long").alias("bin_idx"),
        (g_start - F.col("_prefix")).cast("long").alias("tok_start"),
        (g_end - F.col("_prefix")).cast("long").alias("tok_end"),
    )


def corpus_logloss(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-unigram cross-entropy per document — the CCNet-style
    LM-perplexity quality proxy: bits_per_token = mean over the
    document's tokens of −log2(c_t / N), where c_t is the token's corpus
    count and N the corpus token total. Low = stereotypical text, high =
    rare-token-heavy (noise, other languages, gibberish) — the standard
    sort key for perplexity-bucketed filtering, computed from the corpus
    itself (no external LM; every token's count is ≥ 1, so no smoothing
    term is needed).

    Scale shape: tokens explode map-side; ONE vocabulary-sized hash
    aggregate for counts; the corpus total folds in as a one-row
    broadcast cross-join (never a driver action); a token-keyed join
    (AQE splits stop-word skew) and one per-doc aggregation. Documents
    with no tokens return NULL bits_per_token rather than vanishing.
    """
    tokens = df.select(
        F.col(id_col),
        F.explode(
            F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
        ).alias("_t"),
    ).filter(F.col("_t") != "")
    vocab = tokens.groupBy("_t").agg(F.count(F.lit(1)).alias("_c"))
    total = vocab.agg(F.sum("_c").alias("_n"))
    scored = tokens.join(vocab, "_t").crossJoin(F.broadcast(total))
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg(-F.log2(F.col("_c") / F.col("_n"))).alias("_bits"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.round("_bits", 6).alias("bits_per_token"),
        )
    )


def perplexity_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): rank
    documents by corpus-unigram cross-entropy (corpus_logloss) WITHIN
    each language and cut into n equal-count buckets — bucket 1 ("head")
    is the most-stereotypical third, bucket n ("tail") the noisiest.
    Tokenless docs (NULL bits) sort last; ties break by id so the
    assignment is engine-independent.

    This is the EXACT form: ntile over Window.partitionBy(group_col) —
    the window partition is bounded by the largest language, which is
    still corpus-scale at 100 TB. It exists for oracle parity and
    moderate data; the production path is perplexity_bucket_thresholds
    (two-pass approx-quantile thresholds, broadcast map-side assign, no
    large-partition window).
    """
    from pyspark.sql.window import Window

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    ll = corpus_logloss(df, text_col=text_col, id_col=id_col)
    scored = df.select(id_col, group_col).join(ll, id_col)
    w = Window.partitionBy(group_col).orderBy(
        F.col("bits_per_token").asc_nulls_last(), F.col(id_col)
    )
    return scored.select(
        F.col(id_col),
        F.col(group_col),
        F.col("bits_per_token"),
        F.ntile(n_buckets).over(w).cast("long").alias("bucket"),
    )


def perplexity_bucket_thresholds(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    n_buckets: int = 3,
    accuracy: int = 10_000,
) -> DataFrame:
    """Production-scale twin of perplexity_buckets: instead of an
    ntile window over a language-sized partition, compute per-language
    bucket-boundary VALUES with approx_percentile (one language-keyed
    hash aggregate over a GK sketch — mergeable, bounded memory), then
    assign bucket = 1 + count(thresholds < bits) map-side via a
    broadcast join of the (languages × n_buckets−1) threshold table.

    Semantics differ from the exact form only at ties/sketch error:
    equal bits always land in the same bucket here (value-based), while
    ntile splits tied runs to force equal counts. No corpus-scale window
    anywhere; the plan is scan → [logloss plan] → broadcast join →
    project (asserted in test_plans).
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    ll = corpus_logloss(df, text_col=text_col, id_col=id_col)
    scored = df.select(id_col, group_col).join(ll, id_col)
    qs = [i / n_buckets for i in range(1, n_buckets)]
    thresholds = scored.filter(F.col("bits_per_token").isNotNull()).groupBy(
        group_col
    ).agg(
        F.percentile_approx("bits_per_token", qs, accuracy).alias("_ths")
    )
    bucket = F.lit(1) + F.aggregate(
        F.coalesce(F.col("_ths"), F.array()),
        F.lit(0),
        lambda acc, th: acc
        + F.when(F.col("bits_per_token") > th, F.lit(1)).otherwise(F.lit(0)),
    )
    return (
        scored.join(F.broadcast(thresholds), group_col, "left")
        .select(
            F.col(id_col),
            F.col(group_col),
            F.col("bits_per_token"),
            F.when(F.col("bits_per_token").isNull(), F.lit(n_buckets))
            .otherwise(bucket)
            .cast("long")
            .alias("bucket"),
        )
    )


# ---------------------------------------------------------------------------
# Model-based quality filtering: linear / fastText-style classifier head
# ---------------------------------------------------------------------------


def linear_classifier_score(
    df: DataFrame,
    weights: DataFrame,
    bias: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    term_col: str = "term",
    weight_col: str = "weight",
    broadcast_weights: bool = True,
) -> DataFrame:
    """Apply a TRAINED linear text classifier at corpus scale — the
    scoring head of fastText-style quality filters (CCNet's "looks like
    Wikipedia" model, the GPT-3/LLaMA quality classifiers): for binary
    classification a bag-of-words fastText model collapses to one scalar
    weight per vocabulary term, so

        raw(d)   = bias + (1/n_d) · Σ_{tokens t of d} w(t)
        score(d) = sigmoid(raw(d))

    over lower-cased whitespace tokens, with out-of-vocabulary tokens
    contributing 0 (the left join below). ``weights`` is the exported
    (term, weight) table of the trained model — training happens
    offline; this operator is the 100-TB inference pass.

    Scale shape: tokens explode map-side; the weight table is
    vocabulary-sized (a fastText vocab is at most a few million rows —
    far under executor memory) and joins BROADCAST by default so corpus
    rows never shuffle for the lookup (set ``broadcast_weights=False``
    to let AQE decide for oversized vocabularies); one doc-id hash
    aggregation; the sigmoid is pure Column. Documents with no tokens
    keep raw = bias (an empty bag is a valid input, not a NULL), so
    every input row comes back scored. Outputs rounded to 6 decimals
    for cross-engine oracle stability.
    """
    tokens = df.select(
        F.col(id_col),
        F.explode(
            F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
        ).alias("_t"),
    ).filter(F.col("_t") != "")
    w = weights.select(
        F.col(term_col).alias("_t"), F.col(weight_col).alias("_w")
    )
    if broadcast_weights:
        w = F.broadcast(w)
    per_doc = (
        tokens.join(w, "_t", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(F.coalesce(F.col("_w"), F.lit(0.0))).alias("_mean_w"),
        )
    )
    raw = F.lit(float(bias)) + F.coalesce(F.col("_mean_w"), F.lit(0.0))
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.round(raw, 6).alias("raw_score"),
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-raw)), 6).alias("score"),
        )
    )


def bpe_merge_pairs(
    df: DataFrame, k: int = 100, text_col: str = "text"
) -> DataFrame:
    """Adjacent-token-pair frequencies — the statistic a byte-pair-
    encoding tokenizer's merge step maximizes (the first BPE training
    iteration over a word-level corpus; re-running after applying the
    winning merge yields the classic iterative trainer, with this
    operator as the distributed inner loop).

    Scale shape: the pair array reuses the HOF-safe zip_with fold
    (``_ngrams`` — arguments evaluated once, no per-element subtree
    re-expansion), built map-side from a MATERIALIZED filtered token
    column; one combiner-backed hash aggregation on the pair key; the
    global top-k compiles to TakeOrderedAndProject (map-side partial
    top-n — the vocabulary is never fully sorted or collected). Ties
    break by pair ascending for cross-engine determinism.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda w: w != F.lit(""),
    )
    pairs = (
        df.select(toks.alias("_ws"))
        .select(F.explode(_ngrams(F.col("_ws"), F.size("_ws"), 2)).alias("pair"))
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    return counts.orderBy(F.col("n").desc(), F.col("pair")).limit(k)


def bpe_train(
    df: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    min_count: int = 2,
    end_of_word: str = "▁",
) -> "list[dict]":
    """Learn a byte-pair-encoding merge list from the corpus — the
    distributed form of Sennrich et al. 2016's iterative trainer (the
    algorithm behind GPT-2/LLaMA-style tokenizers, here at word level
    with an end-of-word marker so merges never cross word boundaries).

    Returns the ordered merge list as ``[{"step", "left", "right",
    "merged", "count"}, ...]`` — a few-hundred-row model artifact (like
    ``linear_classifier_score``'s weight table, the model is
    driver-sized by definition; the corpus never is).

    Scale shape — the key property: the CORPUS is touched exactly once
    (one hash aggregation word → frequency); every merge iteration then
    runs on the VOCABULARY table, which is bounded (≤ a few million
    rows for any real corpus) and cached. Per iteration: one
    weighted-pair explode + hash agg over the vocab, ONE driver action
    (the argmax row — the PageRank one-action-per-iteration
    discipline), and a pure-Column fold (``F.aggregate``) rewrites the
    symbol arrays in place — no Python UDF anywhere, no corpus
    re-scan, no growing lineage (localCheckpoint per round). Ties
    break by (count desc, left asc, right asc) so the learned merge
    list is deterministic under any partitioning.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    spark_df = df.select(
        F.explode(
            F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
        ).alias("word")
    ).filter(F.col("word") != "")
    vocab = (
        spark_df.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        # symbols: characters + a terminal end-of-word marker
        .select(
            F.concat(
                F.split(F.col("word"), ""),
                F.array(F.lit(end_of_word)),
            ).alias("syms"),
            "n",
        )
        .localCheckpoint(eager=True)
    )

    merges: list[dict] = []
    for step in range(n_merges):
        pair_counts = (
            vocab.select(
                F.explode(
                    F.zip_with(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1),
                        lambda a, b: F.struct(
                            a.alias("left"), b.alias("right")
                        ),
                    )
                ).alias("pair"),
                "n",
            )
            .groupBy("pair.left", "pair.right")
            .agg(F.sum("n").alias("count"))
        )
        best = pair_counts.orderBy(
            F.col("count").desc(), F.col("left"), F.col("right")
        ).first()
        if best is None or best["count"] < min_count:
            break
        left, right = best["left"], best["right"]
        merged = left + right
        merges.append(
            {
                "step": step,
                "left": left,
                "right": right,
                "merged": merged,
                "count": int(best["count"]),
            }
        )
        # apply the merge: left-fold each symbol array, greedily joining
        # adjacent (left, right) occurrences left-to-right (the reference
        # algorithm's re.sub semantics) — pure Column, no UDF
        acc0 = F.array().cast("array<string>")
        step_fn = lambda acc, s: F.when(  # noqa: E731
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s)))
        vocab = vocab.select(
            F.aggregate(F.col("syms"), acc0, step_fn).alias("syms"), "n"
        ).localCheckpoint(eager=True)
    return merges


def bpe_encode(
    df: DataFrame,
    merges: "list[dict]",
    text_col: str = "text",
    end_of_word: str = "▁",
    output_col: str = "tokens",
) -> DataFrame:
    """Tokenize the corpus with a LEARNED BPE merge list (the inference
    half of ``bpe_train``): lower-case, whitespace-split, char-split
    each word (+ end-of-word marker), then apply the merges in rank
    order with the same greedy left-to-right semantics the trainer
    used — so encoding the training corpus reproduces the trainer's
    final vocabulary exactly (asserted in tests).

    Why a pandas UDF: applying an ARBITRARY-length learned merge list
    is an iterative per-word computation that bounded Column
    expressions cannot express (the per-merge fold works for one known
    merge, not a 32k-entry ranked list). This is the engine's
    established slow-path discipline (the mention scan): an
    Arrow-vectorized ``pandas_udf`` whose merge table ships once per
    executor in the task closure (model-sized, like the broadcast
    dictionary), with a per-batch WORD memo — natural-language batches
    repeat words heavily, so the merge loop runs once per distinct
    word per batch, not once per occurrence. Map-only: no shuffle, no
    driver action; composes with ``pack_documents`` for packing by
    true token counts.
    """
    import re

    from pyspark.sql.functions import pandas_udf

    ranked = [(m["left"], m["right"], m["merged"]) for m in merges]

    # no type hints on the UDF: under `from __future__ import annotations`
    # they are strings PySpark's hint inference cannot resolve here; the
    # explicit returnType selects the scalar pandas eval type
    @pandas_udf("array<string>")
    def _encode(texts):
        memo: dict = {}

        def encode_word(w):
            got = memo.get(w)
            if got is None:
                syms = list(w) + [end_of_word]
                for left, right, merged in ranked:
                    if len(syms) < 2:
                        break
                    out = []
                    for s in syms:
                        if out and out[-1] == left and s == right:
                            out[-1] = merged
                        else:
                            out.append(s)
                    syms = out
                got = memo[w] = syms
            return got

        # Java regex \s (the trainer's F.split) is ASCII-only — match it
        # exactly so encode ∘ train is self-consistent on any input
        ascii_ws = re.compile(r"[ \t\n\x0b\f\r]+")

        return texts.map(
            lambda t: [
                tok
                for w in ascii_ws.split(str(t or "").lower())
                if w
                for tok in encode_word(w)
            ]
        )

    return df.withColumn(output_col, _encode(F.col(text_col)))


def corpus_bigram_logloss(
    df: DataFrame,
    lam: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Interpolated bigram-LM cross-entropy per document — the order-2
    upgrade of ``corpus_logloss`` (one step toward CCNet's KenLM
    5-gram, still computed from the corpus itself, no external model):

        bits_per_pair(d) = mean over d's adjacent token pairs of
            −log2( λ·c(w1,w2)/c(w1,·) + (1−λ)·c(w2)/N )

    — a Jelinek-Mercer interpolation whose unigram floor keeps every
    probability positive, so unseen-bigram smoothing is inherent.
    Repetitive/boilerplate text scores low, rare-transition text high.

    Scale shape: the bigram array is the HOF-safe zip_with fold; the
    bigram-count and context-count aggregations shuffle on
    ``xxhash64`` of the words (raw text never a shuffle key — the
    line_dedup discipline); the unigram join is token-keyed (AQE
    splits stop-word skew); the corpus total folds in as a one-row
    broadcast cross-join; one per-doc aggregation. Documents with
    fewer than two tokens return NULL bits (n_pairs = 0), never
    vanish.
    """
    if not (0.0 < lam <= 1.0):
        raise ValueError(f"lam must be in (0, 1], got {lam}")
    words = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda w: w != F.lit(""),
    )
    wd = df.select(F.col(id_col), words.alias("_ws"))
    tokens = wd.select(id_col, F.explode("_ws").alias("_t"))
    uni = tokens.groupBy("_t").agg(F.count(F.lit(1)).alias("_cu"))
    total = uni.agg(F.sum("_cu").alias("_n"))
    # greatest(…, 0): a token-free document would otherwise pass slice a
    # negative length (the _ngrams guard, inlined)
    m = F.greatest(F.size("_ws") - 1, F.lit(0))
    pairs = wd.select(
        id_col,
        F.explode(
            F.zip_with(
                F.slice(F.col("_ws"), 1, m),
                F.slice(F.col("_ws"), 2, m),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("_p"),
    ).select(
        id_col,
        # w1 is only needed as a hash key — not carrying it trims the
        # shuffle row; w2 rides along for the unigram join
        F.col("_p.w2").alias("_w2"),
        F.xxhash64("_p.w1", "_p.w2").alias("_h12"),
        F.xxhash64("_p.w1").alias("_h1"),
    )
    bc = pairs.groupBy("_h12").agg(F.count(F.lit(1)).alias("_c12"))
    ctx = pairs.groupBy("_h1").agg(F.count(F.lit(1)).alias("_c1"))
    prob = F.lit(lam) * F.col("_c12") / F.col("_c1") + F.lit(1.0 - lam) * F.col(
        "_cu"
    ) / F.col("_n")
    per_doc = (
        pairs.join(bc, "_h12")
        .join(ctx, "_h1")
        .join(uni, pairs["_w2"] == uni["_t"])
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.avg(-F.log2(prob)).alias("_bits"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.round("_bits", 6).alias("bits_per_pair"),
        )
    )
