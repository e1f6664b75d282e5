"""Deduplication operators — canonical-key (A5) plus the document-dedup
family a training-data pipeline needs at 100 TB (exact, MinHash+LSH,
SimHash, n-gram Jaccard).

Design rules:
  * everything before the final shuffle is a map-side Column expression or
    an Arrow-batched pandas UDF — no per-row Python;
  * every shuffle key is a hash (uniform) or an LSH band bucket (bounded
    by band width), never raw text;
  * candidate generation (LSH banding) is separated from verification
    (exact similarity on candidate pairs only) so the O(n²) step never
    materializes.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the minimum id per exact text. One shuffle on the text hash
    (sha256 — uniform; the raw text never travels as a key)."""
    return (
        df.select(
            F.sha2(F.col(text_col), 256).alias("text_hash"), F.col(id_col)
        )
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# Shingling + MinHash + LSH banding
# ---------------------------------------------------------------------------

# Deterministic 64-bit mixing (splitmix64 finalizer) — portable across
# executors, no Python hash() randomization.
_MASK = (1 << 64) - 1


def _mix64(x: np.ndarray) -> np.ndarray:
    x = (x ^ (x >> 30)) * np.uint64(0xBF58476D1CE4E5B9) & np.uint64(_MASK)
    x = (x ^ (x >> 27)) * np.uint64(0x94D049BB133111EB) & np.uint64(_MASK)
    return x ^ (x >> 31)


# distinct odd multipliers per window position (splitmix-derived constants)
_POS_PRIMES = np.array(
    [0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
     0x27D4EB2F165667C5, 0x85EBCA77C2B2AE63, 0xFF51AFD7ED558CCD],
    dtype=np.uint64,
)


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Word k-shingles → uint64 hashes.

    Vectorized: one crc32 per WORD (C-speed), then the k-window combine is
    pure numpy (position-keyed multiply-xor, splitmix64 finalizer). Equal
    word windows ⇒ equal hashes; no per-byte Python loops.
    """
    import zlib

    words = text.lower().split()
    if not words:
        return np.zeros(0, dtype=np.uint64)
    wh = np.fromiter(
        (zlib.crc32(w.encode("utf-8")) for w in words),
        dtype=np.uint64,
        count=len(words),
    )
    wh = _mix64(wh + np.uint64(1))
    n = len(words)
    if n < k:
        k = n  # single whole-text shingle
    m = n - k + 1
    acc = np.zeros(m, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(k):
            acc ^= wh[j : j + m] * _POS_PRIMES[j % len(_POS_PRIMES)]
    return _mix64(acc)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    shingle_k: int = 3,
    drop_empty: bool = True,
) -> DataFrame:
    """(id, signature[array<long>]) via Arrow-batched pandas UDF.

    Signature j = min over shingles of mix64(shingle_hash ^ seed_j) —
    one permutation family, vectorized with numpy inside the batch.

    Documents with NO shingles (empty / whitespace-only text) are dropped
    by default: on a real web corpus they are numerous, all collide into
    the all-zero signature (every band identical), and would form one
    degenerate LSH bucket of millions of rows. Exact dedup is the right
    tool for them — they are byte-identical after trim. Pass
    drop_empty=False to restore the old emit-zero-signature behavior.

    An input with fewer partitions than the cluster's default parallelism
    (e.g. one small parquet file) is repartitioned first so the Arrow
    stage uses every core — the shuffle moves only (id, text) and is a
    no-op at production partition counts, where files >> cores.
    """
    default_par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < default_par:
        df = df.repartition(default_par)
    seeds = _mix64(np.arange(1, n_hashes + 1, dtype=np.uint64))
    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField("signature", ArrayType(LongType())),
        ]
    )

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sigs = [], []
            for i, text in zip(pdf[id_col], pdf[text_col].fillna("")):
                sh = _shingle_hashes(text, shingle_k)
                if len(sh) == 0:
                    if drop_empty:
                        continue
                    sig = np.zeros(len(seeds), dtype=np.uint64)
                else:
                    # outer xor then min → (n_hashes,) signature
                    sig = _mix64(sh[None, :] ^ seeds[:, None]).min(axis=1)
                ids.append(i)
                sigs.append(sig.astype(np.int64).tolist())
            if ids:  # an all-empty batch must yield nothing: an empty
                # dict-of-lists frame defaults to float64 columns, which
                # Arrow cannot cast to list<int64>
                yield pd.DataFrame({id_col: ids, "signature": sigs})

    return df.select(id_col, text_col).mapInPandas(gen, schema)


class _StaticLshMetrics:
    """Duck-typed stand-in for pyspark Observation when the probe proves
    no bucket exceeds the cap: ``.get`` is the metrics dict (Observation
    exposes ``.get`` as a property), already final at plan-build time."""

    def __init__(self, metrics: dict):
        self.get = metrics


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 16,
    sig_len: int | None = None,
    max_bucket_size: int | None = 256,
    eager_probe: bool = True,
    tag_star: bool = False,
) -> DataFrame:
    """Band the signatures and self-join on (band_idx, band_hash) buckets.

    ``tag_star=True`` adds a boolean ``_is_star`` column: True iff the
    pair exists ONLY as a star edge of an oversized bucket (a pair also
    found in any exhaustive small bucket is False — it was a genuine
    all-pairs candidate somewhere).

    NOTE — construction cost: with the DEFAULT arguments this function
    runs up to two small Spark jobs at plan-BUILD time (a one-row
    ``sig_len`` probe unless ``sig_len`` is passed, and a bucket-size
    probe unless ``eager_probe=False``); callers that build plans they
    may never execute should pass ``sig_len`` + ``eager_probe=False``,
    which makes construction job-free at the cost of always carrying the
    star-connect machinery (output is identical either way).

    Only rows sharing a full band collide → candidate pair (id_a < id_b).
    The shuffle key is the band hash (uniform for distinct documents).

    Degenerate-cluster guard: a 100-TB web corpus reliably contains
    100k+-member clusters of byte-near-identical boilerplate; those
    collide in EVERY band, and emitting all intra-bucket pairs is
    C(C−1)/2 rows of OUTPUT — AQE can split the join but cannot shrink
    the result. Buckets larger than ``max_bucket_size`` therefore
    star-connect instead: each member pairs only with the bucket's
    minimum id (O(C) edges). CANDIDATE connectivity is preserved exactly
    (every member still reaches the same representative); only the
    exhaustive pair REPORT inside oversized buckets is truncated. That
    claim is scoped to candidate pairs PRE-verification: a downstream
    Jaccard filter sees only the star edges, so a member whose edge to
    the representative fails the threshold would lose bucket
    connectivity even when member–member pairs would have passed —
    ``minhash_dedup_pairs`` compensates with a re-star recovery round
    over failed star edges (``tag_star=True`` emits the ``_is_star``
    column it needs).
    The number of truncated buckets is published as the observation
    metric ``n_truncated_buckets`` on the returned frame's
    ``_lsh_observation`` attribute (readable after any action, costs no
    extra job); pass max_bucket_size=None for unconditional all-pairs.

    The banded frame — (id, band_idx, band_hash) per band, repartitioned
    on the bucket key — is persisted (LAZY — plan construction stays
    free, the first action populates the cache): it feeds the
    bucket-size probe, BOTH sides of the self-join
    and the star path's window, which all need its partitioning, so the
    upstream pandas-UDF minhash stage runs once rather than 2-3× per
    action (measured 40% of pipeline time at sf0.1 when recomputed).
    Cache cost is O(rows × n_bands) rows — independent of text size;
    MEMORY_AND_DISK spills instead of OOMing. The self-join over the
    co-partitioned cache has no exchange for AQE to re-split, so the
    oversized-bucket cap is its skew defense. The star path caches its
    window-tagged frame (bucket size and minimum id per row) as well, and
    a call releases the previous call's caches when it starts.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Observation

    from ._persist import register_persisted, rotate_persisted

    # evict the PREVIOUS call's cached banded/window frames so repeated
    # pipeline invocations in one session stay bounded (round-5 ADVICE
    # on the setsim twin of this persist)
    rotate_persisted("lsh_candidate_pairs")
    if sig_len is None:
        # probe one row (computes + caches one partition, not the corpus).
        # Callers that know the signature width pass sig_len to skip this —
        # the serial single-partition probe costs ~20% of a cold pipeline.
        first = signatures.select(F.size("signature").alias("n")).first()
        sig_len = first["n"] if first is not None else n_bands
    if sig_len < n_bands:
        raise ValueError(
            f"signature length {sig_len} < n_bands={n_bands}: every band "
            "would hash an empty slice and all documents would collide into "
            "one bucket"
        )
    rows_per_band = sig_len // n_bands
    # band hash = xxhash64 of the raw long-array slice: no string concat,
    # no cryptographic hash — bucketing only needs uniformity, and the
    # join key includes band_idx so cross-band collisions are impossible.
    # The when/raise_error keeps a caller-supplied sig_len honest: a
    # signature whose actual length disagrees fails loudly instead of
    # silently hashing wrong slices (which could defeat the n_bands guard).
    band_hash = F.when(
        F.size("signature") == sig_len,
        F.xxhash64(F.col("_slice")),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"lsh_candidate_pairs: sig_len={sig_len} but signature has "),
                F.size("signature").cast("string"),
                F.lit(" elements"),
            )
        ).cast("long")
    )
    # The banded frame is repartitioned on the bucket key and THAT is
    # what gets cached (LAZY — the first action populates it): every
    # consumer — the bucket-size probe's aggregation, both sides of the
    # candidate self-join, and the star path's window — needs exactly
    # this HashPartitioning, so with the cache reporting it none of them
    # plans its own Exchange (guide §2.4: two operations keyed the same
    # way share one exchange). Replaces the former signature-frame
    # persist: signatures feed nothing but the banding, while the banded
    # cache is (id, band_idx, band_hash) per band — the same O(rows ×
    # n_bands) magnitude, spilled by MEMORY_AND_DISK instead of OOMing.
    # Trade-off, documented: a co-partitioned join has no exchange for
    # AQE to re-split, so the oversized-bucket cap (on by default) is
    # the skew defense; max_bucket_size=None callers opt into quadratic
    # buckets with or without AQE.
    banded = (
        signatures.select(
            F.col(id_col),
            F.col("signature"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_bands - 1)),
                    lambda b: F.slice(
                        F.col("signature"), b * rows_per_band + 1, rows_per_band
                    ),
                )
            ).alias("band_idx", "_slice"),
        )
        .select(F.col(id_col), "band_idx", band_hash.alias("band_hash"))
        .repartition("band_idx", "band_hash")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    register_persisted("lsh_candidate_pairs", banded)
    static_metrics = None
    if max_bucket_size is not None and eager_probe:
        # one cheap probe action (map + two-level agg over cached
        # signatures, no window/join) decides the plan: when NO bucket
        # exceeds the cap — the overwhelmingly common case — the lean
        # uncapped self-join below is emitted, whose output is IDENTICAL
        # (all-pairs everywhere) but ~2× cheaper in fixed stage overhead;
        # only a corpus that actually contains a degenerate bucket pays
        # for the star-connect machinery.
        biggest = (
            banded.groupBy("band_idx", "band_hash")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.max("c"))
            .first()[0]
        )
        if biggest is None or biggest <= max_bucket_size:
            max_bucket_size = None
            static_metrics = {
                "n_truncated_buckets": 0,
                "max_bucket_size": biggest,
            }
    if max_bucket_size is None:
        left = banded.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
        right = banded.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
        out = (
            left.join(right, ["band_idx", "band_hash"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        if tag_star:  # no oversized buckets → nothing is star-only
            out = out.withColumn("_is_star", F.lit(False))
        if static_metrics is not None:
            out._lsh_observation = _StaticLshMetrics(static_metrics)  # type: ignore[attr-defined]
        return out
    # bucket size + representative via ONE window over the same keys the
    # self-join shuffles on — no separate stats aggregate, no join back
    # (measured ~2× cheaper than the groupBy+join tagging at sf0.1; the
    # stats side would also be bucket-cardinality rows, i.e. corpus-scale
    # at 100 TB, so there is no broadcast shortcut)
    from pyspark.sql.window import Window

    w = Window.partitionBy("band_idx", "band_hash")
    tagged = banded.select(
        F.col(id_col),
        "band_idx",
        "band_hash",
        F.count(F.lit(1)).over(w).alias("_bsize"),
        F.min(id_col).over(w).alias("_bmin"),
    )
    # tagged feeds three subtrees (self-join left/right + star branch);
    # only its Exchange is reusable — the Sort+Window would run three
    # times. LAZY cache computes the window once; footprint is
    # n_bands × rows × ~50 B, same magnitude as the banded cache,
    # MEMORY_AND_DISK spills instead of OOMing.
    tagged = register_persisted(
        "lsh_candidate_pairs", tagged.persist(StorageLevel.MEMORY_AND_DISK)
    )
    small = tagged.filter(F.col("_bsize") <= max_bucket_size)
    # the observe node lives ONLY on the big branch (a plan may not carry
    # the same CollectMetrics twice, and tagged feeds three subtrees);
    # metrics therefore read 0/None when nothing was truncated
    obs = Observation("lsh_buckets")
    big = tagged.filter(F.col("_bsize") > max_bucket_size).observe(
        obs,
        F.sum(F.when(F.col(id_col) == F.col("_bmin"), 1).otherwise(0)).alias(
            "n_truncated_buckets"
        ),
        F.max("_bsize").alias("max_bucket_size"),
    )
    left = small.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    right = small.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    small_pairs = (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    # star edges: O(C) rows, _bmin < id always (it is the bucket minimum)
    star_pairs = big.filter(F.col(id_col) != F.col("_bmin")).select(
        F.col("_bmin").alias("id_a"), F.col(id_col).alias("id_b")
    )
    if tag_star:
        # bool_and: star-only iff EVERY occurrence of the pair was a star
        # edge — same single shuffle as the distinct it replaces
        out = (
            small_pairs.withColumn("_is_star", F.lit(False))
            .union(star_pairs.withColumn("_is_star", F.lit(True)))
            .groupBy("id_a", "id_b")
            .agg(F.bool_and("_is_star").alias("_is_star"))
        )
    else:
        out = small_pairs.union(star_pairs).distinct()
    out._lsh_observation = obs  # type: ignore[attr-defined]
    return out


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    n_bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Full near-dup pipeline: shingle → minhash → LSH bands → candidate
    pairs → verify with exact word-shingle Jaccard ≥ threshold.

    Verification computes each document's distinct shingle SET once
    (O(corpus), not O(pairs) — building shingles per pair row measured
    9× slower on a 250k-candidate corpus) and joins the sets to the
    candidate ids (two shuffle-or-broadcast hash joins on ids, array
    payload ≈ text size); exact Jaccard is then two array intersect/
    union size ops per pair. Empty/whitespace docs never enter the LSH
    (minhash_signatures drops no-shingle docs — exact dedup's job), and
    buckets over max_bucket_size star-connect (see lsh_candidate_pairs)
    so degenerate duplicate clusters cost O(C) candidate pairs, not
    O(C²).

    Re-star recovery (star buckets only): a star edge that FAILS the
    Jaccard threshold means the bucket's minimum id was not actually
    similar to that member (band buckets are unverified collisions) —
    dropping the edge outright would disconnect members whose
    member–member similarity is real. One recovery round therefore
    re-stars the failed members of each representative onto their own
    minimum id and verifies those edges too, so a two-cluster bucket
    (e.g. one false-collision outlier as the minimum) keeps its true
    cluster connected. Buckets conflating 3+ distinct clusters can
    still lose edges — a static plan cannot recurse; the recovery round
    is built only when the oversized-bucket machinery engaged, so the
    common no-degenerate-bucket plan stays lean.
    """
    from pyspark.sql import Observation

    sigs = minhash_signatures(df, text_col, id_col, n_hashes, shingle_k)
    cands = lsh_candidate_pairs(
        sigs, id_col, n_bands, sig_len=n_hashes,
        max_bucket_size=max_bucket_size, tag_star=True,
    )
    sets = df.select(
        F.col(id_col),
        F.array_distinct(word_shingles_col(text_col, shingle_k)).alias("_sset"),
    )
    obs = getattr(cands, "_lsh_observation", None)
    out = _verify_pairs(
        cands, sets, threshold,
        re_star=isinstance(obs, Observation),
    )
    # propagate the truncation observation so pipeline callers can log
    # n_truncated_buckets after their action (zero extra jobs)
    if obs is not None:
        out._lsh_observation = obs  # type: ignore[attr-defined]
    return out


def _verify_pairs(
    cands: DataFrame, sets: DataFrame, threshold: float, re_star: bool
) -> DataFrame:
    """Exact-Jaccard verification of tagged candidate pairs, with one
    re-star recovery round over failed star edges when ``re_star``
    (see minhash_dedup_pairs). ``cands``: (id_a, id_b, _is_star);
    ``sets``: (id, _sset) distinct-shingle arrays."""

    def _jaccard(pairs: DataFrame) -> DataFrame:
        inter = F.size(F.array_intersect("_sa", "_sb")).cast("double")
        union = F.size(F.array_union("_sa", "_sb")).cast("double")
        return pairs.withColumn(
            "jaccard", F.when(union > 0, inter / union).otherwise(F.lit(0.0))
        )

    id_col = sets.columns[0]
    sets_a = sets.withColumnsRenamed({id_col: "id_a", "_sset": "_sa"})
    sets_b = sets.withColumnsRenamed({id_col: "id_b", "_sset": "_sb"})
    pairs = _jaccard(cands.join(sets_a, "id_a").join(sets_b, "id_b"))
    if not re_star:
        return pairs.filter(F.col("jaccard") >= threshold).select(
            "id_a", "id_b", "jaccard"
        )
    # the scored frame feeds BOTH the passed filter and the failed-star
    # recovery branch — without materialization the two candidate-scale
    # verification joins (and their array payloads) execute twice per
    # action. Project away the shingle arrays first so only the slim
    # (ids, star flag, jaccard) rows are stored; lazy checkpoint, so the
    # caller's first action computes the join exactly once (measured
    # ~1 s off the 10×-docs pipeline; the candidate join, not the
    # verification, dominates that anchor).
    pairs = pairs.select("id_a", "id_b", "_is_star", "jaccard").localCheckpoint(
        eager=False
    )
    passed = pairs.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )
    failed_star = pairs.filter(
        (F.col("jaccard") < threshold) & F.col("_is_star")
    ).select("id_a", "id_b")
    # new representative per old representative: min of its failed members
    rep = failed_star.groupBy("id_a").agg(F.min("id_b").alias("_rep"))
    re_pairs = (
        failed_star.join(rep, "id_a")
        .filter(F.col("id_b") != F.col("_rep"))
        .select(F.col("_rep").alias("id_a"), "id_b")
    )
    re_passed = (
        _jaccard(re_pairs.join(sets_a, "id_a").join(sets_b, "id_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # a recovered pair can coincide with an already-passed candidate
    # (identical jaccard — same expression over the same sets)
    return passed.union(re_passed).distinct()


# ---------------------------------------------------------------------------
# n-gram Jaccard (pure Column expression — JVM-side, codegen-friendly)
# ---------------------------------------------------------------------------


def word_shingles_col(text_col: str, k: int):
    """array of word k-shingles as a Column expression (no UDF).

    Built by zip_with-folding k shifted slices of the word array (the
    same shape as text._ngrams): zip_with evaluates its ARGUMENTS once
    per row and only the lambda per element. The previous
    transform(sequence)/slice/concat_ws form re-expanded the split()
    subtree per output element (HOF lambdas re-evaluate argument
    subtrees), making verification O(words²) per candidate pair —
    measured 60× slower on a 50k-doc corpus with 250k candidates."""
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    n = F.size(words)
    m = n - (k - 1)
    out = F.slice(words, 1, m)
    for j in range(1, k):
        out = F.zip_with(
            out, F.slice(words, 1 + j, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(n < k, F.array(F.concat_ws(" ", words))).otherwise(out)


def ngram_jaccard_col(text_a: str, text_b: str, k: int = 3):
    a = F.array_distinct(word_shingles_col(text_a, k))
    b = F.array_distinct(word_shingles_col(text_b, k))
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# SimHash (64-bit, word-feature) — pure Column expression
# ---------------------------------------------------------------------------


def md5_60bit(c):
    """60-bit hash both Spark and DuckDB can compute identically: the
    first 15 hex chars of md5 as an integer (Spark: conv(_, 16, 10);
    DuckDB: CAST('0x' || substr(md5(_), 1, 15) AS BIGINT)). Used to give
    simhash/fingerprint contract queries a REAL value oracle; production
    default stays xxhash64 (faster, 64-bit, but not in DuckDB)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def simhash_col(text_col: str, hash_fn=F.xxhash64):
    """64-bit SimHash over word features using hash_fn (default xxhash64,
    JVM-side).

    For each bit position, sum ±1 over features and take the sign. The
    whole computation is aggregate/transform Column code — stays inside
    whole-stage codegen, no Python.
    """
    def shl(one, b):
        # F.shiftleft only takes a Python int shift; the SQL function takes
        # a column — call it directly.
        return F.call_function("shiftleft", one, b)

    words = F.array_distinct(F.split(F.lower(F.col(text_col)), r"\s+"))
    hashes = F.transform(words, lambda w: hash_fn(w))
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda b: F.when(
            F.aggregate(
                hashes,
                F.lit(0),
                lambda acc, h: acc
                + F.when(h.bitwiseAND(shl(F.lit(1).cast("long"), b)) != 0, 1).otherwise(-1),
            )
            > 0,
            shl(F.lit(1).cast("long"), b),
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc.bitwiseOR(x))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_blocks: int = 4,
    allow_partial_recall: bool = False,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Near-dup pairs by SimHash with block-permuted banding: split the
    64-bit hash into n_blocks; by pigeonhole, any pair within max_hamming
    (< n_blocks) shares at least one exact block → join per block, verify
    Hamming distance exactly.

    Same degenerate-cluster guard as lsh_candidate_pairs: a block bucket
    larger than max_bucket_size (boilerplate near-identical docs all share
    every block) star-connects members to the bucket's min id instead of
    emitting C(C−1)/2 pairs — components are preserved, the exhaustive
    pair report inside oversized buckets is truncated (None disables)."""
    if max_hamming >= n_blocks:
        # pigeonhole only guarantees a shared block for hamming < n_blocks;
        # beyond that the result is candidates-that-share-a-block, not "all
        # pairs within max_hamming" — callers must opt in explicitly
        if not allow_partial_recall:
            raise ValueError(
                f"max_hamming={max_hamming} >= n_blocks={n_blocks}: recall is "
                "not guaranteed; pass allow_partial_recall=True to accept "
                "shared-block candidates only, or raise n_blocks"
            )
    width = 64 // n_blocks
    h = df.select(F.col(id_col), simhash_col(text_col).alias("simhash"))
    blocks = h.select(
        id_col,
        "simhash",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_blocks - 1)),
                lambda b: F.call_function(
                    "shiftrightunsigned", F.col("simhash"), b * width
                ).bitwiseAND(F.lit((1 << width) - 1).cast("long")),
            )
        ).alias("block_idx", "block_val"),
    )
    if max_bucket_size is None:
        left = blocks.select(
            F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "block_idx", "block_val"
        )
        right = blocks.select(
            F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "block_idx", "block_val"
        )
        cand = (
            left.join(right, ["block_idx", "block_val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sim_a", "sim_b")
            .distinct()
        )
    else:
        # same window tagging as lsh_candidate_pairs; the min-id struct
        # carries that row's simhash so star edges stay verifiable
        # without another join
        from pyspark.sql.window import Window

        w = Window.partitionBy("block_idx", "block_val")
        mn = F.min(F.struct(F.col(id_col), F.col("simhash"))).over(w)
        tagged = blocks.select(
            F.col(id_col),
            "simhash",
            "block_idx",
            "block_val",
            F.count(F.lit(1)).over(w).alias("_bsize"),
            mn.getField(id_col).alias("_bmin"),
            mn.getField("simhash").alias("_bmin_sim"),
        )
        from pyspark import StorageLevel

        from ._persist import register_persisted, rotate_persisted

        # same three-subtree reuse problem as lsh_candidate_pairs —
        # cache so the window runs once; rotate so repeated calls in
        # one session don't accumulate cached generations
        rotate_persisted("simhash_blocks")
        tagged = register_persisted(
            "simhash_blocks", tagged.persist(StorageLevel.MEMORY_AND_DISK)
        )
        small = tagged.filter(F.col("_bsize") <= max_bucket_size)
        big = tagged.filter(F.col("_bsize") > max_bucket_size)
        left = small.select(
            F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "block_idx", "block_val"
        )
        right = small.select(
            F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "block_idx", "block_val"
        )
        small_cand = (
            left.join(right, ["block_idx", "block_val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sim_a", "sim_b")
        )
        star_cand = big.filter(F.col(id_col) != F.col("_bmin")).select(
            F.col("_bmin").alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.col("_bmin_sim").alias("sim_a"),
            F.col("simhash").alias("sim_b"),
        )
        cand = small_cand.union(star_cand).distinct()
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution: near-dup PAIRS → connected components with
# a canonical representative (min id) per cluster — the step that turns
# pairwise similarity into "keep one, drop the rest".
# ---------------------------------------------------------------------------


def dup_clusters(
    pairs: DataFrame,
    max_iterations: int = 32,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """(doc_id, cluster_id) for every id in ``pairs``; cluster_id = the
    minimum id reachable through the undirected pair graph.

    Iterative min-label propagation (the standard Spark
    connected-components loop): each round every node adopts the minimum
    label in its neighborhood; converges in O(component diameter) rounds
    — near-dup components are tiny (dup clusters), so this is 2-4 rounds
    in practice. localCheckpoint per round keeps plans flat; one shuffle
    per round on the node id.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.min("dst"), F.first("src")).alias("label"))
        .select(F.col("src").alias("id"), "label")
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # LAZY checkpoint fused with the convergence probe: the probe both
        # materializes the new labels' cached blocks and answers "did
        # anything change" — one job and one computation of new_labels per
        # round (eager + separate probe computed it twice)
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias(
                    "new_label"
                ),
            )
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.join(labels, "id")
            .filter(F.col("new_label") != F.col("label"))
            .limit(1)
            .count()
        )
        labels = new_labels.select("id", F.col("new_label").alias("label"))
        if changed == 0:
            break
    else:
        # a component with diameter > max_iterations has NOT converged —
        # silently returning split clusters with wrong representatives is
        # worse than failing (same for/else contract as transitive_closure)
        raise RuntimeError(
            f"dup_clusters did not converge within {max_iterations} rounds "
            "— a component's diameter exceeds max_iterations; raise "
            "max_iterations (rounds needed = O(component diameter))"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def dedup_keep_one(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Near-dup resolution to a keep/drop decision: every document gets
    (doc_id, cluster_id, keep) where cluster_id is the min id reachable
    through the near-dup pair graph (dup_clusters) and keep is true only
    for the cluster representative (the min id). Documents in no pair are
    their own singleton cluster and are kept.

    Composition shape: dup_clusters' label propagation (O(diameter)
    rounds) + one broadcast-able left join back to the corpus — the
    droplist stays cluster-bounded, never corpus-scale in memory."""
    clusters = dup_clusters(pairs, id_a=id_a, id_b=id_b)
    ids = docs.select(F.col(id_col))
    labeled = ids.join(
        clusters.withColumnRenamed("doc_id", id_col), id_col, "left"
    ).select(
        id_col,
        F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
    )
    return labeled.select(
        id_col,
        "cluster_id",
        (F.col(id_col) == F.col("cluster_id")).alias("keep"),
    )


def contamination_flags(
    corpus: DataFrame,
    benchmark: DataFrame,
    shingle_k: int = 5,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination detection: flag corpus documents sharing
    ≥ min_hits word k-shingles with ANY benchmark document (the standard
    decontamination pass before training).

    Scale shape: the benchmark shingle set is small (eval sets are) —
    hash-dedup it, BROADCAST it, and probe each corpus document's
    exploded shingles map-side; one shuffle on doc_id for the hit count.
    Never pairs corpus docs with benchmark docs row-by-row — the join key
    is the shingle, the benchmark side is the broadcast build side.
    Returns (doc_id, n_hits) for contaminated docs only.
    """
    bench_shingles = (
        benchmark.select(
            F.explode(F.array_distinct(word_shingles_col(text_col, shingle_k))).alias(
                "shingle"
            )
        )
        .distinct()
    )
    corpus_shingles = corpus.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_shingles_col(text_col, shingle_k))).alias(
            "shingle"
        ),
    )
    hits = corpus_shingles.join(F.broadcast(bench_shingles), "shingle")
    return (
        hits.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") >= min_hits)
    )


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.5,
    shingle_k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "doc_id",
) -> DataFrame:
    """Per-(corpus doc, benchmark doc) n-gram CONTAINMENT scores — the
    fuzzy decontamination pass (Dolma/GPT-3-style): a corpus document is
    contaminated by a benchmark item when it contains ≥ ``threshold`` of
    the item's word k-shingles, even if no shingle-for-shingle exact
    document match exists.

    Complements ``contamination_flags`` (ANY-hit boolean): this one
    attributes contamination to the specific benchmark item and scores
    it, so a pipeline can drop on ``containment ≥ t`` instead of a raw
    hit count that long documents trip by chance.

    Scale shape: benchmark shingles (small side) carry their item id and
    per-item shingle count, are hash-deduped and BROADCAST; corpus
    shingles probe them map-side; ONE shuffle — the (doc, bench) hash
    agg — then the containment filter. Exact (no sketching), so the
    DuckDB oracle recomputes the identical scores.

    Returns (doc_id, bench_id, n_shared, bench_size, containment ∈
    (0,1]) for pairs at or above the threshold.
    """
    bench = (
        benchmark.select(
            F.col(bench_id_col).alias("bench_id"),
            F.explode(F.array_distinct(word_shingles_col(text_col, shingle_k))).alias(
                "shingle"
            ),
        )
        .distinct()
    )
    bench_sizes = bench.groupBy("bench_id").agg(
        F.count(F.lit(1)).alias("bench_size")
    )
    corpus_shingles = corpus.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_shingles_col(text_col, shingle_k))).alias(
            "shingle"
        ),
    )
    shared = (
        corpus_shingles.join(F.broadcast(bench), "shingle")
        .groupBy(id_col, "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    out = shared.join(F.broadcast(bench_sizes), "bench_id")
    containment = F.col("n_shared") / F.col("bench_size").cast("double")
    return out.select(
        F.col(id_col),
        "bench_id",
        F.col("n_shared").cast("long").alias("n_shared"),
        F.col("bench_size").cast("long").alias("bench_size"),
        containment.alias("containment"),
    ).filter(F.col("containment") >= F.lit(threshold))


# ---------------------------------------------------------------------------
# C4-style line deduplication: drop every line occurring (as an exact
# match) in at least `min_docs` distinct documents — the boilerplate
# removal pass (nav bars, cookie banners, license headers) the C4/
# RefinedWeb pipelines run before near-dup.
# ---------------------------------------------------------------------------


def line_dedup(
    df: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """(id, text) with every ``sep``-separated segment that appears in
    ≥ ``min_docs`` DISTINCT documents removed; remaining segments are
    rejoined in their original order (a document may come back empty —
    length filters run downstream). ``sep`` is a LITERAL separator on
    both the split and the rejoin (the split pattern is Pattern.quote-d,
    so ``sep='.'`` or ``'|'`` splits on the character, not the regex).

    Scale shape: segments explode map-side with their position; the
    frequency table is keyed by the segment's xxhash64 (the raw text
    never becomes a shuffle key) and aggregated with count_distinct on
    the doc id — segment-cardinality rows, corpus-bounded; the verdict
    joins back on the hash (AQE handles boilerplate skew: a segment in
    millions of docs is ONE row on the build side); reassembly is one
    groupBy on the doc id with an array_sort over (pos, segment)
    structs, deterministic under any partitioning.
    """
    # F.split takes a Java REGEX but concat_ws rejoins with the LITERAL —
    # Pattern.quote the separator so both sides agree (ADVICE r4: sep='.'
    # or '|' previously split on the regex and corrupted rebuilt docs)
    quoted_sep = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    segs = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(quoted_sep), -1)).alias(
            "_pos", "_seg"
        ),
    ).withColumn("_h", F.xxhash64("_seg"))
    freq = segs.groupBy("_h").agg(
        F.count_distinct(F.col(id_col)).alias("_ndocs")
    )
    kept = segs.join(freq, "_h").filter(F.col("_ndocs") < min_docs)
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("_pos", "_seg"))).alias("_rows")
        )
        .select(
            F.col(id_col),
            F.concat_ws(
                sep, F.transform(F.col("_rows"), lambda r: r._seg)
            ).alias(text_col),
        )
    )
    # documents whose every segment was boilerplate come back EMPTY, not
    # silently dropped
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(id_col, F.coalesce(text_col, F.lit("")).alias(text_col))
    )


# ---------------------------------------------------------------------------
# Exact-substring duplicated spans (ExactSubstr — Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better")
# ---------------------------------------------------------------------------


def _positional_shingles(toks_col, k: int):
    """Array of word k-grams in document order, built by zip_with-folding
    k shifted slices of the token array (same HOF-safe shape as
    word_shingles_col — zip_with evaluates its arguments once per row).
    Element i is the gram STARTING at 0-based token index i, so
    posexplode yields (start_index, gram) directly. Documents shorter
    than k tokens produce an EMPTY array (no k-gram exists — unlike
    word_shingles_col's whole-doc fallback, which suits Jaccard but not
    exact-substring semantics)."""
    n = F.size(toks_col)
    m = n - (k - 1)
    out = F.slice(toks_col, 1, m)
    for j in range(1, k):
        out = F.zip_with(
            out, F.slice(toks_col, 1 + j, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(n >= k, out).otherwise(
        F.array().cast("array<string>")
    )


def _doc_tokens(text_col: str):
    """Whitespace tokens with empties dropped — identical on both engines
    (DuckDB: list_filter(string_split_regex(text,'\\s+'), x -> x <> ''))."""
    return F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
        lambda x: x != F.lit(""),
    )


def _dup_span_segments(df, k, text_col, id_col):
    """(id, _pos, _h) exploded token-k-grams hashed map-side plus the
    gram-hash frequency table (count_distinct docs). The raw gram text
    never becomes a shuffle key — only its xxhash64 (same discipline as
    line_dedup)."""
    segs = df.select(
        F.col(id_col),
        F.posexplode(
            _positional_shingles(_doc_tokens(text_col), k)
        ).alias("_pos", "_gram"),
    ).select(F.col(id_col), "_pos", F.xxhash64("_gram").alias("_h"))
    freq = segs.groupBy("_h").agg(
        F.count_distinct(F.col(id_col)).alias("_nd")
    )
    return segs, freq


def duplicate_span_stats(
    df: DataFrame,
    k: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-span statistics at word granularity:
    (id, n_grams, dup_grams, dup_fraction) where a token k-gram is
    "duplicated" when it occurs in ≥ ``min_docs`` DISTINCT documents —
    the ExactSubstr criterion of Lee et al. 2022 (suffix-array
    deduplicate-text-datasets), re-expressed as a distributed
    shuffle-on-gram-hash instead of a single-node suffix array.
    Documents with fewer than k tokens report 0 grams (never dropped).

    Scale shape: grams explode map-side and are hashed immediately
    (xxhash64 — raw n-gram text never crosses the shuffle); the
    frequency table is gram-cardinality, aggregated with a map-side
    partial count_distinct; the verdict joins back on the hash (AQE
    skew-handles boilerplate grams) and the per-doc rollup is one hash
    aggregation on the doc id. At 100 TB the gram table is ~tokens×k
    bytes; k-gram hashing keeps rows at 20 bytes each, and min_docs
    filtering happens AFTER the frequency agg so no candidate is lost.
    """
    # collapse to per-(doc, gram-hash) occurrence counts FIRST: the
    # frequency table then needs one plain count over already-distinct
    # (id,_h) rows instead of the two-level count_distinct rewrite, the
    # verdict join probes per-(doc,gram) rows instead of per-OCCURRENCE
    # rows, and the per-doc rollup aggregates the collapsed counts.
    # Occurrence semantics are preserved exactly by summing the per-doc
    # counts (measured 6.1 s → 4.6 s on the 10× span anchor).
    segs, _ = _dup_span_segments(df, k, text_col, id_col)
    g = segs.groupBy(id_col, "_h").agg(F.count(F.lit(1)).alias("_c"))
    freq = g.groupBy("_h").agg(F.count(F.lit(1)).alias("_nd"))
    st = (
        g.join(freq, "_h")
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_grams"),
            F.sum(
                F.when(F.col("_nd") >= min_docs, F.col("_c")).otherwise(F.lit(0))
            ).alias("dup_grams"),
        )
    )
    zero = F.lit(0).cast("long")
    n_g = F.coalesce(F.col("n_grams"), zero)
    d_g = F.coalesce(F.col("dup_grams"), zero)
    return (
        df.select(id_col)
        .join(st, id_col, "left")
        .select(
            F.col(id_col),
            n_g.alias("n_grams"),
            d_g.alias("dup_grams"),
            F.when(
                n_g > 0,
                F.round(d_g.cast("double") / n_g.cast("double"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_fraction"),
        )
    )


def mask_duplicate_spans(
    df: DataFrame,
    k: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, text) with every token covered by a duplicated k-gram window
    removed and the survivors rejoined in order — the removal half of
    ExactSubstr dedup (Lee et al. 2022 cut duplicated spans rather than
    whole documents; C4-style line_dedup above is the coarser per-line
    variant). A gram starting at token i covers tokens [i, i+k-1];
    overlapping windows merge for free through the DISTINCT on covered
    indices. Documents losing every token come back EMPTY, not dropped.

    Scale shape: everything up to the verdict join is shared with
    duplicate_span_stats (gram-hash shuffle, AQE-skew-safe join); the
    covered-index explode is ≤ k rows per duplicated gram, the
    per-document covered set is token-bounded (collect_set on the doc
    id — same bound as line_dedup's reassembly), and the final rebuild
    is a pure-Column indexed filter over the token array, no Python.
    """
    segs, freq = _dup_span_segments(df, k, text_col, id_col)
    covered = (
        segs.join(freq, "_h")
        .filter(F.col("_nd") >= min_docs)
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("_pos"), F.col("_pos") + F.lit(k - 1))
            ).alias("_ci"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.collect_set("_ci").alias("_cov"))
    )
    toks = _doc_tokens(text_col)
    empty_int = F.array().cast("array<int>")
    return (
        df.join(covered, id_col, "left")
        .select(
            F.col(id_col),
            F.concat_ws(
                " ",
                F.filter(
                    toks,
                    lambda x, i: ~F.array_contains(
                        F.coalesce(F.col("_cov"), empty_int), i
                    ),
                ),
            ).alias(text_col),
        )
    )
