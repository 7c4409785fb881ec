"""Deduplication operators for training-data pipelines (BASELINE.json
north star): exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB of documents:

- **Exact** shuffles a 128-bit fingerprint (not the document body) and
  keeps the min id per group — one hash-agg pass, then a semi-join to
  re-attach payloads.
- **MinHash** builds signatures with pure column expressions (shingle
  array -> xxhash64 -> k affine permutations -> array_min): map-only,
  whole-stage codegen, no Python.  LSH banding explodes b small band
  keys per doc (b*r = k) and groups by band hash, so candidate
  generation shuffles k 64-bit values per doc instead of O(n^2) pairs.
  Greedy cluster resolution keeps each doc iff it never buckets with a
  smaller id — a single aggregation, no iterative union-find; this is
  the standard one-pass approximation used by large corpus-dedup runs.
- **SimHash** folds token hashes into a 64-bit signature with
  aggregate/zip_with (JVM-side array math); near-dup candidates come
  from exact-matching 16-bit quarters (Hamming <= 3 guarantees at least
  one exact quarter by pigeonhole).
- **n-gram Jaccard** verifies candidate pairs exactly via shingle-set
  intersection (array_intersect/array_union on deduped shingle arrays).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clv_data_pipeline_spark.functions.stats import md5_uniform
from clv_data_pipeline_spark.functions.text import fingerprint, normalize_text

# Mersenne prime 2^31-1 as the universal-hash modulus: with 31-bit
# hashes and coefficients the affine product a*h stays < 2^62, inside
# long range — Spark 4 runs ANSI mode and *errors* on long overflow, so
# the classic 61-bit family would need 128-bit math the JVM lacks.
_MERSENNE_31 = (1 << 31) - 1


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the smallest-id representative of every exact-duplicate
    group (after whitespace/case normalization).  Shuffles fingerprints
    only; the winning ids semi-join back to the full rows.
    """
    fp = df.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("_fp")
    )
    winners = fp.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return df.join(winners.select(id_col), id_col, "left_semi")


def substring_duplicate_windows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 50,
) -> DataFrame:
    """Exact substring deduplication, Lee et al. 2021 ("Deduplicating
    Training Data Makes Language Models Better") — flag every document
    that shares a verbatim ``window``-token span with an earlier
    (smaller-id) document, and measure how much of it is duplicated.

    The paper's single-machine ExactSubstr builds a suffix array over
    the whole corpus; the distributed re-expression is the standard
    token-window-hash scan the paper's own MapReduce appendix sketches:

    1. slide a ``window``-token window at stride 1 over each doc and
       md5 the joined span — pure column expressions (sequence ->
       transform(slice) -> md5), whole-stage codegen, O(total tokens)
       grams, no Python;
    2. ONE shuffle keyed by the 128-bit gram hash computes each gram's
       minimum owning doc id (the "keeper");
    3. re-join grams to keepers and aggregate per doc: a window is
       duplicated iff its gram also occurs in a smaller-id doc, so
       within-doc repetition never self-flags.

    Nothing pairwise ever materializes — candidate volume is
    O(tokens), the shuffle carries 16-byte hashes, and skew is bounded
    because a gram shared by m docs contributes m rows, not m^2 pairs.
    At 100 TB this is the same shape as the MinHash banding path.

    Returns one row per doc with >= 1 full window: ``doc_id,
    n_windows, dup_windows, dup_ratio, substring_dup``.
    """
    grams = _substring_grams(df, text_col, id_col, window)
    return _window_dup_ratio(grams, id_col)


def substring_duplicate_char_windows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 120,
    stride: int = 4,
) -> DataFrame:
    """CHARACTER-window exact-substring dedup — the fine tier below
    :func:`substring_duplicate_windows`: flag every document sharing a
    verbatim ``>= width + stride - 1``-char normalized span with an
    earlier (smaller-id) document.  The 50-token window cannot see
    verbatim spans in the ~20-49-token range (the round-9 eval
    harness measured its recall at 0.478 against a 120-char
    suffix-array truth); md5-hashed ``width``-char windows at char
    stride ``stride`` close exactly that gap: any common normalized
    span of length >= width + stride - 1 contains an aligned window
    on both sides, so detection is GUARANTEED above that length, and
    a shared window IS a >= width-char verbatim span, so precision is
    1.0 by construction (modulo md5 collisions).

    Same scale shape as the token tier: O(total chars / stride) grams
    from pure column expressions, ONE shuffle on 16-byte hashes to
    elect each gram's keeper, one re-join + per-doc aggregate —
    nothing pairwise, skew bounded (m sharers cost m rows).  Stride
    trades shuffle volume against the detection floor: stride 1 makes
    the floor exactly ``width`` at ~5x the token tier's gram count;
    the default 4 floors at width+3 chars for a quarter of that.

    Returns one row per doc with >= 1 full window: ``doc_id,
    n_windows, dup_windows, dup_ratio, substring_dup``.
    """
    t = df.select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("_t")
    ).withColumn("_n", F.length("_t"))
    grams = (
        t.filter(F.col("_n") >= width)
        .select(
            id_col,
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.col("_n") - F.lit(width - 1),
                    F.lit(stride),
                )
            ).alias("_i"),
            "_t",
        )
        .select(
            id_col,
            F.md5(
                F.expr(f"substring(_t, _i, {width})").cast("binary")
            ).alias("_g"),
        )
    )
    return _window_dup_ratio(grams, id_col)


def _window_dup_ratio(grams: DataFrame, id_col: str) -> DataFrame:
    """Per doc of ``grams`` (id, _g): ``n_windows``, ``dup_windows`` (its
    grams that also occur in a smaller-id doc), ``dup_ratio`` and
    ``substring_dup``.  One shuffle on the gram hash elects each gram's
    keeper (minimum owning id); one re-join and per-doc aggregate."""
    keepers = grams.groupBy("_g").agg(F.min(id_col).alias("_keeper"))
    return (
        grams.join(keepers, "_g")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_windows"),
            F.sum(
                (F.col(id_col) > F.col("_keeper")).cast("long")
            ).alias("dup_windows"),
        )
        .select(
            id_col,
            "n_windows",
            "dup_windows",
            F.round(
                F.col("dup_windows") / F.col("n_windows"), 6
            ).alias("dup_ratio"),
            (F.col("dup_windows") > 0).alias("substring_dup"),
        )
    )


def _substring_grams(
    df: DataFrame, text_col: str, id_col: str, window: int
) -> DataFrame:
    """(id, _g) — one md5 gram per stride-1 ``window``-token span."""
    toks = df.select(
        F.col(id_col),
        F.split(F.lower(F.col(text_col)), " ").alias("_toks"),
    ).withColumn("_n", F.size("_toks"))
    return (
        toks.filter(F.col("_n") >= window)
        .select(
            id_col,
            F.explode(
                F.sequence(F.lit(1), F.col("_n") - F.lit(window - 1))
            ).alias("_i"),
            "_toks",
        )
        .select(
            id_col,
            F.md5(
                F.array_join(F.slice("_toks", F.col("_i"), window), " ")
            ).alias("_g"),
        )
    )


def substring_gram_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 50,
) -> DataFrame:
    """Stored state of incremental substring dedup: one (gram hash,
    earliest owning doc id) row per distinct ``window``-token span in
    the corpus — the Lee-et-al. index as a persisted table (partition/
    bucket by gram prefix in production so probes prune)."""
    return (
        _substring_grams(df, text_col, id_col, window)
        .groupBy("_g")
        .agg(F.min(id_col).alias("_keeper"))
    )


def substring_dedup_incremental(
    index: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 50,
) -> DataFrame:
    """Per-delta-doc duplicated-window stats against a stored
    :func:`substring_gram_index` — O(delta), never re-scanning the
    corpus.  A delta window is duplicated iff its gram exists in the
    stored index (any base doc precedes every delta doc) OR a
    smaller-id delta doc owns the same gram.  Because base ids all
    precede delta ids, this equals the full recompute restricted to
    the delta — byte-for-byte (pinned in tests).

    Scale shape: only delta-sized frames shuffle.  The delta's
    distinct grams broadcast to semi-probe the index (the index is
    scanned map-side, never exchanged), matches come back as a
    delta-bounded frame, and the within-delta keeper election runs on
    delta grams alone.  Output matches q_dedup_substring's schema.
    """
    dg = _substring_grams(delta, text_col, id_col, window)
    dmin = dg.groupBy("_g").agg(F.min(id_col).alias("_dkeeper"))
    hits = index.join(
        F.broadcast(dmin.select("_g")), "_g", "left_semi"
    ).select("_g", F.lit(1).alias("_in_index"))
    joined = dg.join(F.broadcast(dmin), "_g").join(
        F.broadcast(hits), "_g", "left"
    )
    dup = (F.col("_in_index").isNotNull()) | (
        F.col("_dkeeper") < F.col(id_col)
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_windows"),
            F.sum(dup.cast("long")).alias("dup_windows"),
        )
        .select(
            id_col,
            "n_windows",
            "dup_windows",
            F.round(
                F.col("dup_windows") / F.col("n_windows"), 6
            ).alias("dup_ratio"),
            (F.col("dup_windows") > 0).alias("substring_dup"),
        )
    )


def shingles(text: Column, k: int = 5) -> Column:
    """Array of all character k-shingles of the normalized text (deduped).
    Pure expression: sequence over start offsets -> substring slices.
    """
    norm = normalize_text(text)
    n = F.greatest(F.length(norm) - F.lit(k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.substring(norm, i, F.lit(k)),
        )
    )


def minhash_signature(
    text: Column, num_hashes: int = 64, shingle_size: int = 5, seed: int = 42
) -> Column:
    """Length-``num_hashes`` MinHash signature as an array<long>.

    Hash shingles once with xxhash64 (truncated to 31 bits), then apply
    k affine permutations modulo 2^31-1 and take the running minimum of
    each.  The whole signature is ONE ``aggregate`` fold with an
    array<long> accumulator — crucial: a naive "array of 64
    array_min(transform(...))" would let Catalyst's projection collapse
    inline the shingle-hash array into all 64 expressions (64x
    recompute; observed 180 s for 500 docs, 3 s after this fold).
    """
    base = F.transform(
        shingles(text, shingle_size),
        lambda s: F.xxhash64(s).bitwiseAND(F.lit(0x7FFFFFFF)),
    )
    rnd = _SplitMix(seed)
    coefs = [(rnd.next_nonzero(), rnd.next()) for _ in range(num_hashes)]
    ab = F.array(
        *[
            F.struct(
                F.lit(a).cast("long").alias("a"),
                F.lit(b).cast("long").alias("b"),
            )
            for a, b in coefs
        ]
    )
    init = F.array_repeat(F.lit(_MERSENNE_31).cast("long"), num_hashes)
    return F.aggregate(
        base,
        init,
        lambda acc, h: F.zip_with(
            acc,
            ab,
            lambda m, c: F.least(m, (h * c["a"] + c["b"]) % F.lit(_MERSENNE_31)),
        ),
    )


class _SplitMix:
    """Tiny deterministic parameter stream (SplitMix64 step function) for
    the affine permutation constants — avoids numpy RNG state here."""

    def __init__(self, seed: int):
        self.state = seed & 0xFFFFFFFFFFFFFFFF

    def next(self) -> int:
        self.state = (self.state + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = self.state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        return (z ^ (z >> 31)) % _MERSENNE_31

    def next_nonzero(self) -> int:
        return self.next() or 1


def minhash_signatures_vectorized(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_size: int = 5,
    seed: int = 42,
) -> DataFrame:
    """MinHash signatures via an Arrow-batched numpy kernel — the scale
    path.  Higher-order column functions are interpreted per element
    (no codegen), which made the expression form ~6x slower; here each
    batch does a vectorized rolling hash (sliding-window byte matmul
    mod 2^31-1) and one (k-permutation x gram) broadcasted min.

    Deterministic: pure integer math, no engine hash functions, no RNG
    state — same signatures on any executor count or engine version.
    """
    import numpy as np
    import pandas as pd

    P = _MERSENNE_31
    rnd = _SplitMix(seed)
    A = np.array([[rnd.next_nonzero()] for _ in range(num_hashes)], dtype=np.int64)
    B = np.array([[rnd.next()] for _ in range(num_hashes)], dtype=np.int64)
    # polynomial rolling-hash coefficients base=257
    pows = np.array(
        [pow(257, shingle_size - 1 - j, P) for j in range(shingle_size)],
        dtype=np.int64,
    )

    def _sign(batches):
        for pdf in batches:
            out_ids, out_sigs = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                norm = " ".join(str(text).lower().split())
                data = np.frombuffer(
                    norm.encode("utf-8"), dtype=np.uint8
                ).astype(np.int64)
                if len(data) < shingle_size:
                    data = np.pad(data, (0, shingle_size - len(data)))
                win = np.lib.stride_tricks.sliding_window_view(
                    data, shingle_size
                )
                grams = np.unique((win * pows).sum(axis=1) % P)
                sig = ((A * grams[None, :] + B) % P).min(axis=1)
                out_ids.append(doc_id)
                out_sigs.append(sig.tolist())
            yield pd.DataFrame({id_col: out_ids, "_sig": out_sigs})

    return df.select(id_col, text_col).mapInPandas(
        _sign, f"{id_col} long, _sig array<long>"
    )


def minhash_banded(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
    seed: int = 42,
    vectorized: bool = True,
) -> DataFrame:
    """(id, band, band_hash) LSH bucket keys from banded MinHash
    signatures — the shared first stage of the pair-enumeration path
    (:func:`minhash_candidates`) and the pair-free greedy dedup
    (:func:`dedup_minhash`)."""
    rows_per_band = num_hashes // bands
    if vectorized:
        sig = minhash_signatures_vectorized(
            df, text_col, id_col, num_hashes, shingle_size, seed
        )
    else:
        sig = df.select(
            F.col(id_col),
            minhash_signature(
                F.col(text_col), num_hashes, shingle_size, seed
            ).alias("_sig"),
        )
    # Exchange barrier: banding references _sig 16 times (and the
    # candidate path joins it against itself) — without a
    # materialization point, projection collapse would recompute the
    # signature per reference.  The shuffle moves only (id, 64xlong)
    # rows and downstream joins reuse the exchange.
    sig = sig.repartition(id_col)
    return sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.xxhash64(
                            F.slice(F.col("_sig"), i * rows_per_band + 1, rows_per_band)
                        ).alias("bh"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
    seed: int = 42,
    vectorized: bool = True,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) from banded MinHash signatures.

    bands=16 x rows=4 over 64 hashes targets ~Jaccard>=0.5 neighbors.
    Each doc explodes to 16 (band_idx, band_hash) keys; a self-join per
    bucket yields candidates.  Bucket sizes are bounded in practice;
    a skewed bucket (boilerplate spam) is exactly what AQE skew-join
    handles.  NOTE pair enumeration is inherently quadratic in bucket
    size — callers that only need the greedy survivor set must use
    :func:`dedup_minhash`'s pair-free bucket-min path instead (the
    sf10 scaling study measured the difference: 100-copy near-dup
    clusters make pair counts grow quadratically while bucket-min
    stays linear).
    """
    banded = minhash_banded(
        df, text_col, id_col, num_hashes, bands, shingle_size, seed,
        vectorized,
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def minhash_candidates_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
) -> DataFrame:
    """LSH candidate pairs from an ENGINE-PORTABLE MinHash family:
    hash k of a doc is the lexicographic MIN of md5(shingle|k) over
    its distinct shingles (md5 hex strings order like their 128-bit
    values, so string MIN is the minhash).  Any engine with md5
    reproduces the family bit-for-bit — this is what makes the
    candidate stage DuckDB-oracle-checkable, where the xxhash64+affine
    family (minhash_candidates) is Spark-specific.

    Cost trade vs the vectorized family: ``num_hashes`` md5 calls per
    (doc, shingle) on the map side instead of one xxhash64 + k affine
    maps — heavier compute, IDENTICAL shuffle shape (the only wide ops
    are the (doc,k) min-agg and the band-key bucket join; pairs never
    exceed bucket membership).  Production dedup keeps the fast
    family; this one backs the audit/oracle path.
    """
    rows_per_band = num_hashes // bands
    sh = df.select(
        F.col(id_col),
        F.explode(
            shingles(F.col(text_col), shingle_size)
        ).alias("shingle"),
    )
    ex = sh.withColumn(
        "k", F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1)))
    )
    h = F.md5(
        F.concat(
            F.col("shingle"), F.lit("|"), F.col("k").cast("string")
        ).cast("binary")
    )
    sig = ex.groupBy(id_col, "k").agg(F.min(h).alias("s"))
    banded = (
        sig.groupBy(id_col, (F.col("k") / rows_per_band).cast("long").alias("band"))
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("k", "s"))
                        ),
                        lambda x: x["s"],
                    ),
                    "|",
                ).cast("binary")
            ).alias("bh")
        )
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").cast("long").alias("id_a"),
            F.col(f"b.{id_col}").cast("long").alias("id_b"),
        )
        .distinct()
    )


def fingerprint_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The stored state of incremental exact dedup: one (fingerprint,
    winner-id) row per distinct normalized text.  In production this is
    a persisted table (partitioned/bucketed by fingerprint prefix so
    collision probes prune); building it from scratch costs one
    fingerprint-only shuffle over the corpus — the amortized part that
    :func:`dedup_incremental` avoids re-paying per delta."""
    fp = df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("_fp"))
    return fp.groupBy("_fp").agg(F.min(id_col).alias(id_col))


def dedup_incremental(
    index: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Admit the delta documents that survive exact dedup against an
    existing :func:`fingerprint_index` — O(delta), never re-deduping
    the corpus.  A delta doc survives iff (a) it is the min-id winner
    of its fingerprint WITHIN the delta and (b) its fingerprint is
    absent from the index.

    Distributed shape: only delta-sized frames ever shuffle.  The
    delta's fingerprints broadcast to probe the index map-side
    (left_semi against a broadcast build side — the 100 TB index is
    scanned, never exchanged; with the index bucketed by fingerprint
    prefix the scan prunes too), colliding fingerprints come back as a
    tiny frame, and the surviving ids broadcast for the final semi-join
    so the delta is re-read map-side.  First-seen-wins semantics:
    an index entry beats any delta doc with the same fingerprint even
    if the delta id is smaller — the invariant real append-only
    pipelines keep (admitted docs are immutable)."""
    delta_fp = delta.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("_fp")
    )
    # persist: delta_win feeds both the index probe and the survivor
    # anti-join; delta-sized, so the cache is O(delta) by contract.
    delta_win = delta_fp.groupBy("_fp").agg(
        F.min(id_col).alias(id_col)
    ).persist()
    collisions = index.join(
        F.broadcast(delta_win.select("_fp")), "_fp", "left_semi"
    ).select("_fp")
    survivors = delta_win.join(
        F.broadcast(collisions), "_fp", "left_anti"
    )
    return delta.join(
        F.broadcast(survivors.select(id_col)), id_col, "left_semi"
    )


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
    seed: int = 42,
    sig: DataFrame | None = None,
) -> DataFrame:
    """The stored state of incremental near-dup dedup: every processed
    document's banded MinHash keys, one (doc_id, band, bh) row per
    band.  Kept for ALL processed docs — dropped ones too — so that
    incremental admission (:func:`dedup_minhash_incremental`) decides
    exactly like a full-corpus greedy pass: a new doc that collides
    only with an already-dropped doc must still drop.  In production a
    persisted table partitioned by (band, bh prefix); building from
    scratch costs one signature pass over the corpus — the amortized
    part the incremental merge never re-pays.

    ``sig`` short-circuits the signature pass with a precomputed
    (id, _sig) frame — a caller holding signatures for base AND delta
    (one shingle pass over everything, like q_minhash_incremental)
    bands each side from the shared frame instead of re-hashing."""
    rows_per_band = num_hashes // bands
    if sig is None:
        sig = minhash_signatures_vectorized(
            df, text_col, id_col, num_hashes, shingle_size, seed
        )
    return sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.xxhash64(
                            F.slice(
                                F.col("_sig"), i * rows_per_band + 1,
                                rows_per_band,
                            )
                        ).alias("bh"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))


def dedup_minhash_incremental(
    index: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
    seed: int = 42,
    delta_keys: DataFrame | None = None,
) -> DataFrame:
    """Admit the delta documents that survive greedy MinHash near-dup
    removal against a corpus summarized by :func:`minhash_index` —
    O(delta), never re-shingling the corpus.  A delta doc drops iff it
    shares any LSH bucket with an indexed doc (all of which have
    smaller ids) or with a smaller-id delta doc; with delta ids
    appended last this equals :func:`dedup_minhash` over the full
    corpus restricted to the delta (pinned in tests).

    Distributed shape: only delta-sized frames shuffle.  The delta's
    distinct band keys broadcast to probe the index map-side (the
    100 TB index is scanned, never exchanged; partitioned by band it
    prunes too), colliding keys come back tiny, and both the collision
    re-attach and the within-delta pair join run on delta-sized banded
    frames.  After admission, append the DELTA's index rows (all docs,
    admitted or not) to the stored index.  ``delta_keys`` accepts the
    delta's precomputed band keys (see :func:`minhash_index`'s
    ``sig``)."""
    if delta_keys is None:
        delta_keys = minhash_index(
            delta, text_col, id_col, num_hashes, bands, shingle_size, seed
        )
    # Persist barrier: the banded frame feeds three consumers below,
    # and each would otherwise re-run the delta's signature kernel
    # (an exchange alone only dedupes when AQE stage-reuse happens to
    # fire).  Delta-sized — exactly the artifact a production pipeline
    # materializes per batch; cache lifetime owned by the caller/bench.
    delta_keys = delta_keys.persist()
    probe = delta_keys.select("band", "bh").distinct()
    hit_keys = (
        index.select("band", "bh")
        .join(F.broadcast(probe), ["band", "bh"], "left_semi")
        .distinct()
    )
    dropped_vs_index = (
        delta_keys.join(F.broadcast(hit_keys), ["band", "bh"], "left_semi")
        .select(id_col)
        .distinct()
    )
    # within-delta greedy: pair-free bucket-min, like dedup_minhash —
    # a dense delta (a re-crawl batch full of boilerplate) would make
    # the former within-delta pair join quadratic per bucket
    mins = delta_keys.groupBy("band", "bh").agg(
        F.min(id_col).alias("_mn")
    )
    dropped_in_delta = (
        delta_keys.join(mins, ["band", "bh"])
        .filter(F.col(id_col) != F.col("_mn"))
        .select(id_col)
        .distinct()
    )
    losers = dropped_vs_index.unionByName(dropped_in_delta).distinct()
    return delta.join(losers, id_col, "left_anti")


def dedup_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """Greedy near-dup removal: drop every doc that shares an LSH bucket
    with a smaller id — WITHOUT enumerating candidate pairs.

    A doc is dropped iff some bucket it belongs to contains a smaller
    id, i.e. iff it is not the bucket-min in every one of its 16
    buckets — so the survivor set needs only MIN per (band, bh), a
    partial-aggregable map-side combine, plus one equi-join back.
    Identical survivors to the former pair-enumeration + anti-join
    formulation, but the cost is O(n x bands) at ANY duplication
    density: the round-11 sf10 octave measured the pair path going
    super-linear (slope 1.47 over sf3 -> sf10) because 100-copy
    near-dup clusters make per-bucket pairs quadratic, while
    bucket-min stays linear (heavy boilerplate buckets in a real
    corpus are the same failure mode).  Pair enumeration remains
    available via :func:`minhash_candidates` for callers that need
    the actual pairs (recall eval, clustering).
    """
    banded = minhash_banded(df, text_col, id_col, **kwargs)
    mins = banded.groupBy("band", "bh").agg(F.min(id_col).alias("_mn"))
    losers = (
        banded.join(mins, ["band", "bh"])
        .filter(F.col(id_col) != F.col("_mn"))
        .select(id_col)
        .distinct()
    )
    return df.join(losers, id_col, "left_anti")


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Exact duplicate clustering: connected components returning
    ``(node, cluster_id)`` where ``cluster_id`` is the smallest node id
    reachable from ``node`` — the canonical representative of its
    component (transitive closure, unlike the greedy one-pass in
    :func:`dedup_minhash`; ref: the reference pipeline has no
    clustering at all — this serves SURVEY.md §2's dedup extension).

    Implementation is POINTER-JUMPING min-label propagation
    (:func:`clv_data_pipeline_spark.operators.density.cc_pointer_jump`)
    — O(log diameter) rounds, not O(diameter).  Corpus-dedup graphs
    are usually near-cliques around shared fingerprints (diameter
    2-4), but boilerplate families chain near-dups thousands deep;
    linear propagation under an iteration cap silently over-fragments
    those, pointer jumping converges in ~12 rounds even at diameter
    4000 (pinned by ``tests/test_density.py``'s >25-hop chain test).
    """
    from clv_data_pipeline_spark.operators.density import cc_pointer_jump

    return cc_pointer_jump(edges, src, dst, max_iter=max_iter)


def cluster_documents(
    df: DataFrame,
    key_cols: list[list[str]],
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster rows whose key tuples collide, transitively across ALL
    key sets: rows sharing key-set-1 OR key-set-2 land in one cluster.

    Each key group contributes *star edges* to its min-id member — same
    connectivity as the full clique at O(n) instead of O(n^2) edges, so
    a boilerplate blob of 1M near-identical docs ships 1M edges, not
    10^12.  Rows isolated under every key become singleton clusters.
    """
    from pyspark.sql.window import Window

    stars = None
    for cols in key_cols:
        w = Window.partitionBy(*cols)
        star = df.select(
            F.col(id_col).alias("id_a"),
            F.min(id_col).over(w).alias("id_b"),
        ).filter(F.col("id_a") != F.col("id_b"))
        stars = star if stars is None else stars.union(star)
    cc = connected_components(stars, "id_a", "id_b")
    return (
        df.select(F.col(id_col))
        .join(cc, F.col(id_col) == F.col("node"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for given (id_a, id_b) pairs — the verify
    step after LSH candidate generation.  Shingle arrays join in by id;
    set ops run per-pair, JVM-side.
    """
    sh = df.select(
        F.col(id_col),
        shingles(F.col(text_col), shingle_size).alias("_sh"),
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sha"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_shb"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("_sha", "_shb"))
    union = F.size(F.array_union("_sha", "_shb"))
    return joined.select(
        "id_a",
        "id_b",
        F.round(
            inter.cast("double") / F.greatest(union, F.lit(1)), 6
        ).alias("jaccard"),
    )


def simhash(text: Column, token_pattern: str = r"\s+") -> Column:
    """64-bit SimHash of the token multiset as a long.

    Each token's xxhash64 votes +-1 per bit position; the signature
    takes the sign of each tally.  aggregate/zip_with keep the whole
    fold inside codegen (arrays of 64 ints per row, transient).
    """
    tokens = F.split(normalize_text(text), token_pattern)
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    zeros = F.array_repeat(F.lit(0), 64)
    # bit positions are Python ints (shiftright requires literal shift
    # amounts); the vote array is one expression per position but the
    # token fold itself is a single aggregate pass.
    bits_of = lambda h: F.array(  # noqa: E731
        *[
            F.when(
                F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1))
            for i in range(64)
        ]
    )
    tally = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(acc, bits_of(h), lambda x, y: x + y),
    )
    # pack sign bits into a long: zip the tally against a literal
    # powers-of-two array (references tally exactly once — element_at
    # indexing would inline the whole fold per bit).
    powers = F.array(
        *[F.lit(1 << i).cast("long") for i in range(63)]
        + [F.lit(-(1 << 63)).cast("long")]  # bit 63: long min, avoids overflow
    )
    return F.aggregate(
        F.zip_with(
            tally,
            powers,
            lambda t, p: F.when(t > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc.bitwiseOR(v),
    )


def simhash_signatures_vectorized(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash signatures via an Arrow-batched numpy kernel (the scale
    path; the expression form folds 64 interpreted ops per token).
    Token hashes use the same polynomial family as the MinHash kernel
    and are memoized per batch — natural-language vocabularies repeat,
    so hashing amortizes to a dict lookup.
    """
    import numpy as np
    import pandas as pd

    P = (1 << 61) - 1
    shifts = np.arange(64, dtype=np.uint64)

    def _hash_token(t: str, cache: dict) -> int:
        h = cache.get(t)
        if h is None:
            h = 0
            for b in t.encode("utf-8"):
                h = (h * 257 + b) % P
            cache[t] = h
        return h

    def _sign(batches):
        cache: dict = {}
        for pdf in batches:
            ids, sigs = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                tokens = " ".join(str(text).lower().split()).split(" ")
                hs = np.array(
                    [_hash_token(t, cache) for t in tokens], dtype=np.uint64
                )
                bits = ((hs[:, None] >> shifts) & 1).astype(np.int64) * 2 - 1
                tally = bits.sum(axis=0)
                sig = int(((tally > 0).astype(np.uint64) << shifts).sum())
                # wrap to signed 64-bit to match LongType
                if sig >= 1 << 63:
                    sig -= 1 << 64
                ids.append(doc_id)
                sigs.append(sig)
            yield pd.DataFrame({id_col: ids, "_sh": sigs})

    return df.select(id_col, text_col).mapInPandas(
        _sign, f"{id_col} long, _sh long"
    )


def simhash_pair_count(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """1-row COUNT of Hamming<=3 doc pairs, computed over DISTINCT
    signatures with multiplicities — an exact compression of
    :func:`simhash_candidates` for count-only consumers.

    Near-dup-heavy corpora repeat signatures (the driver fixture:
    3.6k distinct of 5k docs), so pair generation over distinct sigs
    does (distinct/total)^2 of the join work; doc-pair counts recover
    exactly as m_a*m_b across distinct-sig pairs plus C(m,2) within
    each signature (Hamming 0).  Same pigeonhole + first-match logic
    as the pair materializer, so the two agree row-for-row (pinned in
    tests)."""
    d = sh.groupBy("_sh").agg(F.count("*").alias("m"))

    def _qv(col: str, i: int):
        return F.shiftrightunsigned(F.col(col), 16 * i).bitwiseAND(
            F.lit(0xFFFF)
        )

    quarters = d.select(
        "_sh",
        "m",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("q"), _qv("_sh", i).alias("qv"))
                    for i in range(4)
                ]
            )
        ).alias("qk"),
    ).select("_sh", "m", F.col("qk.q").alias("q"), F.col("qk.qv").alias("qv"))
    a, b = quarters.alias("a"), quarters.alias("b")
    first_match = F.lit(True)
    for j in range(3):
        first_match = first_match & (
            (F.col("a.q") <= j) | (_qv("a._sh", j) != _qv("b._sh", j))
        )
    cross = (
        a.join(
            b,
            (F.col("a.q") == F.col("b.q"))
            & (F.col("a.qv") == F.col("b.qv"))
            & (F.col("a._sh") < F.col("b._sh"))
            & first_match
            & (
                F.bit_count(F.col("a._sh").bitwiseXOR(F.col("b._sh"))) <= 3
            ),
        )
        .agg(F.sum(F.col("a.m") * F.col("b.m")).alias("c"))
        .select(F.coalesce("c", F.lit(0)).cast("long").alias("c"))
    )
    within = d.agg(
        F.sum(F.col("m") * (F.col("m") - 1) / 2).cast("long").alias("w")
    )
    return cross.crossJoin(F.broadcast(within)).select(
        (F.col("c") + F.col("w")).cast("long").alias("n_near_dup_pairs")
    )


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidates with Hamming distance <= 3 on SimHash.

    Pigeonhole over 4 16-bit quarters: distance <= 3 implies at least
    one quarter matches exactly, so group by (quarter_idx, quarter
    value) and pair within buckets, then verify true Hamming distance
    with bit_count — all native expressions.

    ``sigs`` accepts a precomputed ``(id_col, _sh)`` signature frame so
    callers that also emit signatures don't pay the Python hashing
    kernel twice (the kernel dominates; the join is cheap next to it).
    """
    sh = (
        sigs
        if sigs is not None
        else simhash_signatures_vectorized(df, text_col, id_col)
    )
    # exchange barrier, twice useful: the quarter explode + self-join
    # reference _sh multiple times (the Python kernel must not run per
    # reference), and a caller-provided signature table read from a
    # few parquet files would otherwise probe the join from 1-2 tasks —
    # the repartition restores full-core parallelism for the pair
    # generation, which dominates on near-dup-heavy corpora.
    sh = sh.repartition(id_col)

    def _qv(col: str, i: int):
        return F.shiftrightunsigned(F.col(col), 16 * i).bitwiseAND(
            F.lit(0xFFFF)
        )

    quarters = sh.select(
        id_col,
        "_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("q"), _qv("_sh", i).alias("qv")
                    )
                    for i in range(4)
                ]
            )
        ).alias("qk"),
    ).select(id_col, "_sh", F.col("qk.q").alias("q"), F.col("qk.qv").alias("qv"))
    a, b = quarters.alias("a"), quarters.alias("b")
    # first-match dedup instead of a post-join distinct(): a pair whose
    # signatures agree on several quarters would surface once per
    # matching quarter, so the join keeps it ONLY at its first matching
    # quarter (all earlier quarters must differ — a residual predicate
    # on the two _sh columns, evaluated post-probe).  Each pair then
    # appears exactly once and the full pair-set shuffle distinct()
    # required is gone.
    first_match = F.lit(True)
    for j in range(3):
        first_match = first_match & (
            (F.col("a.q") <= j) | (_qv("a._sh", j) != _qv("b._sh", j))
        )
    pairs = a.join(
        b,
        (F.col("a.q") == F.col("b.q"))
        & (F.col("a.qv") == F.col("b.qv"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & first_match,
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.bit_count(
            F.col("a._sh").bitwiseXOR(F.col("b._sh"))
        ).alias("hamming"),
    )
    return pairs.filter(F.col("hamming") <= 3)


def set_similarity_join(
    df: DataFrame,
    threshold_pct: int = 90,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT set-similarity self-join (PPJoin-style prefix filtering):
    all pairs with word-set Jaccard >= threshold_pct/100 — no LSH
    recall loss.

    Prefix-filter principle: order each doc's tokens rare-first by
    global frequency; two docs with J >= t MUST share a token inside
    each one's first ``sz - ceil(t*sz) + 1`` tokens, so the candidate
    join runs only on those prefixes — high-frequency tokens never
    generate candidates, which is what makes the join subquadratic on
    realistic corpora.  Verification then computes exact intersection
    counts on the candidate pairs only.

    Determinism: the threshold stays in INTEGER arithmetic
    (``ceil(t*sz)`` as ``(pct*sz + 99) DIV 100`` and the final test as
    ``100*inter >= pct*union``) — ``0.9 * sz`` differs between
    binary-double engines and decimal-literal engines at exact
    integers.  Rank ties break on (freq, token), unique per doc.
    """
    from pyspark.sql.window import Window

    toks = (
        df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))
            ).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    freq = toks.groupBy("token").agg(F.count("*").alias("tf"))
    # persist: sizes feeds the rank join AND both verification sides —
    # doc-count-sized, so the cache is O(docs), not O(tokens).
    sizes = toks.groupBy(id_col).agg(F.count("*").alias("sz")).persist()
    w = Window.partitionBy(id_col).orderBy("tf", "token")
    ranked = (
        toks.join(freq, "token")
        .withColumn("rn", F.row_number().over(w))
        .join(sizes, id_col)
    )
    prefix_len = (
        F.col("sz")
        - F.expr(f"({threshold_pct} * sz + 99) DIV 100")
        + F.lit(1)
    )
    # persist: pref is aliased as both join sides — without it the
    # whole freq-join + per-doc window subtree runs twice.  Prefix
    # tokens are small by construction (sz - ceil(t*sz) + 1 per doc).
    pref = (
        ranked.filter(F.col("rn") <= prefix_len)
        .select(id_col, "token", "sz")
        .persist()
    )
    a, b = pref.alias("a"), pref.alias("b")
    # Size filter (PPJoin's second filter): J(A,B) >= t forces
    # t*|B| <= |A| <= |B|/t, in integer arithmetic — applied INSIDE
    # candidate generation so size-incompatible prefix collisions never
    # materialize.  Measured 29.5 s -> 18.3 s at sf0.1 on this
    # vocabulary-dense corpus (the prefix filter's worst case); the
    # remaining cost is largely the OUTPUT — the generator's template
    # reuse makes ~1M document pairs genuinely exceed J>=0.9 there.
    cands = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (
                F.lit(threshold_pct) * F.col("b.sz")
                <= F.lit(100) * F.col("a.sz")
            )
            & (
                F.lit(threshold_pct) * F.col("a.sz")
                <= F.lit(100) * F.col("b.sz")
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    ta = toks.select(F.col(id_col).alias("id_a"), "token")
    tb = toks.select(F.col(id_col).alias("id_b"), "token")
    inter = (
        cands.join(ta, "id_a")
        .join(tb, ["id_b", "token"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("szb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("uni", F.col("sza") + F.col("szb") - F.col("inter"))
        .filter(F.lit(100) * F.col("inter") >= F.lit(threshold_pct) * F.col("uni"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter").cast("double") / F.col("uni"), 6
            ).alias("jaccard"),
        )
    )


def weighted_minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Probability-MinHash signatures over tf-weighted tokens (the
    exponential race: per hash k the winning token minimizes
    -ln(u_k(token)) / tf).  Collision probability between two docs
    estimates their probability-Jaccard over tf distributions — scale
    invariant (doubling every tf changes nothing) and sensitive to
    frequency shifts plain set-MinHash cannot see.

    Race uniforms derive from md5 (engine-portable), so unlike the
    xxhash64 families the signatures themselves are oracle-checkable
    (see q_minhash_weighted).  One shuffle on (doc, token), a bounded
    x num_hashes map-side expand, and a partial-aggregable
    min-of-struct — no window sort.
    """
    from clv_data_pipeline_spark.functions.text import normalize_text

    toks = docs.select(
        id_col,
        F.explode(
            F.split(normalize_text(F.col(text_col)), " ")
        ).alias("token"),
    ).filter(F.col("token") != "")
    tf = toks.groupBy(id_col, "token").agg(
        F.count("*").cast("long").alias("tf")
    )
    ex = tf.withColumn(
        "k", F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1)))
    )
    u = md5_uniform(
        F.concat(
            F.col("token"), F.lit("|"), F.col("k").cast("string")
        ).cast("binary")
    )
    score = -F.log(u) / F.col("tf")
    sig = ex.groupBy(id_col, "k").agg(
        F.min(
            F.struct(score.alias("s"), F.col("token").alias("t"))
        ).alias("m")
    )
    return sig.select(
        id_col,
        F.col("k").cast("long").alias("k"),
        F.col("m.t").alias("sig_token"),
    )
