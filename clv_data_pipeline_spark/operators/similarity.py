"""Similarity search over embedding columns (BASELINE.json north star).

Baseline: brute-force cosine top-k as a self-join — correct, and at
100 TB the quadratic cost is the reason the LSH variant exists; both
share the same output contract so they are interchangeable.

Scale paths:
- brute force: broadcast the (smaller) query side, dot products via
  zip_with/aggregate — JVM-side, no Python; top-k per query through a
  rank-window that prunes during the sort.
- LSH: random-hyperplane signatures bucket vectors so only same-bucket
  pairs score.  Hyperplane coefficients derive deterministically from
  xxhash64(bucket seed, dim) — no RNG state to ship, reproducible
  across runs and engines.
- embedding near-dup: cosine >= threshold on LSH candidates, greedy
  min-id winner like the text dedups.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clv_data_pipeline_spark.functions.stats import md5_uniform, md5_uniform_sql


def dot(a: Column, b: Column) -> Column:
    """Σ a_i*b_i via zip_with + aggregate (double precision)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


#: Index rows a single broadcast shard may hold before cosine_topk
#: splits the index (100k rows x 64-dim float64 ~ 51 MB per shard —
#: well inside executor broadcast budgets; tune per embedding dim).
MAX_INDEX_ROWS_PER_SHARD = 100_000


def portable_cell_assign(
    emb_e: DataFrame, n_cells: int, salt: str, dim: int = 64
) -> DataFrame:
    """md5-PORTABLE dot-product coarse quantizer shared by the
    portable-twin queries and the streaming admission sink: cell
    directions derive from md5(cell|dim|salt), assignment is the
    argmax nano-unit integer dot with (dot DESC, cell) ties — exactly
    replayable in DuckDB SQL (see q_ann_ivf_portable /
    q_semdedup_portable oracles).  Input (vec_id, e: array<double>);
    output (vec_id, cell)."""
    spark = emb_e.sparkSession
    dims = emb_e.select("vec_id", F.posexplode("e").alias("i", "x"))
    w = spark.range(n_cells * dim).select(
        (F.col("id") / dim).cast("long").alias("c"),
        (F.col("id") % dim).alias("i"),
        (
            md5_uniform(
                F.concat(
                    (F.col("id") / dim).cast("long").cast("string"),
                    F.lit("|"),
                    (F.col("id") % dim).cast("string"),
                    F.lit(salt),
                )
            )
            * 2
            - 1
        ).alias("w"),
    )
    cdots = (
        dims.join(F.broadcast(w), "i")
        .groupBy("vec_id", "c")
        .agg(
            F.sum(
                F.round(F.col("x") * F.col("w") * 1e9, 0).cast("long")
            )
            .cast("long")
            .alias("dot")
        )
    )
    return (
        cdots.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(F.desc("dot"), "c")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("c").alias("cell"))
    )


def portable_cell_assign_sql(n_cells: int, salt: str, max_id: int) -> str:
    """DuckDB twin of :func:`portable_cell_assign` over the embeddings
    with vec_id < ``max_id``: the ``dims`` (vec_id, i, x) and ``assign``
    (vec_id, cell) CTEs."""
    w = md5_uniform_sql(f"c || '|' || d || '{salt}'")
    return f"""dims AS (
        SELECT vec_id,
               CAST(unnest(range(len(embedding))) AS BIGINT) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings WHERE vec_id < {max_id}),
    w AS (
        SELECT c, d AS i,
               {w} * 2 - 1 AS w
        FROM (SELECT unnest(range({n_cells})) AS c),
             (SELECT unnest(range(64)) AS d)),
    cdots AS (
        SELECT dm.vec_id, w.c,
               CAST(SUM(CAST(ROUND(dm.x * w.w * 1000000000.0, 0)
                             AS BIGINT)) AS BIGINT) AS dot
        FROM dims dm JOIN w ON w.i = dm.i
        GROUP BY dm.vec_id, w.c),
    assign AS (
        SELECT vec_id, c AS cell
        FROM (SELECT vec_id, c,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY dot DESC, c) AS rn
              FROM cdots)
        WHERE rn = 1)"""


def int_cosine_sim(
    cand: DataFrame,
    lo_vecs: DataFrame,
    hi_vecs: DataFrame,
    lo: str = "lo",
    hi: str = "hi",
) -> DataFrame:
    """Attach the exact nano-unit INTEGER cosine (rounded at 6 — the
    portable-twin formulation DuckDB replays bit for bit) to a
    candidate pair frame.  ``lo_vecs``/``hi_vecs`` carry (<key>, e:
    array<double>); scoring touches only candidate pairs, with
    per-vector norms computed inline."""

    def _lsum(arr):
        return F.aggregate(
            arr, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).cast("double")

    sq = lambda col: F.transform(  # noqa: E731
        col, lambda a: F.round(a * a * 1e9, 0).cast("long")
    )
    prod = F.zip_with(
        "ea", "eb", lambda a, b: F.round(a * b * 1e9, 0).cast("long")
    )
    va = lo_vecs.select(
        F.col("vec_id").alias(lo),
        F.col("e").alias("ea"),
        _lsum(sq("e")).alias("na"),
    )
    vb = hi_vecs.select(
        F.col("vec_id").alias(hi),
        F.col("e").alias("eb"),
        _lsum(sq("e")).alias("nb"),
    )
    return (
        cand.join(va, lo)
        .join(vb, hi)
        .withColumn(
            "sim",
            F.round(
                _lsum(prod) / F.sqrt(F.col("na") * F.col("nb")), 6
            ),
        )
        .drop("ea", "eb", "na", "nb")
    )


def greedy_admission(
    pairs: list[tuple[int, int]],
) -> dict[int, int]:
    """Greedy ascending-id admission over a (lo, hi) near-dup pair
    list (lo < hi always): scanning ids ascending, a vertex is DROPPED
    iff some already-KEPT lower neighbor exists; its absorber is the
    lowest such keeper.  The cascade matters: a dropped vertex must
    NOT disqualify later ones — a naive EXISTS anti-join gets that
    wrong.  Exact mirror of the q_semdedup_portable oracle's recursive
    scan; returns {dropped_id: absorber_id}.  Ids that only appear as
    ``lo`` (e.g. already-admitted state in the streaming sink) are
    never dropped — they act as standing keepers."""
    by_hi: dict[int, list[int]] = {}
    for lo_id, hi_id in pairs:
        by_hi.setdefault(hi_id, []).append(lo_id)
    dropped: dict[int, int] = {}
    for hi_id in sorted(by_hi):
        keepers = sorted(
            lo_id for lo_id in by_hi[hi_id] if lo_id not in dropped
        )
        if keepers:
            dropped[hi_id] = keepers[0]
    return dropped


def cosine_topk(
    embeddings: DataFrame,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 6,
    max_rows_per_shard: int = MAX_INDEX_ROWS_PER_SHARD,
) -> DataFrame:
    """Brute-force all-pairs cosine, top-k neighbors per vector.

    Output: (vec_id, neighbor_id, sim, rank).  Similarities round to
    ``round_scale`` before ranking so ordering is reproducible across
    accumulation orders (ties then break on neighbor id).

    Execution: size-gated sharding.  The index is counted (metadata-only
    on parquet) and split into ``ceil(n / max_rows_per_shard)`` hash
    shards; each shard collects to a dense float64 matrix and
    broadcasts, queries stream through mapInPandas and score a whole
    Arrow batch per BLAS matmul, and the per-shard top-ks re-rank
    globally (exact: the true top-k is contained in the union).  No
    single collect ever exceeds one shard, so driver/executor memory is
    bounded regardless of index size — the previous full-index
    ``toPandas()`` was the one scale-killer flagged in round 1.  A
    zip_with/aggregate self-join formulation is ~50x slower at 2k
    vectors (interpreted per-element lambdas over n^2 pairs) — dense
    linear algebra is the one place the Pandas-UDF path beats built-ins.
    For sub-quadratic cost switch to :func:`lsh_topk` / :func:`ivf_topk`.
    """
    n = embeddings.count()
    num_shards = max(1, -(-n // max_rows_per_shard))
    return cosine_topk_sharded(
        embeddings, k, id_col, vec_col,
        num_shards=num_shards, round_scale=round_scale,
    )


def _pair_cosine_scores(cands: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Exact cosine for candidate pairs: einsum over Arrow batches.
    Input needs (vec_id, neighbor_id, a_col, b_col); output is
    (vec_id, neighbor_id, sim) with sim rounded to 6."""
    import numpy as np
    import pandas as pd

    def _score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            va = np.stack(pdf[a_col].to_numpy()).astype(np.float64)
            vb = np.stack(pdf[b_col].to_numpy()).astype(np.float64)
            sims = np.einsum("ij,ij->i", va, vb) / (
                np.linalg.norm(va, axis=1) * np.linalg.norm(vb, axis=1)
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "neighbor_id": pdf["neighbor_id"],
                    "sim": np.round(sims, 6),
                }
            )

    return cands.select("vec_id", "neighbor_id", a_col, b_col).mapInPandas(
        _score, "vec_id long, neighbor_id long, sim double"
    )


def _hyperplane(dim: int, plane: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane: coefficient j
    derives from a 64-bit mix of (seed, plane, j) mapped to [-1, 1).
    Reproducible everywhere; no RNG object."""
    coefs = []
    for j in range(dim):
        h = (seed * 0x9E3779B97F4A7C15 + plane * 0xBF58476D1CE4E5B9 + j) \
            & 0xFFFFFFFFFFFFFFFF
        h ^= h >> 31
        h = (h * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        h ^= h >> 29
        coefs.append((h / 2**63) - 1.0)
    return coefs


def lsh_signature(
    vec: Column, dim: int, num_planes: int = 16, seed: int = 7
) -> Column:
    """Random-hyperplane (SRP) signature: bit i = sign(<v, plane_i>),
    packed into a long.  Pure column math over literal coefficient
    arrays — map-only."""
    bits = []
    for i in range(num_planes):
        plane = F.array(*[F.lit(c) for c in _hyperplane(dim, i, seed)])
        bits.append(
            F.when(dot(vec, plane) > 0, F.shiftleft(F.lit(1).cast("long"), i))
            .otherwise(F.lit(0).cast("long"))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def cosine_topk_sharded(
    embeddings: DataFrame,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_shards: int = 4,
    round_scale: int = 6,
    index: DataFrame | None = None,
) -> DataFrame:
    """Brute-force top-k when the index exceeds driver/executor memory:
    split the index into ``num_shards`` hash shards, run
    :func:`cosine_topk`'s kernel per shard (each broadcast is 1/shards
    the size), union the per-shard top-k, re-rank globally.  Exact —
    the true top-k per query is contained in the union of per-shard
    top-ks.  Same output contract as :func:`cosine_topk`.

    ``index`` restricts the searched side to a subset (e.g. only
    labeled vectors for kNN label spreading) while every row of
    ``embeddings`` still gets neighbors; default is self-kNN.
    """
    searched = embeddings if index is None else index
    shards = [
        searched.filter(F.pmod(F.col(id_col), F.lit(num_shards)) == i)
        for i in range(num_shards)
    ]
    per_shard = None
    for shard_index in shards:
        # score every query against THIS shard of the index
        topk = _cosine_topk_against_index(
            embeddings, shard_index, k, id_col, vec_col, round_scale
        )
        per_shard = topk if per_shard is None else per_shard.unionByName(topk)
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.col("neighbor_id"))
    return (
        per_shard.drop("rank")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


# spread_partitions moved to sources/io.py (round 12: the shared
# parallelism guard) — re-exported here for existing callers.
from clv_data_pipeline_spark.sources.io import (  # noqa: E402,F401
    spread_partitions,
)


def _cosine_topk_against_index(
    queries: DataFrame,
    index: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    round_scale: int,
) -> DataFrame:
    """Shared kernel: broadcast ``index`` as a dense matrix, stream
    ``queries`` through mapInPandas, BLAS-matmul per Arrow batch."""
    import numpy as np
    import pandas as pd

    index_pdf = index.select(id_col, vec_col).toPandas()
    if index_pdf.empty:
        # empty index shard -> no candidates from it
        return queries.sparkSession.createDataFrame(
            [], "vec_id long, neighbor_id long, sim double, rank long"
        )
    ids_b = index_pdf[id_col].to_numpy(dtype=np.int64)
    B = np.stack(index_pdf[vec_col].to_numpy()).astype(np.float64)
    B /= np.linalg.norm(B, axis=1, keepdims=True)
    bc = queries.sparkSession.sparkContext.broadcast((ids_b, B))

    def _score(batches):
        ids_idx, Bn = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            A = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            A /= np.linalg.norm(A, axis=1, keepdims=True)
            sims = np.round(A @ Bn.T, round_scale)
            ids_a = pdf[id_col].to_numpy(dtype=np.int64)
            rows = {"vec_id": [], "neighbor_id": [], "sim": [], "rank": []}
            for i, qid in enumerate(ids_a):
                s = sims[i]
                mask = ids_idx != qid
                order = np.lexsort((ids_idx[mask], -s[mask]))[:k]
                nb = ids_idx[mask][order]
                rows["vec_id"].extend([qid] * len(order))
                rows["neighbor_id"].extend(nb.tolist())
                rows["sim"].extend(s[mask][order].tolist())
                rows["rank"].extend(range(1, len(order) + 1))
            yield pd.DataFrame(rows)

    return queries.select(id_col, vec_col).mapInPandas(
        _score, "vec_id long, neighbor_id long, sim double, rank long"
    )


def lsh_signatures_vectorized(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 16,
    seed: int = 7,
) -> DataFrame:
    """SRP signatures via one Arrow-batched matmul: (batch x dim) @
    (dim x planes) -> sign bits -> packed long.  Same hyperplanes as
    :func:`lsh_signature` (deterministic hash-derived coefficients);
    the expression form stays for per-row composition, this is the
    throughput path (16 interpreted fold-dots per vector otherwise).
    """
    import numpy as np
    import pandas as pd

    planes = np.array(
        [_hyperplane(dim, i, seed) for i in range(num_planes)], dtype=np.float64
    ).T  # dim x planes
    weights = (1 << np.arange(num_planes, dtype=np.int64))

    def _sign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            bits = (V @ planes) > 0
            sig = (bits * weights).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col],
                    "_v": pdf[vec_col],
                    "_sig": sig,
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        _sign,
        embeddings.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v")
        ).schema.add("_sig", "long"),
    )


def lsh_topk(
    embeddings: DataFrame,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 32,
    bands: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: SRP signature split into ``bands`` chunks;
    vectors sharing any chunk value pair up, then exact cosine ranks
    within candidates.  Same output contract as :func:`cosine_topk`
    minus recall guarantees.  Signature generation and candidate
    scoring both run as Arrow-batched numpy (matmul/einsum); only
    banding and ranking are DataFrame ops.

    Parameter choice is the classic OR-of-ANDs tradeoff: 8 bands of
    4 bits give measured recall@1 ~= 0.72 on the driver embeddings
    (mid-similarity neighbors); 4 bands of 8 bits drop recall to ~0.10
    while generating few candidates.  For near-duplicate retrieval
    (sim >= 0.9) wider bands are fine; for general ANN prefer more,
    narrower bands and pay the candidate cost.
    """
    import numpy as np
    import pandas as pd

    bits_per_band = num_planes // bands
    mask = (1 << bits_per_band) - 1
    sig = lsh_signatures_vectorized(
        embeddings, id_col, vec_col, dim, num_planes, seed
    )
    # Bucket-local scoring: each (band, band_value) group receives its
    # members' VECTORS (vectors explode bands-times: n*bands rows of
    # ~dim floats — small) and scores all within-bucket pairs in one
    # blocked matmul, emitting only narrow (id, id, sim) rows.  The
    # previous shape — self-join on ids, then two joins to re-attach
    # vectors to every candidate PAIR — shuffled two dense vectors per
    # pair (~0.5 GB at 1M candidates); this shuffles ~bands copies of
    # the table plus 24-byte score rows.  Measured 2.3x faster at
    # sf0.1 with identical output.
    banded_v = sig.select(
        "vec_id",
        "_v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("_sig"), i * bits_per_band)
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("vec_id", "_v", "bk.band", "bk.bv")

    block = 1024  # bounds peak memory to block x bucket floats

    def _bucket_scores(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"vec_id": [], "neighbor_id": [], "sim": []}
            ).astype({"vec_id": "int64", "neighbor_id": "int64", "sim": "float64"})
        ids = pdf["vec_id"].to_numpy()
        V = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        V /= np.linalg.norm(V, axis=1, keepdims=True)
        out_a, out_b, out_s = [], [], []
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            S = V[lo:hi] @ V.T  # (block x n)
            for r in range(hi - lo):
                i = lo + r
                row = S[r, i + 1:]  # j > i: each unordered pair once
                if row.size:
                    out_a.append(np.full(row.size, ids[i]))
                    out_b.append(ids[i + 1:])
                    out_s.append(np.round(row, 6))
        if not out_a:
            return pd.DataFrame(
                {"vec_id": [], "neighbor_id": [], "sim": []}
            ).astype({"vec_id": "int64", "neighbor_id": "int64", "sim": "float64"})
        return pd.DataFrame(
            {
                "vec_id": np.concatenate(out_a),
                "neighbor_id": np.concatenate(out_b),
                "sim": np.concatenate(out_s),
            }
        )

    pairs = banded_v.groupBy("band", "bv").applyInPandas(
        _bucket_scores, "vec_id long, neighbor_id long, sim double"
    )
    # dedup across bands (same pair, same sim), then mirror for per-id
    # top-k ranking
    best = pairs.groupBy("vec_id", "neighbor_id").agg(F.max("sim").alias("sim"))
    sym = best.unionByName(
        best.select(
            F.col("neighbor_id").alias("vec_id"),
            F.col("vec_id").alias("neighbor_id"),
            "sim",
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.col("neighbor_id"))
    return sym.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


def fit_ivf_centroids(
    embeddings: DataFrame,
    k: int = 16,
    sample_n: int = 10_000,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Spherical k-means coarse quantizer for IVF, fit on a
    deterministic hash-ordered sample (at 100 TB you never train the
    quantizer on the full set; xxhash64 ordering makes the sample
    reproducible with no RNG state).  Init picks k evenly spaced
    vectors from the id-sorted sample; Lloyd iterations run in numpy on
    the driver — the quantizer is tiny (k x dim) and broadcasts.

    Returns a unit-normalized (k x dim) float64 matrix.
    """
    import numpy as np

    # deterministic sample WITHOUT a global sort or a pre-count: keep
    # ids whose hash falls in a fixed 1% band and limit.  At index
    # scale (>= ~1M vectors) the band holds >= sample_n rows, so the
    # whole fit costs ONE job that scans ~1% of ids; only when the
    # band comes back short (small tables) does a second, trivially
    # cheap unfiltered limit run.  An orderBy(hash).limit(n) would give
    # the same rows but pays a full sort-shuffle of every vector.
    src = embeddings.select(id_col, vec_col)
    banded = src.filter(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(1_000_000)) < 10_000
    )
    sample = banded.limit(sample_n).toPandas()
    if len(sample) < sample_n:
        sample = src.limit(sample_n).toPandas()
    sample = sample.sort_values(id_col)
    V = np.stack(sample[vec_col].to_numpy()).astype(np.float64)
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    k = min(k, len(V))
    C = V[np.linspace(0, len(V) - 1, k).astype(int)].copy()
    for _ in range(iters):
        assign = (V @ C.T).argmax(axis=1)
        for c in range(k):
            members = V[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
        C /= np.linalg.norm(C, axis=1, keepdims=True)
    return C


def ivf_assign(
    embeddings: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cell assignment — IVF's INVERTED FILE (vec_id, _v, cell), one
    map-only Arrow matmul.  In production this is the stored index
    table (partitioned by cell); q_ann_ivf / q_knn_label_ann
    materialize it as a keyed artifact with that lifecycle."""
    import numpy as np
    import pandas as pd

    bc = embeddings.sparkSession.sparkContext.broadcast(centroids)

    def _assign(batches):
        cent = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col],
                    "_v": pdf[vec_col],
                    "cell": (Vn @ cent.T).argmax(axis=1),
                }
            )

    assign_schema = (
        embeddings.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v")
        ).schema.add("cell", "long")
    )
    return embeddings.select(id_col, vec_col).mapInPandas(
        _assign, assign_schema
    )


def ivf_topk(
    embeddings: DataFrame,
    k: int = 1,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: every vector
    is assigned to its nearest coarse centroid's cell; each query only
    scores vectors in its ``nprobe`` nearest cells.  Same output
    contract as :func:`cosine_topk` minus recall guarantees; recall
    rises with nprobe (nprobe = n_cells is exact brute force).

    Distributed shape: centroids broadcast (k x dim, tiny); cell
    assignment and probe selection are map-only Arrow matmuls; the only
    wide shuffle is the union of member rows (n vectors) and probe
    replicas (n*nprobe vectors) hash-partitioned by cell — scoring
    happens INSIDE each cell group as one blocked matmul, so candidate
    pairs only ever exist as narrow (id, id, sim) rows.  The earlier
    shape (hash join probes><members on cell, then score the joined
    pairs) materialized two dense vectors per candidate pair —
    ~nprobe/n_cells of the full cross product — through Arrow; this
    ships each vector at most 1+nprobe times regardless of how many
    pairs it participates in.  A member belongs to exactly one cell, so
    each (query, member) pair arises in at most one group and needs no
    cross-cell dedup.
    """
    import numpy as np
    import pandas as pd

    C = (
        centroids
        if centroids is not None
        else fit_ivf_centroids(
            embeddings, k=n_cells, id_col=id_col, vec_col=vec_col
        )
    )
    bc = embeddings.sparkSession.sparkContext.broadcast(C)
    nprobe = min(nprobe, len(C))

    if assigned is None:
        assigned = ivf_assign(embeddings, C, id_col, vec_col)

    def _probe(batches):
        cent = bc.value
        np_probe = nprobe
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            cells = np.argsort(-(Vn @ cent.T), axis=1)[:, :np_probe]
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy().repeat(np_probe),
                    "_v": pdf[vec_col].to_numpy().repeat(np_probe),
                    "cell": cells.ravel(),
                }
            )

    probes = embeddings.select(id_col, vec_col).mapInPandas(
        _probe,
        embeddings.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v")
        ).schema.add("cell", "long"),
    )
    both = assigned.withColumn("_q", F.lit(False)).unionByName(
        probes.withColumn("_q", F.lit(True))
    )

    block = 1024  # bounds peak memory to block x cell-members floats

    def _cell_scores(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"vec_id": [], "neighbor_id": [], "sim": []}
        ).astype({"vec_id": "int64", "neighbor_id": "int64", "sim": "float64"})
        q, m = pdf[pdf["_q"]], pdf[~pdf["_q"]]
        if q.empty or m.empty:
            return empty
        qids = q["vec_id"].to_numpy()
        mids = m["vec_id"].to_numpy()
        Q = np.stack(q["_v"].to_numpy()).astype(np.float64)
        M = np.stack(m["_v"].to_numpy()).astype(np.float64)
        Q /= np.linalg.norm(Q, axis=1, keepdims=True)
        M /= np.linalg.norm(M, axis=1, keepdims=True)
        out_q, out_m, out_s = [], [], []
        for lo in range(0, len(Q), block):
            hi = min(lo + block, len(Q))
            S = np.round(Q[lo:hi] @ M.T, 6)  # (block x members)
            out_q.append(np.repeat(qids[lo:hi], len(mids)))
            out_m.append(np.tile(mids, hi - lo))
            out_s.append(S.ravel())
        res = pd.DataFrame(
            {
                "vec_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_m),
                "sim": np.concatenate(out_s),
            }
        )
        return res[res["vec_id"] != res["neighbor_id"]]

    scored = both.groupBy("cell").applyInPandas(
        _cell_scores, "vec_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.col("neighbor_id"))
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


def hard_negatives(
    embeddings: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    num_shards: int = 4,
    round_scale: int = 6,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every labeled
    vector, the top-k most-similar vectors with a DIFFERENT label —
    the pairs that teach a metric model the most.  Same sharded
    broadcast/BLAS shape as :func:`cosine_topk_sharded` (bounded
    per-shard broadcast, exact global re-rank), with the label mask
    applied inside the kernel against the broadcast (ids, labels,
    matrix) triple, so cross-label pairs never materialize outside the
    top-k.  Null-labeled vectors are excluded on both sides (a null
    label is neither same nor different).
    """
    import numpy as np
    import pandas as pd

    labeled = embeddings.filter(F.col(label_col).isNotNull())

    def _vs_shard(shard: DataFrame) -> DataFrame:
        pdf = shard.select(id_col, vec_col, label_col).toPandas()
        if pdf.empty:
            return labeled.sparkSession.createDataFrame(
                [],
                "vec_id long, label long, neg_id long, neg_label long,"
                " sim double, rank long",
            )
        ids_b = pdf[id_col].to_numpy(dtype=np.int64)
        labels_b = pdf[label_col].to_numpy(dtype=np.int64)
        B = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        B /= np.linalg.norm(B, axis=1, keepdims=True)
        bc = labeled.sparkSession.sparkContext.broadcast(
            (ids_b, labels_b, B)
        )

        def _score(batches):
            idx_ids, idx_labels, Bn = bc.value
            for qdf in batches:
                if qdf.empty:
                    continue
                A = np.stack(qdf[vec_col].to_numpy()).astype(np.float64)
                A /= np.linalg.norm(A, axis=1, keepdims=True)
                sims = np.round(A @ Bn.T, round_scale)
                q_ids = qdf[id_col].to_numpy(dtype=np.int64)
                q_labels = qdf[label_col].to_numpy(dtype=np.int64)
                rows = {
                    "vec_id": [], "label": [], "neg_id": [],
                    "neg_label": [], "sim": [], "rank": [],
                }
                for i, qid in enumerate(q_ids):
                    mask = idx_labels != q_labels[i]
                    if not mask.any():
                        continue
                    s = sims[i][mask]
                    nb_ids = idx_ids[mask]
                    nb_labels = idx_labels[mask]
                    order = np.lexsort((nb_ids, -s))[:k]
                    rows["vec_id"].extend([qid] * len(order))
                    rows["label"].extend([q_labels[i]] * len(order))
                    rows["neg_id"].extend(nb_ids[order].tolist())
                    rows["neg_label"].extend(nb_labels[order].tolist())
                    rows["sim"].extend(s[order].tolist())
                    rows["rank"].extend(range(1, len(order) + 1))
                yield pd.DataFrame(rows)

        return labeled.select(id_col, vec_col, label_col).mapInPandas(
            _score,
            "vec_id long, label long, neg_id long, neg_label long,"
            " sim double, rank long",
        )

    per_shard = None
    for i in range(num_shards):
        topk = _vs_shard(
            labeled.filter(F.pmod(F.col(id_col), F.lit(num_shards)) == i)
        )
        per_shard = topk if per_shard is None else per_shard.unionByName(topk)
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.col("neg_id"))
    return (
        per_shard.drop("rank")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def semantic_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 6,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag every corpus
    vector whose nearest benchmark vector scores cosine >= threshold —
    the semantic form of n-gram decontamination (paraphrased benchmark
    answers share no 3-grams but land next to the original in
    embedding space).

    Scale shape mirrors the n-gram variant: eval suites are tiny, so
    the benchmark matrix broadcasts whole and the 100 TB corpus streams
    through one map-only BLAS pass (:func:`_cosine_topk_against_index`
    with k=1); output rows exist only for actual hits.  Exact — no LSH
    recall caveat to argue about in a governance decision.  If the
    benchmark ever outgrows one broadcast, shard it like
    :func:`cosine_topk_sharded` does the index."""
    hits = _cosine_topk_against_index(
        corpus, bench, 1, id_col, vec_col, round_scale
    )
    return hits.filter(F.col("sim") >= threshold).select(
        "vec_id", F.col("neighbor_id").alias("bench_id"), "sim"
    )


def embedding_index(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 32,
    bands: int = 8,
    seed: int = 7,
) -> DataFrame:
    """The stored state of incremental embedding dedup: SRP-LSH posting
    lists — one (vec_id, _v, band, bv) row per band per processed
    vector (dropped ones too, so incremental admission decides exactly
    like a full greedy pass).  In production a persisted table
    partitioned by (band, bv prefix); the banding matches
    :func:`lsh_topk`'s so incremental and full candidates coincide."""
    bits_per_band = num_planes // bands
    mask = (1 << bits_per_band) - 1
    sig = lsh_signatures_vectorized(
        embeddings, id_col, vec_col, dim, num_planes, seed
    )
    return sig.select(
        "vec_id",
        "_v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("_sig"), i * bits_per_band)
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("vec_id", "_v", "bk.band", "bk.bv")


def dedup_embedding_incremental(
    index: DataFrame,
    delta: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **lsh_kwargs,
) -> DataFrame:
    """Admit the delta vectors that survive greedy embedding near-dup
    removal against a corpus summarized by :func:`embedding_index` —
    O(delta), never re-hashing the corpus.  A delta vector drops iff
    it shares an LSH bucket with an indexed vector (all smaller ids)
    or a smaller-id delta vector AND the exact cosine clears the
    threshold; with delta ids appended last this equals
    :func:`dedup_embedding` over the full corpus restricted to the
    delta (pinned in tests).

    Distributed shape: the delta's distinct bucket keys broadcast to
    probe the index map-side (the index is scanned, never exchanged;
    partitioned by band it prunes); the colliding posting rows come
    back candidate-sized and broadcast onto the delta's banded frame,
    so only delta- and candidate-sized rows ever shuffle.  Exact
    scoring runs :func:`_pair_cosine_scores` on the deduped candidate
    pairs.  A spam bucket whose postings outgrow the broadcast is the
    same skew the batch path has — salt the band value or cap posting
    lists upstream."""
    delta_keys = embedding_index(delta, id_col, vec_col, **lsh_kwargs)
    # Persist barrier (see dedup_minhash_incremental): three consumers,
    # each would re-run the delta's SRP hashing without it; delta-sized.
    delta_keys = delta_keys.persist()
    probe = delta_keys.select("band", "bv").distinct()
    hits = index.join(F.broadcast(probe), ["band", "bv"], "left_semi")
    d, x = delta_keys.alias("d"), hits.alias("x")
    vs_index = (
        d.join(F.broadcast(x), ["band", "bv"])
        .select(
            F.col("d.vec_id").alias("vec_id"),
            F.col("x.vec_id").alias("neighbor_id"),
            F.col("d._v").alias("_va"),
            F.col("x._v").alias("_vb"),
        )
    )
    a, b = delta_keys.alias("a"), delta_keys.alias("b")
    in_delta = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.vec_id") > F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.col("a._v").alias("_va"),
            F.col("b._v").alias("_vb"),
        )
    )
    cands = vs_index.unionByName(in_delta).dropDuplicates(
        ["vec_id", "neighbor_id"]
    )
    losers = (
        _pair_cosine_scores(cands, "_va", "_vb")
        .filter(F.col("sim") >= threshold)
        .select(F.col("vec_id").alias(id_col))
        .distinct()
    )
    return delta.join(losers, id_col, "left_anti")


def dedup_embedding(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **lsh_kwargs,
) -> DataFrame:
    """Embedding-cosine near-dup removal: LSH candidates, cosine >=
    threshold, drop the larger id of each duplicate pair (greedy
    min-id winner, same convention as the text dedups)."""
    cands = lsh_topk(
        embeddings, k=1_000_000, id_col=id_col, vec_col=vec_col, **lsh_kwargs
    ).filter((F.col("sim") >= threshold) & (F.col("vec_id") < F.col("neighbor_id")))
    losers = cands.select(F.col("neighbor_id").alias(id_col)).distinct()
    return embeddings.join(losers, id_col, "left_anti")


def semdedup(
    embeddings: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by k-means clustering + WITHIN-cluster pairwise
    cosine — the method used to prune web-scale image/text corpora
    where MinHash misses paraphrases andall-pairs cosine is quadratic.

    Clustering makes the quadratic local: pairwise similarity is only
    computed inside a cell, so the cost is sum(|cell|^2) ≈ n^2/k
    rather than n^2, and each cell's Gram matrix fits one Arrow batch.
    Admission is greedy by ascending id (the q_minhash_dedup
    convention, deterministic and partition-independent — the
    published farthest-from-centroid keep rule is a one-line swap):
    a vector is kept unless some already-kept vector in its cell
    scores >= threshold; duplicates record which keeper absorbed them.

    Returns (vec_id, cell, kept, dup_of, max_sim) — max_sim is the
    best score against earlier-kept vectors (NULL for each cell's
    first vector).  Cross-cell near-dups at the quantizer boundary are
    the documented approximation (the paper's too); raise n_cells
    accuracy-vs-cost like nprobe in IVF."""
    import numpy as np
    import pandas as pd

    if centroids is None:
        centroids = fit_ivf_centroids(
            embeddings, k=n_cells, id_col=id_col, vec_col=vec_col
        )
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col)

    def _dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        V = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        V /= np.linalg.norm(V, axis=1, keepdims=True)
        G = V @ V.T
        kept_idx: list[int] = []
        kept, dup_of, max_sim = [], [], []
        for j in range(len(pdf)):
            if kept_idx:
                sims = G[j, kept_idx]
                b = int(np.argmax(sims))
                s = round(float(sims[b]), 6)
            else:
                b, s = -1, None
            if s is not None and s >= threshold:
                kept.append(False)
                dup_of.append(int(pdf["vec_id"].iloc[kept_idx[b]]))
            else:
                kept.append(True)
                dup_of.append(None)
                kept_idx.append(j)
            max_sim.append(s)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "cell": pdf["cell"],
                "kept": kept,
                "dup_of": pd.array(dup_of, dtype="Int64"),
                "max_sim": pd.array(max_sim, dtype="float64"),
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        _dedup_cell,
        "vec_id long, cell long, kept boolean, dup_of long, max_sim double",
    )
