"""Approximate similarity search at scale: SRP-LSH and IVF indexes
over an ``array<float>`` embedding column, plus embedding-cosine
near-duplicate detection.

The reference's FLAT index is an exact scan (SURVEY §2.5 Q2) — fine
for one machine, linear-in-N per query. These operators are the
100 TB path SURVEY §4.3.2 sketches: cut the scanned fraction with a
cheap JVM-side prefilter, then run the exact search's rank only
inside the surviving candidate set: the prefilter is SQL text
(:func:`srp_radius_sql`, :func:`ivf_probe_sql`) passed as the
``where`` of ``operators/search.py``'s one exact-rank text, and PQ's
re-rank pool goes through the same text. Both index types are plain
DataFrame columns — no native index structure, so they inherit
Parquet partition pruning, predicate pushdown, and AQE for free:

  SRP (signed random projections, Charikar 2002): sign-bit signature
    of V·P for a seeded Gaussian plane set P. sig is ONE long column;
    P[bit match] = 1 - angle/π. Candidates = rows whose signature
    Hamming-distance to the query signature ≤ probe radius — a
    bit_count(xor) <= r scan, no vector math. Persist the table
    partitioned/z-ordered by signature prefix and the scan prunes
    whole files.

  IVF (inverted file, à la FAISS IVF-Flat): k-means centroids learned
    with Lloyd iterations expressed as Spark aggregations (element-
    wise avg per cluster — dim × avg() columns, all JVM); each row
    stores its nearest centroid id. Query probes the nprobe nearest
    centroids and scans only those clusters — at scale, cluster id is
    the partition key, so a probe is a partition-pruned read of
    nprobe/k of the data.

Recall is tunable (probe radius / nprobe); tests measure it against
the exact scan on the driver's embeddings table.
"""

from __future__ import annotations

import uuid

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vectordb_light_spark.functions.vector import cosine_similarity, dot_product
from vectordb_light_spark.operators.dedup import capped_band_pairs, over_cap
from vectordb_light_spark.operators.search import (
    SearchParams,
    _batched_topk,
    _exact_topk,
)
from vectordb_light_spark.session import literal_array_sql, quote_ident, sql_over
from vectordb_light_spark.session import persist_if_batch as _persist_if_batch

DEFAULT_PLANES = 16
DEFAULT_SEED = 42


# ---------------------------------------------------------------------------
# SRP-LSH
# ---------------------------------------------------------------------------


def srp_planes(dim: int, n_planes: int = DEFAULT_PLANES, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Deterministic Gaussian hyperplanes [n_planes, dim] — same on
    driver and in literals, so query- and build-side signatures agree."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def make_srp_udf(planes: np.ndarray):
    """Arrow-batched SRP signature: [n,d] block @ planesᵀ → sign bits →
    packed uint64 viewed as long (two's complement — the same words as
    the driver-side :func:`srp_signature_of`, which
    ``tests/test_similarity.py`` checks on 16-plane signatures). Null
    vectors sign to 0."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    n_planes = planes.shape[0]
    weights = np.left_shift(
        np.uint64(1), np.arange(n_planes, dtype=np.uint64)
    )

    @pandas_udf(LongType())
    def srp(vecs: pd.Series) -> pd.Series:
        mask = vecs.notna().to_numpy()
        out = np.zeros(len(vecs), dtype=np.uint64)
        if mask.any():
            mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in vecs[mask]]
            )
            bits = (mat @ planes.T) >= 0
            out[mask] = (bits.astype(np.uint64) * weights[None, :]).sum(
                axis=1, dtype=np.uint64
            )
        return pd.Series(out.view(np.int64))

    return srp


def srp_signature_of(vec: list[float], planes: np.ndarray) -> int:
    """Driver-side signature of one vector (query side)."""
    sig = 0
    dots = planes @ np.asarray(vec, dtype=np.float64)
    for i, d in enumerate(dots):
        if d >= 0:
            sig += -(1 << 63) if i == 63 else (1 << i)
    return sig


def add_srp_signature(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    out_col: str = "srp_sig",
    n_planes: int = DEFAULT_PLANES,
    seed: int = DEFAULT_SEED,
    dim: int | None = None,
) -> DataFrame:
    """Index build: add the signature column (map-only, no shuffle).
    At scale, follow with ``.write.partitionBy(prefix(out_col))`` so
    query-time candidate filters prune files."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = srp_planes(dim, n_planes, seed)
    return df.withColumn(out_col, make_srp_udf(planes)(F.col(vec_col)))


def srp_band_keys(sig: Column, n_planes: int, bands: int) -> Column:
    """Split an ``n_planes``-bit SRP signature into ``bands`` band
    values (``n_planes // bands`` bits each), the SRP twin of
    :func:`~vectordb_light_spark.operators.dedup.lsh_band_keys`;
    posexplode it so different bands never collide in the join key.

    Raises ``ValueError`` for a zero-width band (``bands`` >
    ``n_planes``): every row would share every band value and the
    band join would silently go all-pairs."""
    bits_per_band = n_planes // bands
    if bits_per_band < 1:
        raise ValueError(
            f"zero-width SRP bands: bands={bands} exceeds n_planes={n_planes}"
        )
    mask = (1 << bits_per_band) - 1 if bits_per_band < 64 else -1
    return F.array(
        *[
            F.shiftrightunsigned(sig, i * bits_per_band)
            .bitwiseAND(F.lit(mask).cast("long"))
            for i in range(bands)
        ]
    )


def srp_radius_sql(
    query: list[float],
    radius: int,
    *,
    sig_col: str = "srp_sig",
    n_planes: int = DEFAULT_PLANES,
    seed: int = DEFAULT_SEED,
) -> str:
    """The SRP Hamming-ball candidate filter as SQL:
    ``bit_count(sig XOR qsig) <= radius`` — a long-int predicate with
    zero vector math on pruned rows, shared by :func:`ann_topk_srp`
    and ``VectorDB.search(ann_radius=)``."""
    qsig = srp_signature_of(query, srp_planes(len(query), n_planes, seed))
    return f"bit_count({quote_ident(sig_col)} ^ ({qsig}L)) <= {int(radius)}"


def ann_topk_srp(
    indexed: DataFrame,
    query: list[float],
    *,
    k: int = 10,
    probe_hamming: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sig_col: str = "srp_sig",
    n_planes: int = DEFAULT_PLANES,
    seed: int = DEFAULT_SEED,
    assume_normalized: bool = True,
) -> DataFrame:
    """ANN top-k: Hamming-ball candidate filter on the signature
    (:func:`srp_radius_sql`), then the exact search's cosine rank
    within candidates. Returns the input columns minus the vector,
    plus ``similarity_score``, in rank order.

    Expected candidate fraction at radius r: Σ_{i≤r} C(n,i)·pⁱ(1-p)ⁿ⁻ⁱ
    over the per-bit match probability p (angle-dependent); raise the
    radius for recall, lower it for speed.
    """
    where = srp_radius_sql(
        query, probe_hamming, sig_col=sig_col, n_planes=n_planes, seed=seed
    )
    params = SearchParams(k=k, threshold=0.0, assume_normalized=assume_normalized)
    return _exact_topk(
        indexed, query, params, id_col=id_col, vec_col=vec_col, where=where
    ).drop("rank")


# ---------------------------------------------------------------------------
# IVF
# ---------------------------------------------------------------------------


def train_ivf_centroids(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    n_iters: int = 5,
    dim: int | None = None,
    max_train: int = 25_000,
) -> np.ndarray:
    """Spherical k-means centroids trained on a deterministic hash
    sample of ≤ ``max_train`` vectors, Lloyd-iterated locally in numpy.

    This is the FAISS-style scale design: k-means needs only a sample
    (≈ hundreds of points per centroid), so training is ONE partition-
    parallel sampled scan + a driver-local BLAS loop — not n_iters
    full-table Spark jobs. The sample predicate ``xxhash64(id) %% B <
    keep`` is partition-independent and reproducible at any scale.
    Init: the n_centroids lowest-id sampled vectors (deterministic).
    Empty clusters keep their previous centroid. Returns unit-norm
    [n_centroids, dim] (unit inputs ⇒ max-dot assignment ≡ min-L2).
    """
    mat = _sampled_matrix(df, vec_col=vec_col, id_col=id_col, max_train=max_train)
    if dim is None:
        dim = mat.shape[1]
    centroids = mat[:n_centroids].copy()

    for _ in range(n_iters):
        assign = np.argmax(mat @ centroids.T, axis=1)
        for c in range(n_centroids):
            members = mat[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
        norms = np.linalg.norm(centroids, axis=1, keepdims=True)
        np.maximum(norms, 1e-12, out=norms)
        centroids = centroids / norms  # unit inputs → spherical k-means
    return centroids


def make_ivf_assign_udf(centroids: np.ndarray):
    """Arrow-batched nearest-centroid assignment: one block matmul +
    argmax per batch. On equal dots the LARGEST centroid index wins:
    argmax runs on the reversed column order."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    cents = np.ascontiguousarray(centroids, dtype=np.float64)

    @pandas_udf(IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        dots = mat @ cents.T
        k = dots.shape[1]
        best = k - 1 - np.argmax(dots[:, ::-1], axis=1)
        return pd.Series(best.astype(np.int32))

    return assign


def add_ivf_cluster(
    df: DataFrame,
    centroids: np.ndarray,
    *,
    vec_col: str = "embedding",
    out_col: str = "ivf_cluster",
) -> DataFrame:
    """Index build: attach nearest-centroid id (map-only, vectorized).
    At scale, ``.write.partitionBy(out_col)`` makes every probe a
    partition-pruned read."""
    return df.withColumn(out_col, make_ivf_assign_udf(centroids)(F.col(vec_col)))


def ivf_probe_sql(
    centroids: np.ndarray,
    query: list[float],
    nprobe: int,
    *,
    cluster_col: str = "ivf_cluster",
) -> str:
    """The IVF probe as SQL: ``cluster IN (...)`` over the ``nprobe``
    centroids nearest the query, ranked driver-side (tiny). Shared by
    :func:`ann_topk_ivf` and :func:`ann_topk_ivfpq`; on a store
    partitioned by cluster id it is a partition filter."""
    order = np.argsort(-(centroids @ np.asarray(query, dtype=np.float64)))
    probes = ", ".join(str(int(c)) for c in order[:nprobe])
    return f"{quote_ident(cluster_col)} IN ({probes})" if probes else "FALSE"


def ann_topk_ivf(
    indexed: DataFrame,
    centroids: np.ndarray,
    query: list[float],
    *,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "ivf_cluster",
) -> DataFrame:
    """IVF probe: scan only the nprobe nearest clusters
    (:func:`ivf_probe_sql`), exact-rank within them through the exact
    search's text. Returns the input columns minus the vector, plus
    ``similarity_score``, in rank order."""
    where = ivf_probe_sql(centroids, query, nprobe, cluster_col=cluster_col)
    params = SearchParams(k=k, threshold=0.0, assume_normalized=True)
    return _exact_topk(
        indexed, query, params, id_col=id_col, vec_col=vec_col, where=where
    ).drop("rank")


# ---------------------------------------------------------------------------
# Cosine pair joins / embedding near-dup
# ---------------------------------------------------------------------------


def cosine_pairs_exact(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    assume_normalized: bool = True,
    block_rows: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold (id_a < id_b) as a
    broadcast block-matmul.

    One side is broadcast to every executor as a dense float64 matrix;
    each partition of the other side multiplies its block against it
    with BLAS (``A_block @ Bᵀ``) and emits only pairs above threshold.
    Versus a crossJoin + per-pair higher-order-function dot product
    this removes the O(N²) row explosion from the plan entirely —
    the pair set is born already-filtered inside the map stage.

    Scale: the broadcast side must fit executor memory (64-dim
    float64 ≈ 0.5 MB per 1000 vectors, so ~10⁷ vectors per 5 GB).
    ``block_rows`` bounds the PEAK: the similarity block per batch is
    [arrow_batch × block_rows] instead of [arrow_batch × N], looping
    B-chunks inside the same stage — same output, same plan, O(N·d +
    batch·block) working set. Past driver-collect reach, the LSH tier
    (:func:`embedding_near_dup_pairs_banded`) takes over.
    """
    spark = df.sparkSession
    # Persist the projection: the broadcast-side collect below and the
    # distributed map side both consume it. The tier already requires
    # this projection to fit cluster memory.
    proj = _persist_if_batch(df.select(id_col, vec_col))
    rows = proj.collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    if not assume_normalized:
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        np.maximum(norms, 1e-12, out=norms)
        mat = mat / norms
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    def run(batches):
        oids = b_ids.value
        omat = b_mat.value
        step = block_rows or len(oids) or 1
        for pdf in batches:
            a_ids = pdf[id_col].to_numpy(dtype=np.int64)
            a_mat = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            if not assume_normalized and len(a_mat):
                n = np.linalg.norm(a_mat, axis=1, keepdims=True)
                np.maximum(n, 1e-12, out=n)
                a_mat = a_mat / n
            if not len(a_mat):
                continue
            for lo in range(0, len(oids), step):
                o_ids = oids[lo : lo + step]
                sims = a_mat @ omat[lo : lo + step].T
                ai, bj = np.where(
                    (sims >= threshold) & (a_ids[:, None] < o_ids[None, :])
                )
                if len(ai):
                    yield pd.DataFrame(
                        {
                            "id_a": a_ids[ai],
                            "id_b": o_ids[bj],
                            "cosine": sims[ai, bj],
                        }
                    )

    return proj.mapInPandas(run, schema="id_a long, id_b long, cosine double")


def cosine_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    tier: str = "auto",
    max_broadcast_bytes: int = 512 * 1024 * 1024,
    n_rows: int | None = None,
    dim: int | None = None,
    **tier_kwargs,
) -> DataFrame:
    """Pairwise-cosine TIER DISPATCHER — the entry point callers
    should use.

    ``cosine_pairs_exact`` driver-collects and broadcasts the whole
    vector matrix: the right tool up to ~10⁷ small vectors, an OOM
    past that. This wrapper picks the tier from a CHEAP size estimate
    (``df.count()`` × dim × 8 bytes — count() on a parquet scan is
    metadata-only) so the exact tier cannot be misapplied at 100× the
    data:

    - estimated matrix ≤ ``max_broadcast_bytes`` → exact block-matmul
      (full recall);
    - larger → SRP-banded LSH (:func:`embedding_near_dup_pairs_banded`,
      ~94% recall at cos ≥ 0.9 defaults), which never collects or
      broadcasts either side.

    ``tier='exact' | 'lsh'`` overrides explicitly — 'exact' SKIPS the
    size probe entirely (and its count job); you assert reach.
    ``n_rows`` / ``dim`` short-circuit the count() / first() probe
    jobs when the caller already knows them (a built vector store's
    ``_meta.json`` records both — the engine facade passes them, r6
    verdict item 6); with both supplied, tier dispatch runs ZERO
    jobs. Extra kwargs pass through to the chosen tier.
    """
    if tier not in ("auto", "exact", "lsh"):
        raise ValueError(f"tier must be auto|exact|lsh, got {tier!r}")
    if tier == "auto":
        n = n_rows if n_rows is not None else df.count()
        if dim is None:
            first = df.select(vec_col).first()
            dim = len(first[0]) if first else 0
        tier = "exact" if n * dim * 8 <= max_broadcast_bytes else "lsh"
    if tier == "exact":
        return cosine_pairs_exact(
            df, id_col=id_col, vec_col=vec_col, threshold=threshold, **tier_kwargs
        )
    return embedding_near_dup_pairs_banded(
        df, id_col=id_col, vec_col=vec_col, threshold=threshold, dim=dim,
        **tier_kwargs,
    )


def semantic_dedup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    tier: str = "auto",
    max_iter: int = 20,
    pointer_jumping: bool | str = False,
    cc_stats: dict | None = None,
    **tier_kwargs,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public method): embedding-cosine near-dup PAIRS
    (:func:`cosine_pairs`, tiered: exact block-matmul within
    broadcast reach, SRP-banded LSH past it) → transitive CLUSTERS
    (min-label connected components — pairs alone under-merge
    A~B~C chains) → a keep-one-per-cluster decision for EVERY input
    row: ``(id, cluster_id, cluster_size, keep)`` where unpaired rows
    are their own singleton keepers and each cluster's min-id row
    survives (deterministic, rerun-stable — the convention every
    dedup tier here shares).

    The paper clusters with k-means purely to BOUND the pairwise
    search; here that bounding is the cosine_pairs tier dispatch
    itself (the LSH band join plays the k-means role at scale), so
    the semantics — drop all but one of each semantically-identical
    group — are preserved without a trained clustering stage.
    Filter ``keep`` to materialize the deduplicated corpus.

    Scale shape: pairs never exceed the threshold band (no all-pairs
    anywhere), CC runs O(cluster diameter) rounds on the pair set
    only, and the final left join ships the compact cluster table
    (paired ids only) against the input ids.

    ``cc_stats``, when a dict, receives the clustering stage's round
    count / per-round walls (components.connected_components stats —
    the r12 variance-instrumentation hook, surfaced so facade users
    can attribute wall swings to rounds vs host band).
    """
    from vectordb_light_spark.operators.components import duplicate_clusters

    pairs = cosine_pairs(
        df,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        tier=tier,
        **tier_kwargs,
    )
    clusters = duplicate_clusters(
        pairs.select("id_a", "id_b"), left_id="id_a", right_id="id_b",
        max_iter=max_iter, pointer_jumping=pointer_jumping,
        stats=cc_stats,
    ).withColumnRenamed("doc_id", id_col)
    return (
        df.select(id_col)
        .join(clusters, id_col, "left")
        .select(
            id_col,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
            F.coalesce("cluster_size", F.lit(1)).cast("long").alias("cluster_size"),
            F.coalesce("keep", F.lit(True)).alias("keep"),
        )
    )


def ann_topk_join_lsh(
    left: DataFrame,
    right: DataFrame,
    *,
    k: int = 10,
    left_id: str = "l_id",
    right_id: str = "r_id",
    left_vec: str = "l_vec",
    right_vec: str = "r_vec",
    n_planes: int = 64,
    bands: int = 16,
    seed: int = DEFAULT_SEED,
    max_right_bucket: int | None = 256,
    max_left_bucket: int | None = 4096,
    left_salts: int = 64,
    broadcast_hot_rows: int = 262_144,
    broadcast_hot_bytes: int = 64 << 20,
    left_rows: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k similarity JOIN for large×large inputs:
    every left row gets its ≤k most-cosine-similar right rows.

    Neither side is collected or broadcast — this is the tier past
    :func:`~vectordb_light_spark.operators.search.topk_cosine_batch`'s
    broadcastable-queries contract. Both sides are SRP-signed
    (vectorized matmul stage), banded into ``bands`` exact-match keys,
    and candidates meet in a band equi-join; the exact dot product
    runs only on candidates, and a per-left window keeps the top-k.
    Recall is the LSH S-curve P[meet] = 1-(1-p^r)^b with p = 1-θ/π —
    at 64 planes / 16 bands ≈ .97 for cos ≥ .8 pairs; raise ``bands``
    (smaller r) for more recall / more candidates. Output: (left id,
    right id, cosine, rank). Vectors ride the banded rows (one
    exploded copy per band); for very wide vectors trade that for a
    late re-join on id as in :func:`embedding_near_dup_pairs_banded`.

    RANDOM band-key collisions are uniform, but near-identical right
    rows share band keys BY CONSTRUCTION — a boilerplate cluster of D
    rights would put every left in its bucket against all D.
    ``max_right_bucket`` truncates each (band, key) bucket to the
    lowest right ids (deterministic), bounding the worst task at
    |left bucket| × cap candidates; a dropped right can still meet a
    left through its other ``bands − 1`` keys, and at the default the
    cap only engages on buckets > 256 — documented recall tradeoff
    inside hot buckets only. ``None`` disables.

    ``max_left_bucket`` bounds the LEFT side's skew: the right
    truncation makes hot tasks linear in the left bucket (never
    quadratic), but a boilerplate cluster of D left rows in one band
    bucket still lands one D × ``max_right_bucket`` join task. Keys
    whose left bucket exceeds the cap get one of two skew-free plans:

    - **Hot-bucket broadcast (preferred)**: the hot keys' TRUNCATED
      right buckets total ≤ n_hot × ``max_right_bucket`` rows; when
      that fits ``broadcast_hot_rows`` they broadcast and the hot
      lefts join MAP-SIDE on their existing partitioning — no
      exchange of hot left rows, no reducer, hence no skew at ANY
      cluster size, and immune to the AQE coalescing trap (AQE sizes
      reducers by shuffle-INPUT bytes and cannot see a multiplying
      join's output, so salted reducers can get merged back into a
      few fat tasks — measured in SCALING.md "Salted LSH" section).
    - **Adaptive salting (fallback)** when the hot-key set itself is
      too large to broadcast: each hot key splits into ``s = min(
      left_salts, ceil(bucket/max_left_bucket))`` salt groups, each
      hot left row takes a deterministic ``xxhash64(id) % s`` join-
      key suffix, and the truncated right bucket replicates across
      the ``s`` replicas — per-reducer candidates bounded at
      ``max_left_bucket × max_right_bucket`` until the ``left_salts``
      replication cap engages at clusters > ``left_salts ×
      max_left_bucket``.

    Both plans are pure repartitioning: every (left, right) candidate
    pair still meets exactly once, so output is UNCHANGED vs the
    unsalted join (asserted across all three paths in
    tests/test_similarity.py). ``None`` disables. Skew handling
    requires ``max_right_bucket``: both bounds come from TRUNCATED
    right buckets, so ``max_left_bucket`` with
    ``max_right_bucket=None`` would replicate/broadcast unbounded
    buckets — that combination raises ``ValueError``. Measured:
    SCALING.md "Salted LSH top-k join" section (x16 mega-cluster
    growth; broadcast path flattens the worst join task where the
    unsalted plan's grows 24×).

    The hot-key probe (one groupBy pass over the persisted banded
    left) is SKIPPED when no bucket can possibly exceed
    ``max_left_bucket``: each left row lands in exactly one bucket
    per band index, so no bucket can outgrow the left ROW count.
    Pass ``left_rows`` (a caller-known upper bound on left rows) to
    skip the probe, the persist, and their driver jobs entirely;
    without the hint a plain persisted count (no shuffle, cheaper
    than the probe's aggregation) makes the same call.

    The hot-bucket broadcast gate is sized in BOTH rows
    (``broadcast_hot_rows``) and estimated bytes
    (``broadcast_hot_bytes``, default 64 MiB): hot_b rows carry the
    full right vector, so with wide embeddings a row-count-only gate
    could admit a multi-GB broadcast (1024-dim float ≈ 4 KiB/row).
    Estimated bytes = n_hot × max_right_bucket × (elem·dim + 64)
    with elem read from the right vector's schema — 4 for
    array<float>, 8 for array<double> (r6 ADVICE: a flat 4·dim
    under-counted double embeddings ~2x) — plus id/band-key/row
    overhead; oversize hot sets take the adaptive-salting fallback
    instead.
    """
    if max_left_bucket is not None and max_right_bucket is None:
        raise ValueError(
            "max_left_bucket salting requires max_right_bucket: the "
            "worst-task bound (max_left_bucket x max_right_bucket / "
            "left_salts) only holds for truncated right buckets; pass "
            "max_left_bucket=None to disable salting instead"
        )
    band_vals = srp_band_keys(F.col("__sig"), n_planes, bands)
    if dim is None:  # dim hint (r6 item 6): skips the first() probe
        dim = len(left.select(left_vec).first()[0])
    planes = srp_planes(dim, n_planes, seed)

    def banded(df, id_col, vec_col):
        sig = make_srp_udf(planes)(F.col(vec_col))
        with_sig = df.select(F.col(id_col), F.col(vec_col), sig.alias("__sig"))
        return with_sig.select(
            id_col, vec_col, F.posexplode(band_vals).alias("__b_idx", "__b_val")
        )

    a = banded(left, left_id, left_vec)
    b = banded(right, right_id, right_vec)
    keys = ["__b_idx", "__b_val"]
    if max_right_bucket is not None:
        # one extra exchange of the banded right side, on the SAME
        # keys the join shuffles on (partitioning reused downstream)
        wb = Window.partitionBy(*keys).orderBy(F.col(right_id).asc())
        b = (
            b.withColumn("__rn", F.row_number().over(wb))
            .where(F.col("__rn") <= F.lit(max_right_bucket))
            .drop("__rn")
        )
    skip_probe = left_rows is not None and left_rows <= max_left_bucket if (
        max_left_bucket is not None
    ) else False
    if max_left_bucket is not None and not skip_probe and left_rows is None:
        # No caller hint: a plain count of the persisted banded left
        # (no shuffle) decides whether the probe can engage at all —
        # banded rows = left rows × bands, and no bucket can exceed
        # the left row count (one bucket per band index per row).
        a = _persist_if_batch(a)
        skip_probe = a.count() <= max_left_bucket * bands
    if max_left_bucket is not None and not skip_probe:
        # Left-skew handling. Persist so the SRP stage feeds the
        # hot-key count and both probes once.
        a = _persist_if_batch(a)
        hot_keys = (
            over_cap(a, keys, max_left_bucket)
            .withColumn(
                "__salts",
                F.least(
                    F.lit(left_salts),
                    F.ceil(F.col("__bc") / F.lit(max_left_bucket)),
                ).cast("int"),
            )
            .select(*keys, "__salts")
        )
        n_hot = hot_keys.count()
        if n_hot == 0:
            joined = a.join(b, keys)
        else:
            cold_a = a.join(hot_keys.select(*keys), keys, "left_anti")
            hot_a = a.join(hot_keys.select(*keys), keys, "left_semi")
            hot_b = b.join(hot_keys.select(*keys), keys, "left_semi")
            # element width from the schema (r6 ADVICE — a flat 4·dim
            # under-counted array<double> embeddings ~2x and could
            # admit ~128 MiB against the documented 64 MiB cap);
            # +64 covers ids/keys/row overhead
            from pyspark.sql.types import FloatType

            elem_t = right.schema[right_vec].dataType.elementType
            elem_bytes = 4 if isinstance(elem_t, FloatType) else 8
            est_hot_bytes = n_hot * max_right_bucket * (elem_bytes * dim + 64)
            if (
                n_hot * max_right_bucket <= broadcast_hot_rows
                and est_hot_bytes <= broadcast_hot_bytes
            ):
                # PREFERRED: the truncated hot right buckets are tiny
                # (≤ n_hot × max_right_bucket rows), so broadcast them
                # and join the hot lefts MAP-SIDE on their existing
                # partitioning — no exchange of the hot left rows, no
                # reducer skew, and no AQE coalescing trap (AQE sizes
                # reducers by shuffle-input bytes and cannot see a
                # multiplying join's output, so a salted hot bucket
                # can get merged back into a handful of fat tasks —
                # measured in SCALING.md "Salted LSH" section).
                hot_join = hot_a.join(F.broadcast(hot_b), keys)
            else:
                # FALLBACK (hot-key set too large to broadcast):
                # adaptive salting — each hot key splits into
                # ceil(bucket/max_left_bucket) ≤ left_salts salt
                # groups; the truncated right bucket replicates
                # across them. Pure repartitioning, output unchanged.
                hot_ac = a.join(hot_keys, keys).withColumn(
                    "__salt",
                    F.pmod(
                        F.xxhash64(F.col(left_id)), F.col("__salts")
                    ).cast("int"),
                )
                hot_bc = b.join(hot_keys, keys).withColumn(
                    "__salt",
                    # sequence of int bounds explodes to int —
                    # matches the cast pmod on the left side
                    F.explode(F.sequence(F.lit(0), F.col("__salts") - 1)),
                )
                hot_join = (
                    hot_ac.drop("__salts")
                    .join(hot_bc.drop("__salts"), [*keys, "__salt"])
                    .drop("__salt")
                )
            joined = cold_a.join(b, keys).unionByName(hot_join)
    else:
        joined = a.join(b, keys)
    cand = (
        joined
        .dropDuplicates([left_id, right_id])
        .withColumn("cosine", cosine_similarity(left_vec, right_vec))
    )
    w = Window.partitionBy(left_id).orderBy(
        F.col("cosine").desc(), F.col(right_id).asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.lit(k))
        .select(left_id, right_id, "cosine", "rank")
    )


def embedding_near_dup_pairs_banded(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 64,
    bands: int = 8,
    seed: int = DEFAULT_SEED,
    hamming_slack: float = 1.35,
    max_bucket: int | None = 128,
    dim: int | None = None,
    assume_normalized: bool = True,
) -> DataFrame:
    """High-threshold near-dup pairs via SRP BANDING (minhash-style
    S-curve, probabilistic recall) — the scale tier
    :func:`cosine_pairs` dispatches to past broadcast reach.

    Three sieves, each far cheaper than the next stage's unit cost:
      1. band equi-join: 64-bit signature split into ``bands`` exact-
         match keys; P[candidate] = 1-(1-p^r)^b with p = 1-θ/π
         (at cos ≥ 0.9 and 8×8 bands: ~94% recall; random pairs ~0%)
      2. full-signature Hamming prefilter at
         ceil(n_planes·θ_threshold/π·slack) bits — one bit_count(xor)
      3. exact cosine verify ≥ threshold — a plain dot product under
         ``assume_normalized`` (the store's unit vectors), else the
         norm-guarded cosine, as in :func:`cosine_pairs_exact`
    Shuffle carries (band key, id, one long); vectors join back late.

    ``max_bucket`` is the hot-bucket star collapse shared with the
    other LSH tiers (``dedup.capped_band_pairs``): identical
    embeddings share every band key by construction, so buckets above
    the cap link members to their signature-group min id (still
    cosine-verified) instead of emitting |bucket|²/2 pairs in one task.
    """
    import math

    band_vals = srp_band_keys(F.col("__sig"), n_planes, bands)
    theta = math.acos(min(max(threshold, -1.0), 1.0))
    h_max = math.ceil(n_planes * theta / math.pi * hamming_slack)

    indexed = _persist_if_batch(
        add_srp_signature(
            df, vec_col=vec_col, out_col="__sig", n_planes=n_planes,
            seed=seed, dim=dim,
        ).select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"), "__sig")
    )

    banded = indexed.select(
        "__id", "__sig", F.posexplode(band_vals).alias("__b_idx", "__b_val")
    )
    if max_bucket is not None:
        banded = _persist_if_batch(banded)
    pairs = capped_band_pairs(
        banded,
        ["__b_idx", "__b_val"],
        max_bucket,
        verify=F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))) <= h_max,
    )
    va = indexed.select(F.col("__id").alias("id_a"), F.col("__v").alias("va"))
    vb = indexed.select(F.col("__id").alias("id_b"), F.col("__v").alias("vb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cosine",
            (dot_product if assume_normalized else cosine_similarity)("va", "vb"),
        )
        .where(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN, à la FAISS PQ/ADC
# ---------------------------------------------------------------------------


def train_pq_codebooks(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    n_codes: int = 16,
    n_iters: int = 8,
    max_train: int = 25_000,
) -> np.ndarray:
    """Train PQ codebooks: split each vector into ``m`` equal
    subspaces and k-means each subspace to ``n_codes`` centroids
    (Jégou et al., "Product Quantization for Nearest Neighbor
    Search", TPAMI 2011 — public method, re-implemented).

    Same scale shape as :func:`train_ivf_centroids`: k-means needs a
    sample, not the table, so training is one deterministic
    hash-sampled scan + a driver-local numpy Lloyd loop. Init per
    subspace: the first ``n_codes`` sampled sub-vectors (rows sorted
    by id — reproducible). Empty cells keep their previous centroid.

    Returns ``[m, n_codes, dim//m]`` float64. ``dim`` must divide by
    ``m`` (checked at encode time against the actual vectors).
    """
    if not 1 <= n_codes <= 128:
        # Codes are stored as signed int8 (ByteType): code 128+ would
        # wrap negative and element_at() would silently index the LUT
        # from the END — wrong ADC scores, no error. 256-codeword PQ
        # needs a wider storage type first.
        raise ValueError(f"n_codes must be in [1, 128] for int8 codes, got {n_codes}")
    mat = _sampled_matrix(df, vec_col=vec_col, id_col=id_col, max_train=max_train)
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    return _pq_train_mat(mat, m, n_codes, n_iters)


def make_pq_encode_udf(codebooks: np.ndarray):
    """Arrow-batched PQ encoder: per subspace, argmin-L2 code (first
    index on ties — numpy argmin, deterministic). One matmul per
    subspace per batch."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, ByteType

    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, n_codes, sub = books.shape
    if n_codes > 128:
        raise ValueError(
            f"codebooks have {n_codes} codes; int8 storage allows at most 128"
        )

    @pandas_udf(ArrayType(ByteType(), containsNull=False))
    def encode(vecs: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        if mat.shape[1] != m * sub:
            raise ValueError(f"dim {mat.shape[1]} != m*sub {m * sub}")
        return pd.Series(list(_pq_encode_mat(mat, books).astype(np.int8)))

    return encode


def add_pq_codes(
    df: DataFrame,
    codebooks: np.ndarray,
    *,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Index build: attach the m-byte PQ code (map-only, vectorized).
    The code column is ``m`` bytes vs ``4·dim`` for float32 — for
    dim=768/m=96 a 32× cut of what the ANN scan reads and shuffles;
    the store keeps the full vector only for the final re-rank."""
    return df.withColumn(out_col, make_pq_encode_udf(codebooks)(F.col(vec_col)))


def adc_sql(code_col: str, lut: np.ndarray) -> str:
    """The asymmetric-distance (ADC) score of a PQ code column as SQL
    text: the sum of m lookups of the byte code in the query's
    [m, n_codes] table (``lut[s][code[s]]``), folded left from 0.0.
    ONE parsed expression, like
    :func:`~vectordb_light_spark.operators.search.similarity_sql`: the
    lambda-built form paid a py4j round trip per node at every build."""
    rows = ", ".join(literal_array_sql(row, "double") for row in lut)
    return (
        f"aggregate(zip_with(sequence(1, {len(lut)}), {quote_ident(code_col)}, "
        f"(i, c) -> element_at(element_at(array({rows}), i), CAST(c AS INT) + 1)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def ann_topk_pq(
    encoded: DataFrame,
    codebooks: np.ndarray,
    query: list[float],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    rerank_pool: int | None = None,
    vec_col: str = "embedding",
    rerank_query: list[float] | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k in the compressed domain: the
    query stays un-quantized; per subspace the dot product against
    every codeword is precomputed driver-side into an m×n_codes
    lookup table, and each row's approximate score is the sum of m
    table lookups on its byte code (:func:`adc_sql`), ranked in one
    ``spark.sql`` text over the m-byte column. The
    full vector column is never touched, so the scan reads codes+ids
    only; TakeOrderedAndProject keeps the result at k rows per task.

    Score ≈ cos(q, v) for unit-norm v (it is exactly cos(q, PQ(v))
    up to reconstruction error). ``rerank_pool=R`` (the production
    default — ANN_EVAL.md) keeps the top-R ADC candidates, joins
    their FULL vectors back (broadcast of R ids against the vectors
    projection — at scale a bucketed/sorted-by-id store makes this a
    pruned point-fetch, not a second full scan) and exact-ranks the
    final k with the exact search's text (``operators/search.py``,
    so the scores are clipped cosines): ADC decides WHAT to fetch,
    float math decides the
    ORDER, so recall is bounded by pool membership instead of ADC
    distortion at +R·4·dim bytes of extra read.
    """
    books = np.asarray(codebooks, dtype=np.float64)
    m, n_codes, sub = books.shape
    qv = np.asarray(query, dtype=np.float64)
    if qv.shape[0] != m * sub:
        raise ValueError(f"query dim {qv.shape[0]} != m*sub {m * sub}")
    lut = np.stack([books[s] @ qv[s * sub : (s + 1) * sub] for s in range(m)])
    view, key = f"adc_{uuid.uuid4().hex}", quote_ident(id_col)
    adc = (
        f"SELECT {key}, {adc_sql(code_col, lut)} AS similarity_score "
        f"FROM {quote_ident(view)} ORDER BY similarity_score DESC, {key} ASC"
    )
    if not rerank_pool:
        return sql_over(encoded, view, f"{adc} LIMIT {int(k)}")
    pool = sql_over(
        encoded, view, f"SELECT {key} FROM ({adc} LIMIT {int(rerank_pool)}) AS pool"
    )
    # rerank_query: the vector the exact re-rank scores against —
    # differs from `query` when the ADC space is a transform of the
    # store space (OPQ rotates the query for ADC but re-ranks the
    # original vectors with the original query)
    rq = query if rerank_query is None else rerank_query
    fetched = F.broadcast(pool).join(encoded.select(id_col, vec_col), id_col)
    params = SearchParams(k=k, threshold=0.0, assume_normalized=True)
    return _exact_topk(
        fetched, rq, params, id_col=id_col, vec_col=vec_col
    ).drop("rank")


def ann_topk_ivfpq(
    indexed: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    query: list[float],
    *,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    cluster_col: str = "ivf_cluster",
    code_col: str = "pq_code",
    rerank_pool: int | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF + PQ composed (the FAISS IVFPQ shape): the centroid probe
    prunes WHICH rows are scanned (partition pruning when the table is
    written partitioned by cluster id), PQ prunes WHAT is read per row
    (m bytes instead of the vector). ``indexed`` must carry both the
    cluster and code columns (:func:`add_ivf_cluster` +
    :func:`add_pq_codes`). At 100 TB the probe reads nprobe/k of the
    files and the ADC scan inside them touches codes+ids only — the
    two pruning axes multiply.
    """
    probe = ivf_probe_sql(centroids, query, nprobe, cluster_col=cluster_col)
    return ann_topk_pq(
        indexed.where(probe),
        codebooks,
        query,
        k=k,
        id_col=id_col,
        code_col=code_col,
        rerank_pool=rerank_pool,
        vec_col=vec_col,
    )


# ---------------------------------------------------------------------------
# OPQ — optimized product quantization (learned rotation before PQ)
# ---------------------------------------------------------------------------


def _sampled_matrix(
    df: DataFrame, *, vec_col: str, id_col: str, max_train: int
) -> np.ndarray:
    """Deterministic hash-sampled [n, dim] float64 matrix, rows sorted
    by id — the shared trainer input shape (IVF/PQ/PCA/OPQ all train
    on a sample, never the table)."""
    proj = df.select(id_col, vec_col)
    n = proj.count()
    if n > max_train:
        bound = int(max_train / n * 1_000_000)
        proj = proj.where(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(1_000_000)) < F.lit(bound)
        )
    rows = proj.collect()
    rows.sort(key=lambda r: r[0])
    return np.array([list(r[1]) for r in rows], dtype=np.float64)


def _pq_train_mat(mat: np.ndarray, m: int, n_codes: int, n_iters: int) -> np.ndarray:
    """Per-subspace Lloyd on an in-memory sample → [m, n_codes, sub]
    codebooks (the driver-local core of :func:`train_pq_codebooks`)."""
    dim = mat.shape[1]
    sub = dim // m
    books = np.empty((m, n_codes, sub), dtype=np.float64)
    for s in range(m):
        block = mat[:, s * sub : (s + 1) * sub]
        cents = block[:n_codes].copy()
        for _ in range(n_iters):
            d2 = (cents * cents).sum(axis=1)[None, :] - 2.0 * (block @ cents.T)
            assign = np.argmin(d2, axis=1)
            for c in range(n_codes):
                members = block[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books[s] = cents
    return books


def _pq_encode_mat(mat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """[n, m] int codes via per-subspace argmin-L2 (driver-local)."""
    m, n_codes, sub = books.shape
    codes = np.empty((mat.shape[0], m), dtype=np.int64)
    for s in range(m):
        block = mat[:, s * sub : (s + 1) * sub]
        cents = books[s]
        d2 = (cents * cents).sum(axis=1)[None, :] - 2.0 * (block @ cents.T)
        codes[:, s] = np.argmin(d2, axis=1)
    return codes


def _pq_reconstruct_mat(codes: np.ndarray, books: np.ndarray) -> np.ndarray:
    """[n, dim] reconstruction from codes (driver-local)."""
    m, n_codes, sub = books.shape
    out = np.empty((codes.shape[0], m * sub), dtype=np.float64)
    for s in range(m):
        out[:, s * sub : (s + 1) * sub] = books[s][codes[:, s]]
    return out


def pq_reconstruction_mse(mat: np.ndarray, books: np.ndarray) -> float:
    """Mean squared reconstruction error of a sample under codebooks —
    the PQ/OPQ training objective, exposed for eval/tests."""
    codes = _pq_encode_mat(mat, books)
    err = mat - _pq_reconstruct_mat(codes, books)
    return float((err * err).sum(axis=1).mean())


def train_opq(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    n_codes: int = 16,
    opq_iters: int = 8,
    pq_iters: int = 4,
    n_iters_final: int = 8,
    max_train: int = 25_000,
) -> tuple[np.ndarray, np.ndarray]:
    """OPQ (Ge et al., "Optimized Product Quantization", CVPR 2013 —
    public method, re-implemented): learn an orthogonal rotation R
    that minimizes PQ reconstruction error, by alternating (a) PQ
    codebook training in the rotated space with (b) the orthogonal
    Procrustes solve ``R = U Vᵀ`` of ``svd(Xᵀ X̂)``. Returns
    ``(R [dim, dim], codebooks [m, n_codes, dim//m])``; encode/search
    rotate on the fly, so the STORE keeps original vectors and only
    the m-byte code column is OPQ-specific.

    Same scale shape as the other trainers: one hash-sampled scan,
    then a driver-local numpy loop; the table is never rotated twice.
    With ``opq_iters=0`` this degenerates to plain PQ (R = I).
    """
    if not 1 <= n_codes <= 128:
        raise ValueError(f"n_codes must be in [1, 128] for int8 codes, got {n_codes}")
    X = _sampled_matrix(df, vec_col=vec_col, id_col=id_col, max_train=max_train)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    R = np.eye(dim)
    for _ in range(opq_iters):
        Xr = X @ R
        books = _pq_train_mat(Xr, m, n_codes, pq_iters)
        codes = _pq_encode_mat(Xr, books)
        Xhat = _pq_reconstruct_mat(codes, books)
        U, _, Vt = np.linalg.svd(X.T @ Xhat)
        R = U @ Vt
    books = _pq_train_mat(X @ R, m, n_codes, n_iters_final)
    return R, books


def make_opq_encode_udf(rotation: np.ndarray, codebooks: np.ndarray):
    """Arrow-batched rotate-then-encode: one extra [batch, dim] @
    [dim, dim] matmul fused into the PQ encode stage — no rotated
    vector column ever materializes in the store."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, ByteType

    R = np.ascontiguousarray(rotation, dtype=np.float64)
    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, n_codes, sub = books.shape
    if n_codes > 128:
        raise ValueError(
            f"codebooks have {n_codes} codes; int8 storage allows at most 128"
        )

    @pandas_udf(ArrayType(ByteType(), containsNull=False))
    def encode(vecs: pd.Series) -> pd.Series:
        # validate BEFORE the rotation: a mismatched input dim must
        # raise this ValueError, not an opaque matmul broadcast error
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        if mat.shape[1] != R.shape[0] or mat.shape[1] != m * sub:
            raise ValueError(f"dim {mat.shape[1]} != m*sub {m * sub}")
        return pd.Series(list(_pq_encode_mat(mat @ R, books).astype(np.int8)))

    return encode


def add_opq_codes(
    df: DataFrame,
    rotation: np.ndarray,
    codebooks: np.ndarray,
    *,
    vec_col: str = "embedding",
    out_col: str = "opq_code",
) -> DataFrame:
    """Index build: attach the m-byte OPQ code (map-only). The store
    keeps ORIGINAL vectors — rotation lives only inside the encoder
    and the query path, so exact re-rank needs no inverse transform."""
    return df.withColumn(
        out_col, make_opq_encode_udf(rotation, codebooks)(F.col(vec_col))
    )


def ann_topk_opq(
    encoded: DataFrame,
    rotation: np.ndarray,
    codebooks: np.ndarray,
    query: list[float],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "opq_code",
    rerank_pool: int | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """OPQ ADC top-k: rotate the QUERY driver-side (rotation preserves
    inner products, so ADC in the rotated space estimates the same
    cosine), scan the m-byte codes exactly like :func:`ann_topk_pq`,
    and exact-re-rank the pool against the ORIGINAL vectors and the
    ORIGINAL query — the rotation never touches the store's float
    column."""
    R = np.ascontiguousarray(rotation, dtype=np.float64)
    qv = np.asarray(query, dtype=np.float64)
    q_rot = [float(x) for x in (qv @ R)]
    return ann_topk_pq(
        encoded, codebooks, q_rot, k=k, id_col=id_col,
        code_col=code_col, rerank_pool=rerank_pool, vec_col=vec_col,
        rerank_query=[float(x) for x in qv],
    )


# ---------------------------------------------------------------------------
# Dimensionality reduction — smaller vectors, same pipeline
# ---------------------------------------------------------------------------


def train_pca_projection(
    df: DataFrame,
    out_dim: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_train: int = 25_000,
) -> np.ndarray:
    """PCA projection matrix [dim, out_dim] from a deterministic hash
    sample: covariance + eigendecomposition run driver-side in numpy
    (same scale shape as IVF/PQ training — a sample suffices, the
    table is never eigendecomposed). Columns are the top-``out_dim``
    principal directions (sign-normalized so the result is unique:
    each eigenvector's largest-|component| entry is made positive).
    """
    mat = _sampled_matrix(df, vec_col=vec_col, id_col=id_col, max_train=max_train)
    centered = mat - mat.mean(axis=0, keepdims=True)
    cov = centered.T @ centered / max(len(mat) - 1, 1)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    top = vecs[:, np.argsort(vals)[::-1][:out_dim]]
    # sign normalization → deterministic across BLAS builds
    for j in range(top.shape[1]):
        i = int(np.argmax(np.abs(top[:, j])))
        if top[i, j] < 0:
            top[:, j] = -top[:, j]
    return top


def random_projection_matrix(dim: int, out_dim: int, *, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Seeded Gaussian Johnson-Lindenstrauss projection [dim,
    out_dim] scaled by 1/sqrt(out_dim) — training-free, distance-
    preserving in expectation; the right default when no sample is
    available (e.g. projecting a stream before any data landed)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, out_dim)) / np.sqrt(out_dim)


def project_vectors(
    df: DataFrame,
    projection: np.ndarray,
    *,
    vec_col: str = "embedding",
    out_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """Apply a [dim, out_dim] projection to every vector — one BLAS
    block-matmul per Arrow batch (map-only, no shuffle), optionally
    L2-renormalized so cosine pipelines keep their dot≡cosine
    invariant downstream."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, FloatType

    P = np.ascontiguousarray(projection, dtype=np.float64)

    @pandas_udf(ArrayType(FloatType(), containsNull=False))
    def proj(vecs: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        out = mat @ P
        if normalize:
            norms = np.linalg.norm(out, axis=1, keepdims=True)
            np.maximum(norms, 1e-12, out=norms)
            out = out / norms
        return pd.Series(list(out.astype(np.float32)))

    return df.withColumn(out_col, proj(F.col(vec_col)))


def ann_topk_pq_batch(
    encoded: DataFrame,
    codebooks: np.ndarray,
    queries: list[tuple[int, list[float]]],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Batched ADC: top-k for MANY queries in ONE scan of the m-byte
    code column. Per query the driver builds the m×n_codes lookup
    table; the broadcast LUT stack is [Q, m, n_codes] floats (tiny).
    Each partition gathers scores for all queries with numpy fancy
    indexing over its code block; the per-partition local top-k and
    the per-query window rank are
    operators.search.topk_cosine_batch's (``_batched_topk``), but the
    scan reads m bytes per row instead of the vector. Query throughput
    at 100 TB: one compressed pass serves thousands of queries.
    """
    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, n_codes, sub = books.shape
    qids = np.array([q[0] for q in queries], dtype=np.int64)
    luts = np.stack(
        [
            np.stack(
                [books[s] @ np.asarray(v, dtype=np.float64)[s * sub : (s + 1) * sub]
                 for s in range(m)]
            )
            for _, v in queries
        ]
    )  # [Q, m, n_codes]

    def adc_block(pdf, luts_):
        codes = np.stack(
            [np.asarray(c, dtype=np.int64) for c in pdf[code_col]]
        )  # [n, m]
        rows = np.arange(m)[None, :]
        return np.stack([lut[rows, codes].sum(axis=1) for lut in luts_], axis=1)

    return _batched_topk(
        encoded.select(id_col, code_col), qids, luts, adc_block,
        k=k, id_col=id_col, query_id_col="query_id",
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# Sparse all-pairs cosine (inverted-index self-join)
# ---------------------------------------------------------------------------


def sparse_cosine_pairs(
    postings: DataFrame,
    *,
    id_col: str = "doc_id",
    term_col: str = "term",
    weight_col: str = "weight",
    threshold: float = 0.9,
    max_df: int | None = None,
) -> DataFrame:
    """All-pairs cosine over SPARSE vectors given as (id, term,
    weight) postings — the inverted-index similarity self-join
    (Bayardo et al. 2007 all-pairs family): pairs meet only on terms
    they share, so the quadratic blow-up is bounded per posting list,
    never over the corpus.

    Plan: per-id norms (map-side partial agg) → posting self-join on
    the term (per-term contribution w_i·w_j) → one (i, j) aggregation
    to the dot product → broadcast-joined norms → threshold. With
    INTEGER weights (raw term frequencies) the dot is exact and the
    cosine is bit-identical across engines (integer dot /
    correctly-rounded sqrt), which makes the operator fully
    oracle-checkable.

    ``max_df`` drops stop terms whose posting list exceeds the cap —
    the standard lever that keeps the join near-linear at corpus
    scale (posting-list-squared cost concentrates in the df tail).
    """
    
    p = postings.select(
        F.col(id_col).alias("__id"),
        F.col(term_col).alias("__t"),
        F.col(weight_col).alias("__w"),
    )
    if max_df is not None:
        df_counts = p.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
        p = p.join(
            F.broadcast(df_counts.where(F.col("__df") <= max_df).select("__t")),
            "__t",
        )
    from vectordb_light_spark.session import persist_if_batch

    # Persisted: norms + both self-join sides consume the postings
    # (see sparse_cosine_matches for the r12 eager-vs-persist A/B).
    p = persist_if_batch(p)
    norms = p.groupBy("__id").agg(
        F.sqrt(F.sum(F.col("__w") * F.col("__w"))).alias("__n")
    )
    a = p.select(
        F.col("__id").alias("id_a"), "__t", F.col("__w").alias("__wa")
    )
    b = p.select(
        F.col("__id").alias("id_b"), "__t", F.col("__w").alias("__wb")
    )
    dots = (
        a.join(b, "__t")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("__wa") * F.col("__wb")).alias("__dot"))
    )
    na = norms.select(F.col("__id").alias("id_a"), F.col("__n").alias("__na"))
    nb = norms.select(F.col("__id").alias("id_b"), F.col("__n").alias("__nb"))
    return (
        dots.join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("__dot") / (F.col("__na") * F.col("__nb"))).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def sparse_cosine_matches(
    left: DataFrame,
    right: DataFrame,
    *,
    id_col: str = "doc_id",
    term_col: str = "term",
    weight_col: str = "weight",
    threshold: float = 0.9,
    broadcast_right: bool = True,
    max_df: int | None = None,
) -> DataFrame:
    """CROSS-corpus sparse cosine: every (left id_a, right id_b) pair
    with cosine ≥ threshold, over (id, term, weight) postings — the
    two-sided sibling of :func:`sparse_cosine_pairs`, and the shape
    semantic DECONTAMINATION wants (corpus × benchmark): pairs meet
    only on shared terms, and with ``broadcast_right`` (the default —
    benchmarks are orders of magnitude smaller than corpora) the
    posting join is map-side BroadcastHashJoin, so the corpus never
    shuffles for the join at all; the only corpus-sized exchange is
    the per-pair dot aggregation, bounded by actual term overlap.

    With INTEGER weights (raw counts / feature-hash buckets) the dot
    is exact and the cosine bit-identical across engines — fully
    oracle-checkable. ``max_df`` drops stop terms by LEFT-side
    document frequency (the posting-squared tail lever, as in the
    self-join variant)."""
    
    def postings(df):
        return df.select(
            F.col(id_col).alias("__id"),
            F.col(term_col).alias("__t"),
            F.col(weight_col).alias("__w"),
        )

    lp, rp = postings(left), postings(right)
    if max_df is not None:
        df_counts = lp.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
        keep_terms = F.broadcast(
            df_counts.where(F.col("__df") <= max_df).select("__t")
        )
        lp = lp.join(keep_terms, "__t")
        rp = rp.join(keep_terms, "__t")
    # Persisted: the postings feed both the norm aggregate and the
    # dot join. The eager-localCheckpoint alternative (stops AQE's
    # concurrent stages racing the cache) was A/B-tested (r12) and
    # measured slightly slower on wall (2.48 vs 2.30 s median on
    # pipe_semantic_decontaminate); flip to localCheckpoint(eager=True)
    # on a saturated cluster.
    from vectordb_light_spark.session import persist_if_batch

    lp = persist_if_batch(lp)
    rp = persist_if_batch(rp)
    ln = lp.groupBy("__id").agg(
        F.sqrt(F.sum(F.col("__w") * F.col("__w"))).alias("__na")
    ).select(F.col("__id").alias("id_a"), "__na")
    rn = rp.groupBy("__id").agg(
        F.sqrt(F.sum(F.col("__w") * F.col("__w"))).alias("__nb")
    ).select(F.col("__id").alias("id_b"), "__nb")
    a = lp.select(F.col("__id").alias("id_a"), "__t", F.col("__w").alias("__wa"))
    b = rp.select(F.col("__id").alias("id_b"), "__t", F.col("__w").alias("__wb"))
    if broadcast_right:
        b = F.broadcast(b)
        rn = F.broadcast(rn)
    dots = (
        a.join(b, "__t")
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("__wa") * F.col("__wb")).alias("__dot"))
    )
    # left norms join UNBROADCAST: ln is corpus-sized (one row per
    # left doc) — only the benchmark-sized rn may broadcast
    return (
        dots.join(ln, "id_a")
        .join(rn, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("__dot") / (F.col("__na") * F.col("__nb"))).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
