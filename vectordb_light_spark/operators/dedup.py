"""Deduplication operators for large-corpus training-data pipelines.

The reference records a sha-256 content hash per document but never
dedups on it (reference document_processor.py:45-54, hash consumed
only as an id→hash mapping at vector_db_creator.py:293-296) — SURVEY
§4.1 flags dedup as the engine's north-star addition. Four tiers,
cheapest→strongest, all shuffle-conscious:

  exact       one hash-partitioned shuffle on a 64-bit key
  simhash     near-dup via Hamming-close 64-bit sketches
  minhash+LSH shingle → minhash signature → banded bucket join
  ngram       pairwise n-gram Jaccard within candidate buckets only

Scale design: every candidate-generation step keys on a small
fixed-width value (hash / band signature), so the shuffle volume is
O(rows × signature bytes), never O(text bytes). Pairwise verification
joins happen only WITHIN buckets (the LSH guarantee), avoiding the
O(N²) crossJoin at 100 TB.

Performance note (hard-won): higher-order-function lambdas re-evaluate
any non-attribute subtree PER ELEMENT, and a 64-way transform
re-evaluates its argument per iteration. A naive
``minhash(shingles(canonical(text)))`` single expression therefore
costs 64 × |shingles| × O(regex over text) per row. Every sketch here
is built as STAGED projections — canonical text, then shingle-hash
array, then signature, then band keys — each stage materializing a
column that later stages reference ≥2 times, which keeps Catalyst's
CollapseProject from inlining the expensive subtree back into the
lambdas. Per-row cost drops to one pass over the text plus
64 × |shingles| cheap long-hashes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

DEFAULT_SHINGLE_N = 5
DEFAULT_NUM_HASHES = 64
DEFAULT_BANDS = 16
DEFAULT_SEED = 42

#: Hot-bucket cap for the LSH band self-join. Buckets above this size
#: are routed OUT of the pairwise join (which would emit |bucket|²/2
#: rows in one task) and handled as duplicates-by-signature: members
#: sharing a FULL signature are linked to the group's min id as a
#: star. Near-identical boilerplate clusters — the exact corpora
#: dedup exists for — land 10⁵-10⁷ docs on ONE band key at web scale,
#: so the cap is what keeps the band join's worst task bounded at
#: cap² pairs instead of quadratic in the corpus' largest duplicate
#: cluster. 128 keeps the worst cold bucket at ≤8k pairs while
#: sitting far above any bucket the sf test data produces (sf0.01
#: max: 44), so oracle-graded outputs are unchanged.
DEFAULT_MAX_BUCKET = 128

#: Most hot shingle keys :func:`containment_pairs` broadcasts (8-byte
#: keys: a few MB of hash relation). The hot set is the corpus' Zipf
#: head and far smaller in practice, but a small ``max_df`` on a large
#: corpus can push it to total_postings / max_df keys; above the cap
#: the stop-shingle anti join shuffles instead.
HOT_SHINGLE_BROADCAST_CAP = 250_000


# ---------------------------------------------------------------------------
# Canonicalization & shingling
# ---------------------------------------------------------------------------


def canonical_text(col: Column | str) -> Column:
    """Whitespace-collapsed, lowercased text — the canonical form keys
    are computed over. Collapse-then-trim: collapsing first turns
    \\n\\t into plain spaces, so the space-only trim is a full
    Python-style strip."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def char_shingles(col: Column | str, n: int = DEFAULT_SHINGLE_N) -> Column:
    """Distinct character n-gram array of the canonical text.

    NOTE: apply this to an already-materialized (attribute) column —
    e.g. ``df.withColumn("t", canonical_text("text"))`` then
    ``char_shingles("t")`` — otherwise the canonicalization regex
    re-runs per shingle (see module docstring). Texts shorter than n
    yield a single whole-text shingle."""
    t = F.col(col) if isinstance(col, str) else col
    starts = F.sequence(F.lit(0), F.greatest(F.length(t) - n, F.lit(0)))
    return F.array_distinct(F.transform(starts, lambda s: t.substr(s + 1, F.lit(n))))


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram array (space-joined) of an attribute
    column holding canonical text (same materialization caveat as
    :func:`char_shingles`)."""
    t = F.col(col) if isinstance(col, str) else col
    words = F.split(t, " ")
    k = F.greatest(F.size(words) - n + 1, F.lit(1))
    starts = F.sequence(F.lit(0), k - 1)
    return F.array_distinct(
        F.transform(starts, lambda s: F.array_join(F.slice(words, s + 1, n), " "))
    )


_POLY_MOD = 2_147_483_647  # 2^31-1; products stay far below 2^64


def _np_shingle_hashes(text: str | None, n: int, *, finalize: bool = True) -> np.ndarray:
    """uint64 hash per char n-gram (multiset, order of appearance):
    polynomial rolling hash over codepoints, then (by default) a
    splitmix64-style finalizer to spread the 31-bit poly value over
    all 64 bits. ``finalize=False`` returns the raw 31-bit polynomial
    value — the ORACLE-TWIN family: the identical recurrence is
    expressible in DuckDB SQL (``list_reduce`` over ``ord()``), which
    is how the driver cross-checks the sketch entries. Fully
    vectorized — one sliding-window matmul per document."""
    if not text:
        return np.zeros(0, dtype=np.uint64)
    codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    if codes.size <= n:
        windows = codes[None, :]
    else:
        windows = np.lib.stride_tricks.sliding_window_view(codes, n)
    k = windows.shape[1]
    powers = np.array([pow(257, k - 1 - j, _POLY_MOD) for j in range(k)], dtype=np.uint64)
    h = (windows * powers[None, :]).sum(axis=1) % _POLY_MOD
    if not finalize:
        return h
    # splitmix64 finalizer (public-domain constant mix)
    with np.errstate(over="ignore"):
        z = h + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return z


def _canonical_staged(
    df: DataFrame, *, text_col: str, id_col: str, keep: list[str] | None
) -> DataFrame:
    """(id, keep..., __t) with the canonicalization materialized once
    (JVM regex pass) before any Arrow stage."""
    keep = keep or []
    return df.select(
        F.col(id_col).alias("__id"), *keep, canonical_text(text_col).alias("__t")
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    canonicalize: bool = True,
) -> DataFrame:
    """Keep one row per distinct text (min id wins — deterministic,
    unlike dropDuplicates whose survivor is partition-order dependent).

    Plan (r12, optimization round): sha2 key → ONE hash-partition
    shuffle on the key → per-group ``row_number`` over ``id`` → keep
    rank 1. The r11 form (groupBy min(id) → join winners back) read
    the corpus twice and shuffled it twice (probe by (key, id), build
    through the aggregate) and its join inferred an
    ``isnotnull(sha2(canonical_text(..)))`` predicate that Catalyst
    pushed into the scan stage — at sf that serialized a full
    canonicalization pass onto the single-split scan task, and at
    scale the winners "broadcast" side is corpus-sized. The window
    form shuffles the corpus ONCE, computes the key once, infers no
    scan predicate, and needs no join at any scale.

    Contract note (ADVICE r12): ``id_col`` must be unique per row.
    The window keeps exactly ONE rank-1 row per key; with duplicate
    id values the survivor among the tying rows would be partition-
    order dependent (the old join-back form instead kept EVERY row
    tying on (key, min_id)). Every caller keys on a unique doc_id /
    media_id, where the two forms are identical."""
    from pyspark.sql import Window

    key = F.sha2(canonical_text(text_col) if canonicalize else F.col(text_col), 256)
    keyed = df.withColumn("__key", key)
    # Small-input regime only: when the scan has fewer partitions than
    # cores, the window's ENSURE_REQUIREMENTS exchange gets
    # AQE-coalesced by BYTES, serializing the CPU-bound gate
    # expressions that chains stack on top of the dedup output. An
    # explicit key repartition to the core count keeps them parallel;
    # at scale the input has far more partitions than cores and the
    # guard leaves the exchange to AQE (same contract as
    # session.rebalance).
    if not keyed.isStreaming:
        sc = keyed.sparkSession.sparkContext
        if keyed.rdd.getNumPartitions() < sc.defaultParallelism:
            keyed = keyed.repartition(sc.defaultParallelism, "__key")
    w = Window.partitionBy("__key").orderBy(F.col(id_col).asc())
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__key", "__rn")
    )


def duplicate_groups(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Report exact-duplicate clusters: (text_hash, n_dups, min/max id).
    The observability companion to :func:`exact_dedup`."""
    key = F.sha2(canonical_text(text_col), 256)
    return (
        df.withColumn("text_hash", key)
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("min_id"),
            F.max(id_col).alias("max_id"),
        )
        .where(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


#: 2^61-1 (Mersenne): modulus of the oracle-twin minhash family.
_P61 = (1 << 61) - 1


def minhash_poly_params(num_hashes: int, seed: int) -> tuple[list[int], list[int]]:
    """(a, b) constants of the ``poly31`` minhash family
    h_i(x) = (a_i·x mod p + b_i) mod p, p = 2^61-1, odd a_i < 2^33.
    Exposed so oracle SQL can inline the SAME constants: a_i·x stays
    below 2^64 (x < 2^31), so both numpy uint64 and DuckDB HUGEINT
    evaluate the identical integers."""
    rng = np.random.default_rng(seed)
    a = ((rng.integers(1, 1 << 32, size=num_hashes, dtype=np.uint64) << 1) | 1).tolist()
    b = rng.integers(0, _P61, size=num_hashes, dtype=np.uint64).tolist()
    return [int(x) for x in a], [int(x) for x in b]


def add_minhash_signature(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = DEFAULT_SHINGLE_N,
    num_hashes: int = DEFAULT_NUM_HASHES,
    seed: int = DEFAULT_SEED,
    keep: list[str] | None = None,
    hash_family: str = "splitmix64",
) -> DataFrame:
    """(id, minhash: array<long>[num_hashes]) per row.

    One Arrow stage per row: vectorized shingle hashing + signature
    minima over a seeded multiply-shift universal family
    (Broder 1997: P[min h_i(A) = min h_i(B)] = Jaccard(A,B)). Zero
    shuffle; deterministic for a given seed.

    ``hash_family``: ``splitmix64`` (default — full-width 64-bit
    production family) or ``poly31`` (raw 31-bit polynomial shingle
    hash + mod-2^61-1 multiply-shift; bit-for-bit replicable in
    DuckDB SQL, used by the driver-oracle registry entry)."""
    canon = _canonical_staged(df, text_col=text_col, id_col=id_col, keep=keep)
    # Shingle hashing AND the signature minima run in one Arrow stage:
    # per-document sliding-window polynomial hash (numpy matmul), then
    # minima over a seeded multiply-shift family h_i(x) = a_i·x + b_i
    # mod 2^64, odd a_i. The equivalent JVM higher-order-function
    # formulation evaluates num_hashes lambda bodies per shingle in
    # the expression interpreter — ~100× slower at 64 hashes.
    if hash_family == "poly31":
        a_list, b_list = minhash_poly_params(num_hashes, seed)
        a_mult = np.array(a_list, dtype=np.uint64)
        b_add = np.array(b_list, dtype=np.uint64)
    else:
        rng = np.random.default_rng(seed)
        a_mult = (rng.integers(1, 1 << 62, size=num_hashes, dtype=np.uint64) << 1) | 1
        b_add = rng.integers(0, 1 << 63, size=num_hashes, dtype=np.uint64)

    @pandas_udf(ArrayType(LongType()))
    def minhash_sig(texts: pd.Series) -> pd.Series:
        def one(t):
            x = _np_shingle_hashes(t, shingle_n, finalize=hash_family != "poly31")
            if x.size == 0:
                return np.full(num_hashes, (1 << 63) - 1, dtype=np.int64)
            with np.errstate(over="ignore"):
                if hash_family == "poly31":
                    # a·x < 2^64 (a < 2^33, x < 2^31): no uint64 wrap
                    # before the mod, so SQL HUGEINT math agrees.
                    m = ((a_mult[:, None] * x[None, :]) % np.uint64(_P61)
                         + b_add[:, None]) % np.uint64(_P61)
                else:
                    m = a_mult[:, None] * x[None, :] + b_add[:, None]
            if hash_family == "poly31":
                return m.min(axis=1).astype(np.int64)
            return (m.min(axis=1) >> np.uint64(1)).astype(np.int64)

        return texts.map(one)

    return canon.select(
        F.col("__id").alias(id_col), *(keep or []), minhash_sig("__t").alias("minhash")
    )


def lsh_band_keys(
    signature: Column, bands: int, rows_per_band: int, key_family: str = "xxhash64"
) -> Column:
    """Split a minhash signature into ``bands`` keys (hash of each
    band's rows). Two sets sharing ANY band key become candidates —
    the standard S-curve tradeoff: P[candidate] = 1-(1-j^r)^b.
    Apply to a materialized signature column.

    ``key_family``: ``xxhash64`` (default, JVM) or ``poly31`` — a
    mod-2^31-1 polynomial fold over the band rows whose arithmetic
    never exceeds 2^40, so DuckDB ``list_reduce`` over BIGINT
    reproduces it exactly (the oracle-twin path). The join is on
    (band_idx, band_key), so cross-band key collisions are harmless
    either way.

    Raises ``ValueError`` for a zero-width band (``bands`` > signature
    length gives ``rows_per_band`` 0): every row would share every
    band key and the join would silently go all-pairs."""
    if rows_per_band < 1:
        raise ValueError(
            f"zero-width LSH bands: rows_per_band={rows_per_band} "
            f"(bands={bands} exceeds the signature length)"
        )
    if key_family == "poly31":
        m31 = F.lit(2147483647).cast("long")
        return F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.aggregate(
                F.slice(signature, b * rows_per_band + 1, rows_per_band),
                F.lit(0).cast("long"),
                lambda acc, v: (acc * 257 + v % m31) % m31,
            ),
        )
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            F.array_join(
                F.transform(
                    F.slice(signature, b * rows_per_band + 1, rows_per_band),
                    lambda v: v.cast("string"),
                ),
                ",",
            ),
            b,
        ),
    )


def over_cap(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """The hot-bucket probe every capped band/block join shares: the
    ``keys`` buckets holding more than ``cap`` rows, as ``(*keys,
    __bc)`` with ``__bc`` the bucket's row count. The count aggregate
    is a cheap partial-agg shuffle of the key columns only, and the
    hot-key set is tiny in practice, so AQE turns the anti/semi joins
    that consume it into broadcasts."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__bc"))
        .where(F.col("__bc") > cap)
    )


def _signature_stars(
    hot: DataFrame, group: list[str], *star_cols: Column
) -> tuple[DataFrame, DataFrame]:
    """Duplicates-by-signature star for hot buckets: within each
    ``group`` (bucket keys plus the FULL signature — one shuffle,
    output linear in bucket size), link every member ``__id`` to the
    group's min id. Returns ``(mins, stars)``: ``mins`` is ``(*group,
    id_a)``, ``stars`` is ``(id_a, id_b, *star_cols)``. Singleton
    groups emit nothing."""
    mins = hot.groupBy(*group).agg(F.min("__id").alias("id_a"))
    stars = (
        hot.join(mins, group)
        .where(F.col("__id") != F.col("id_a"))
        .select("id_a", F.col("__id").alias("id_b"), *star_cols)
    )
    return mins, stars


def capped_band_pairs(
    banded: DataFrame,
    keys: list[str],
    max_bucket: int | None,
    *,
    verify: Column | None = None,
    pair_cols: tuple[Column, ...] = (),
    star_cols: tuple[Column, ...] = (),
) -> DataFrame:
    """Candidate pairs ``(id_a, id_b, *pair_cols)`` with id_a < id_b
    from a banded frame ``(__id, __sig, *keys)`` — the band self-join
    of every LSH pair generator, under one hot-bucket policy.

    Buckets within ``max_bucket`` self-equi-join on ``keys``;
    ``verify`` (over ``id_a``/``sig_a``/``id_b``/``sig_b``) filters the
    matched rows map-side, before the pair-dedup exchange, and
    ``pair_cols`` are computed per matched row from the same columns.
    Buckets above the cap skip the pairwise join (it would emit
    |bucket|²/2 rows in one task): members sharing a FULL signature
    link to the group's min id (:func:`_signature_stars`, carrying
    ``star_cols``). Connected components over the star equal those
    over the clique, so cluster-level dedup is unaffected; only
    direct pairs between NON-identical signatures inside a hot
    bucket are dropped (they can still surface via their other,
    colder bands). ``max_bucket=None`` disables the cap. Pairs found
    in several bands are deduplicated on ``(id_a, id_b)``.

    The caller persists ``banded`` when it has several consumers."""
    if max_bucket is not None:
        hot_keys = over_cap(banded, keys, max_bucket).select(*keys)
        cold = banded.join(hot_keys, keys, "left_anti")
        hot = banded.join(hot_keys, keys, "left_semi")
    else:
        cold, hot = banded, None
    a = cold.select(
        F.col("__id").alias("id_a"), F.col("__sig").alias("sig_a"), *keys
    )
    b = cold.select(
        F.col("__id").alias("id_b"), F.col("__sig").alias("sig_b"), *keys
    )
    pairs = a.join(b, keys).where(F.col("id_a") < F.col("id_b"))
    if verify is not None:
        pairs = pairs.where(verify)
    pairs = pairs.select("id_a", "id_b", *pair_cols)
    if hot is not None:
        _, stars = _signature_stars(hot, [*keys, "__sig"], *star_cols)
        pairs = pairs.unionByName(stars)
    return pairs.dropDuplicates(["id_a", "id_b"])


def minhash_lsh_candidates(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = DEFAULT_SHINGLE_N,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    seed: int = DEFAULT_SEED,
    hash_family: str = "splitmix64",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    min_est: float | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b) via banded MinHash
    LSH, annotated with the signature-estimated Jaccard. ``min_est``
    applies the caller's Jaccard threshold MAP-SIDE, before the
    pair-dedup exchange — equivalent to filtering the returned frame,
    minus the shuffle of the sub-threshold candidates (r12).

    Plan: per-row signature (narrow, no shuffle) → explode band keys →
    self-equi-join on (band_idx, band_key) — shuffle carries only
    (band key, id, signature) — → pair dedup across bands. Band keys
    are uniform 64-bit hashes, so RANDOM collisions never skew the
    join; but near-identical documents share identical band keys BY
    CONSTRUCTION, and a boilerplate cluster of D docs would emit
    D²/2 pairs in one task. ``max_bucket`` bounds that with the
    shared hot-bucket star (:func:`capped_band_pairs`; est_jaccard is
    exactly 1.0 for identical signatures, so components are the same
    at ANY downstream threshold). ``max_bucket=None`` disables the
    cap.

    ``hash_family="poly31"`` switches signature AND band keys to the
    DuckDB-replicable family (see :func:`add_minhash_signature`).
    """
    from vectordb_light_spark.session import persist_if_batch

    rows_per_band = num_hashes // bands
    key_family = "poly31" if hash_family == "poly31" else "xxhash64"
    # Persisted: the banded stream feeds the bucket-count aggregate
    # and both self-join sides. AQE submits those query stages
    # concurrently, so jobs racing before the first completes can
    # each recompute the shingle+minhash UDF — an eager
    # localCheckpoint was A/B-tested against this (r12) and measured
    # SLOWER on wall (the overlapped recompute fills otherwise idle
    # cores; the eager barrier serializes): persist 1.19/4.02 s vs
    # eager 1.28/4.24 s medians on dd_minhash_candidates /
    # pipe_leakage_safe_split. The duplicated pass is a documented
    # local trade; on a saturated cluster flip to
    # localCheckpoint(eager=True).
    banded = persist_if_batch(
        add_minhash_signature(
            df,
            text_col=text_col,
            id_col=id_col,
            shingle_n=shingle_n,
            num_hashes=num_hashes,
            seed=seed,
            hash_family=hash_family,
        )
        .select(
            F.col(id_col).alias("__id"),
            F.col("minhash").alias("__sig"),
        )
        .select(
            "__id",
            "__sig",
            F.posexplode(
                lsh_band_keys(F.col("__sig"), bands, rows_per_band, key_family)
            ).alias("__band_idx", "__band_key"),
        )
    )
    # est_jaccard computed PER MATCHED BAND ROW, before the pair-dedup
    # exchange (r12, guide §2.3 shuffle fewer bytes): signatures are
    # unique per id so the estimate is copy-invariant, and the dedup
    # exchange then carries (id_a, id_b, est) — 24 bytes — instead of
    # two num_hashes-long signature arrays per candidate row. A
    # ``min_est`` threshold additionally drops non-candidates map-side
    # BEFORE they ever shuffle. Hot-bucket stars have identical
    # signatures, so their estimate is exactly 1.0 — never filtered by
    # any min_est ≤ 1.
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    ) / F.lit(float(num_hashes))
    return capped_band_pairs(
        banded,
        ["__band_idx", "__band_key"],
        max_bucket,
        verify=None if min_est is None else est >= float(min_est),
        pair_cols=(est.alias("est_jaccard"),),
        star_cols=(F.lit(1.0).alias("est_jaccard"),),
    )


def minhash_lsh_candidates_cross(
    new: DataFrame,
    ref: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = DEFAULT_SHINGLE_N,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    seed: int = DEFAULT_SEED,
    hash_family: str = "splitmix64",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Cross-corpus near-dup candidates: (ref_id, new_id, est_jaccard)
    for every ``new`` document that LSH-collides with a ``ref``
    document — the dedup-against-a-reference-corpus shape (dedup a
    fresh crawl against what's already in the training set, or
    against an eval benchmark at the near-dup rather than exact-gram
    level).

    Same plan as the self-join variant (:func:`minhash_lsh_candidates`)
    with the two sides banded independently: signatures are narrow
    map-only stages, the band equi-join shuffles only (band key, id,
    signature), and — unlike the self-join — needs no ``id < id``
    dedup guard, so corpora with overlapping id spaces are fine.

    ``max_bucket`` caps hot buckets exactly like the self-join
    variant: a band bucket whose ref OR new side exceeds the cap
    skips the |ref|×|new| join; instead each hot new doc links to the
    min ref id sharing its FULL signature (est 1.0). The worst task
    is bounded at cap² pairs regardless of how much boilerplate the
    crawl shares with the reference corpus.
    """
    from vectordb_light_spark.session import persist_if_batch

    rows_per_band = num_hashes // bands
    key_family = "poly31" if hash_family == "poly31" else "xxhash64"
    keys = ["__band_idx", "__band_key"]

    def banded(df: DataFrame, side: str) -> DataFrame:
        sig = add_minhash_signature(
            df,
            text_col=text_col,
            id_col=id_col,
            shingle_n=shingle_n,
            num_hashes=num_hashes,
            seed=seed,
            hash_family=hash_family,
        ).select(
            F.col(id_col).alias(f"{side}_id"),
            F.col("minhash").alias(f"{side}_sig"),
        )
        out = sig.select(
            f"{side}_id",
            f"{side}_sig",
            F.posexplode(
                lsh_band_keys(
                    F.col(f"{side}_sig"), bands, rows_per_band, key_family
                )
            ).alias("__band_idx", "__band_key"),
        )
        # With the cap, each side feeds the count aggregate plus the
        # cold and hot probes — persist so the signature UDF runs
        # once. Uncapped, each side has exactly one consumer.
        return persist_if_batch(out) if max_bucket is not None else out

    ref_b = banded(ref, "ref")
    new_b = banded(new, "new")
    # est_jaccard computed per matched band row BEFORE the pair-dedup
    # exchange (r12, same as the self-join variant): signatures are
    # unique per id so the estimate is copy-invariant, and the dedup
    # exchange carries (ref_id, new_id, est) instead of two signature
    # arrays per candidate row.
    est = F.size(
        F.filter(
            F.zip_with("ref_sig", "new_sig", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    ) / F.lit(float(num_hashes))
    if max_bucket is not None:
        hot_keys = (
            over_cap(ref_b, keys, max_bucket).select(*keys)
            .unionByName(over_cap(new_b, keys, max_bucket).select(*keys))
            .distinct()
        )
        cold_pairs = (
            ref_b.join(hot_keys, keys, "left_anti")
            .join(new_b.join(hot_keys, keys, "left_anti"), keys)
            .select("ref_id", "new_id", est.alias("est_jaccard"))
        )
        # Hot path: per (bucket, signature) min ref id, joined to hot
        # new rows on the FULL signature — output linear in the hot
        # new side, est exactly 1.0 (identical signatures).
        ref_mins = (
            ref_b.join(hot_keys, keys, "left_semi")
            .groupBy(*keys, F.col("ref_sig").alias("__sig"))
            .agg(F.min("ref_id").alias("ref_id"))
        )
        stars = (
            new_b.join(hot_keys, keys, "left_semi")
            .withColumnRenamed("new_sig", "__sig")
            .join(ref_mins, [*keys, "__sig"])
            .select(
                "ref_id",
                "new_id",
                F.lit(1.0).alias("est_jaccard"),
            )
        )
        pairs = cold_pairs.unionByName(stars)
    else:
        pairs = ref_b.join(new_b, keys).select(
            "ref_id", "new_id", est.alias("est_jaccard")
        )
    return pairs.dropDuplicates(["ref_id", "new_id"])


def minhash_dedup(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    **lsh_kwargs,
) -> DataFrame:
    """Drop near-duplicates: any row whose estimated Jaccard with a
    LOWER-id row exceeds ``threshold`` is removed (greedy min-id
    survivor — direct pairs, one pass; iterate for transitive
    closure if chains matter).

    ``threshold`` IS the LSH ``min_est`` (the map-side pushdown of
    this function's own filter); passing ``min_est`` via
    ``lsh_kwargs`` is rejected explicitly rather than surfacing as a
    duplicate-keyword TypeError (ADVICE r12)."""
    if "min_est" in lsh_kwargs:
        raise TypeError(
            "minhash_dedup derives min_est from threshold; pass "
            "threshold= instead of min_est="
        )
    cand = minhash_lsh_candidates(
        df, text_col=text_col, id_col=id_col,
        min_est=threshold, **lsh_kwargs,
    )
    losers = cand.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_BIT_MASKS = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]


def add_simhash64(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 4,
    out_col: str = "simhash",
    keep: list[str] | None = None,
    hash_family: str = "splitmix64",
) -> DataFrame:
    """(id, simhash: long) — 64-bit SimHash (Charikar 2002) of the
    shingle multiset: per-bit ±1 votes over shingle hashes, sign →
    bit. Hamming-close outputs ⇔ similar shingle sets.

    ``hash_family="poly31"`` votes over the raw 31-bit polynomial
    shingle hashes (bits 31-63 never set) — a narrower but DuckDB-
    replicable sketch for the driver-oracle entry."""
    canon = _canonical_staged(df, text_col=text_col, id_col=id_col, keep=keep)
    # Shingle hashing and bit votes in one Arrow stage: unpack hashes
    # to a bits matrix, sum per bit, sign → bit. The equivalent JVM
    # higher-order-function fold evaluates 64 lambda bodies per
    # shingle in the expression interpreter (~100× slower).
    shifts = np.arange(64, dtype=np.uint64)

    @pandas_udf(LongType())
    def simhash_sig(texts: pd.Series) -> pd.Series:
        def one(t) -> int:
            x = _np_shingle_hashes(t, shingle_n, finalize=hash_family != "poly31")
            if x.size == 0:
                return 0
            bits = (x[:, None] >> shifts[None, :]) & np.uint64(1)
            votes = 2 * bits.sum(axis=0, dtype=np.int64) - x.size
            word = sum(1 << int(i) for i in np.nonzero(votes > 0)[0])
            return word - (1 << 64) if word >= (1 << 63) else word  # two's complement

        return texts.map(one)

    return canon.select(
        F.col("__id").alias(id_col), *(keep or []), simhash_sig("__t").alias(out_col)
    )


def hamming64(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two 64-bit keys: popcount(a XOR b)
    via bit_count (Spark 3.3+ builtin)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.bit_count(a.bitwiseXOR(b))


def simhash_block_scheme(
    max_hamming: int,
    total_bits: int,
    n_docs_hint: int | None = None,
) -> tuple[int, int]:
    """Pick a (blocks m, combo k) SimHash blocking scheme.

    Split the ``total_bits`` sketch into m blocks and key the block
    join on every k-combination of blocks (key width ≈ k·bits/m). A
    pair within Hamming ≤ h touches ≤ h blocks, so it shares a fully
    clean k-combination whenever k ≤ m − h — the pigeonhole
    guarantee, under which the exact Hamming verify makes the OUTPUT
    invariant to the scheme; only join cost changes. (m=h+1, k=1 is
    the classic quarter scheme.)

    Wider keys matter twice at scale: key SPACE (a k=1 key of
    total_bits/(h+1) bits has so few distinct values that buckets
    grow ∝ N regardless of data) and bit BIAS (majority-vote sketch
    bits correlate across a templated corpus, so single-block buckets
    skew far beyond the uniform estimate — combining blocks
    multiplies their entropy). Cost: C(m, k) keys per doc instead of
    h+1.

    ``n_docs_hint`` scales k so the expected RANDOM bucket load
    N / 2^key_bits stays ≤ ~16 at the hinted corpus size, capped at
    k = 4 (C(h+4, 4) ≤ 35 keys/doc for h ≤ 3). Without a hint, k=2 —
    strictly better-keyed than the classic scheme for one extra
    explode factor."""
    import math

    if max_hamming >= total_bits // 2:
        return max_hamming + 1, 1  # degenerate; caller documents recall
    max_k = 4
    target_load = 16.0
    for k in range(2, max_k + 1):
        m = max_hamming + k
        key_bits = k * (total_bits // m)
        if n_docs_hint is None:
            return m, k
        if 2.0 ** key_bits >= n_docs_hint / target_load or k == max_k:
            return m, k
    return max_hamming + max_k, max_k


def _block_combo_keys(
    sim: Column, total_bits: int, m: int, k: int
) -> Column:
    """Array of C(m,k) combo keys: ``total_bits`` split into m
    near-equal blocks, each key the concatenation of one
    k-combination's block values (fits a long for key widths ≤ 63)."""
    from itertools import combinations

    base, rem = divmod(total_bits, m)
    widths = [base + 1 if i < rem else base for i in range(m)]
    offsets = [sum(widths[:i]) for i in range(m)]

    def block(i: int) -> Column:
        return F.shiftrightunsigned(sim, offsets[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1).cast("long")
        )

    keys = []
    for combo in combinations(range(m), k):
        key = block(combo[0])
        for i in combo[1:]:
            key = F.shiftleft(key, widths[i]).bitwiseOR(block(i))
        keys.append(key)
    return F.array(*keys)


def resolve_block_scheme(
    max_hamming: int,
    total_bits: int,
    n_docs_hint: int | None,
    blocks: int | None,
    combo: int | None,
) -> tuple[int, int]:
    """Resolve (m, k) from optional explicit overrides, VALIDATING the
    pigeonhole guarantee k ≤ m − max_hamming (the invariant every
    caller's docstring promises — a silently lossy scheme would drop
    in-bound pairs with no signal). Blocks-only overrides take k=1
    (the classic scheme, always guaranteed for m ≥ h+1) rather than
    inheriting an adaptive k sized for a different m; combo-only
    overrides grow m to max_hamming + k."""
    if blocks is None and combo is None:
        return simhash_block_scheme(max_hamming, total_bits, n_docs_hint)
    if combo is None:
        m, k = blocks, 1
    elif blocks is None:
        m, k = max_hamming + combo, combo
    else:
        m, k = blocks, combo
    if k < 1 or m < max_hamming + k:
        raise ValueError(
            f"blocking scheme (blocks={m}, combo={k}) violates the "
            f"pigeonhole guarantee k <= blocks - max_hamming "
            f"({max_hamming}): pairs within the Hamming bound would "
            f"be silently dropped"
        )
    if m > total_bits:
        raise ValueError(f"blocks={m} exceeds sketch width {total_bits}")
    return m, k


def simhash_near_dups(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 4,
    max_hamming: int = 3,
    hash_family: str = "splitmix64",
    n_docs_hint: int | None | str = "auto",
    blocks: int | None = None,
    combo: int | None = None,
    max_cluster: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs by SimHash: block the sketch on sub-key
    combinations (see :func:`simhash_block_scheme`), then verify exact
    Hamming within blocks. The pigeonhole guarantee (k ≤ m −
    max_hamming) plus the exact verify make the output INVARIANT to
    the blocking scheme — (m, k) tunes only the join's bucket sizes,
    so the oracle twin stays bit-identical under any valid scheme.
    Explicit ``blocks``/``combo`` overrides are validated against the
    guarantee (blocks-only takes k=1) — see
    :func:`resolve_block_scheme`.

    Block-join shuffle volume is C(m,k) rows × ~24 bytes per doc.
    ``n_docs_hint`` sizes the key width to the corpus (a fixed 16-bit
    key space forces bucket loads ∝ N at N ≫ 10⁷ no matter how
    uniform the data); the default ``"auto"`` derives it from a
    ``df.count()`` — a metadata-cheap pass for parquet sources, and
    the price of an adaptive scheme that engages without caller
    knowledge (pass an int or ``None`` to skip the count). With
    ``hash_family="poly31"`` the sketch occupies bits 0-30 and
    schemes size against 31 bits.

    ``max_cluster`` is the hot-cluster star collapse shared with the
    LSH tiers: IDENTICAL sketches (exact duplicates — the most common
    dedup case) share every combo key, so a cluster of D docs would
    emit C(m,k)·D²/2 rows through the join and Hamming verify.
    Sketch-groups above the cap skip the pairwise join: members link
    to the group's min id as a star (Hamming 0 by definition) and
    only the representative enters the combo join. Connected
    components are unchanged (member ↔ rep ↔ external neighbours);
    only direct member↔external pairs inside hot groups are dropped —
    the documented recall tradeoff, mirroring
    :func:`minhash_lsh_candidates`. ``None`` disables (exact clique
    semantics at any cluster size — the oracle-twin configuration).

    If ``max_hamming`` is too wide for a guaranteed scheme
    (≥ total_bits/2), blocking degrades to the classic lossy
    single-block keys — wider bounds trade recall, as before."""
    total_bits = 31 if hash_family == "poly31" else 64
    if n_docs_hint == "auto":
        # Only priced when the adaptive scheme is actually consulted;
        # streaming inputs can't count() — fall back to the unhinted
        # default scheme.
        needs_hint = blocks is None and combo is None
        n_docs_hint = (
            df.count() if needs_hint and not df.isStreaming else None
        )
    m, k = resolve_block_scheme(max_hamming, total_bits, n_docs_hint, blocks, combo)
    # NOT persisted here: hamming_near_dup_pairs persist_if_batch-es
    # the keyed sketch stage itself, so an outer persist would only
    # register the same pipeline twice (comment fixed per ADVICE r12
    # — the inner strategy is a lazy persist, not an eager
    # materialization; the eager A/B was measured slower and
    # rejected, see hamming_near_dup_pairs).
    keyed = add_simhash64(
        df,
        text_col=text_col,
        id_col=id_col,
        shingle_n=shingle_n,
        hash_family=hash_family,
    ).select(F.col(id_col).alias("__id"), F.col("simhash").alias("__sim"))
    return hamming_near_dup_pairs(
        keyed,
        total_bits=total_bits,
        max_hamming=max_hamming,
        m=m,
        k=k,
        max_cluster=max_cluster,
    )


def hamming_near_dup_pairs(
    keyed: DataFrame,
    *,
    total_bits: int,
    max_hamming: int,
    m: int | None = None,
    k: int | None = None,
    n_docs_hint: int | None = None,
    max_cluster: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs for ANY 64-bit-or-narrower sketch column: the
    combo-blocked, pigeonhole-guaranteed, star-collapsed Hamming join
    extracted from :func:`simhash_near_dups` so every fingerprint
    family (SimHash over text, dHash/aHash over images, any future
    modality sketch) shares ONE hardened implementation.

    ``keyed`` must be ``(__id, __sim)``. Returns ``(id_a, id_b,
    hamming)`` with id_a < id_b, complete for pairs within
    ``max_hamming`` (k ≤ m − max_hamming pigeonhole; see
    :func:`resolve_block_scheme`). ``max_cluster`` is the identical-
    sketch star collapse documented on :func:`simhash_near_dups`;
    ``None`` keeps exact clique semantics (the oracle-twin config)."""
    from vectordb_light_spark.session import persist_if_batch

    if m is None or k is None:
        m, k = simhash_block_scheme(max_hamming, total_bits, n_docs_hint)
    # Both self-join sides (and the hot-cluster probes) consume the
    # sketch stage — persist so an expensive upstream fingerprint
    # (e.g. image decode + dHash) computes once per populated cache.
    # AQE's concurrent stage submission can still race the cache and
    # recompute; the eager-localCheckpoint alternative was A/B-tested
    # (r12) and measured SLOWER on wall (3.96 vs 3.27 s median on
    # dd_image_near_dups — the barrier serializes what the racing
    # copies overlap). Flip to localCheckpoint(eager=True) on a
    # saturated cluster.
    keyed = persist_if_batch(keyed)
    stars = None
    if max_cluster is not None:
        # Hot-sketch split BEFORE the C(m,k) explode: the probe is one
        # narrow (sim, id) shuffle.
        hot_sims = over_cap(keyed, ["__sim"], max_cluster).select("__sim")
        reps, stars = _signature_stars(
            keyed.join(hot_sims, "__sim", "left_semi"),
            ["__sim"],
            F.lit(0).cast("int").alias("hamming"),
        )
        # Representatives re-enter the combo join carrying the whole
        # group's sketch once, so hot groups still meet their
        # Hamming-close external neighbours.
        keyed = keyed.join(hot_sims, "__sim", "left_anti").unionByName(
            reps.select(F.col("id_a").alias("__id"), "__sim")
        )
    combos = keyed.select(
        "__id",
        "__sim",
        F.posexplode(
            _block_combo_keys(F.col("__sim"), total_bits, m, k)
        ).alias("__q_idx", "__q_val"),
    )
    a = combos.select(
        F.col("__id").alias("id_a"), F.col("__sim").alias("sim_a"), "__q_idx", "__q_val"
    )
    b = combos.select(
        F.col("__id").alias("id_b"), F.col("__sim").alias("sim_b"), "__q_idx", "__q_val"
    )
    pairs = (
        a.join(b, ["__q_idx", "__q_val"])
        .where(F.col("id_a") < F.col("id_b"))
        # Hamming verify BEFORE the pair-dedup: one bit_count per
        # candidate is far cheaper than shuffling non-pairs through
        # the distinct exchange.
        .withColumn("hamming", hamming64("sim_a", "sim_b").cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )
    if stars is not None:
        # Disjoint by construction: hot members never reach the combo
        # join, so no pair can appear on both sides of the union.
        pairs = pairs.unionByName(stars)
    return pairs


# ---------------------------------------------------------------------------
# N-gram Jaccard (exact verification)
# ---------------------------------------------------------------------------


def add_char_shingles(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = DEFAULT_SHINGLE_N,
    out_col: str = "shingles",
) -> DataFrame:
    """(id, shingles: array<string>) with the canonical text staged as
    a materialized column first (see module docstring)."""
    canon = df.select(
        F.col(id_col).alias(id_col), canonical_text(text_col).alias("__t")
    )
    return canon.select(
        id_col, char_shingles(F.col("__t"), shingle_n).alias(out_col)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = DEFAULT_SHINGLE_N,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (id_a, id_b): join the
    shingle arrays back and compute |A∩B| / |A∪B| with array builtins.
    Run AFTER LSH/SimHash blocking — never pairwise over the corpus.
    """
    sh = add_char_shingles(
        df, text_col=text_col, id_col=id_col, shingle_n=shingle_n, out_col="__sh"
    )
    out = (
        candidates.join(
            sh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a")), "id_a"
        ).join(
            sh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b")), "id_b"
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return out.withColumn(
        "jaccard",
        F.when(union == 0, F.lit(0.0)).otherwise(inter.cast("double") / union),
    ).drop("sh_a", "sh_b")


def containment_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle: int = 3,
    max_df: int = 20,
    threshold: float = 0.1,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT |A∩B| / |A| — the subset-
    duplicate detector (quotes, excerpts, doc-inside-doc) that
    symmetric Jaccard misses: a 50-word quote inside a 5000-word doc
    has tiny Jaccard but containment ≈ 1 from the quote's side.

    Pipeline (all builtins): word ``shingle``-grams per doc
    (array_distinct — set semantics), a doc-frequency prefilter that
    drops shingles appearing in more than ``max_df`` docs, then a
    posting-list self-join counts shared shingles per ordered pair.

    Scale: the self-join's blow-up is Σ df² over SURVIVING shingles —
    the df cap bounds it at max_df × |postings| regardless of corpus
    size (stop-shingles are exactly the ones that would explode, and
    they carry no duplicate signal). The denominator |A| counts ALL
    of A's shingles, so containment is a lower bound after the
    prefilter — the same semantics on both engine and oracle sides.
    Output: (doc_a, doc_b, containment of doc_a) — asymmetric, both
    directions emitted when both pass the threshold.

    r13 shape (guide §2.3/§2.4 — the minhash treatment): every
    exchange carries a lightweight proxy, never shingle text.
    (1) Postings key on ``xxhash64`` of the shingle — the df
    aggregate and the pair self-join shuffle 8-byte longs instead of
    ~20-char strings (same keys-not-payloads move remove_boilerplate
    and line_dedup already make; a 64-bit collision would need ~2³²
    distinct shingles to become likely, far above any per-corpus
    shingle count we run, and the oracle gate pins the test SFs).
    (2) The per-doc shingle count |A| is computed MAP-SIDE from the
    distinct-gram array (``size(array_distinct(...))``) and rides the
    posting rows as an 8-byte column, so the old corpus-sized
    ``sizes`` aggregate + join-back after the pair aggregate are gone
    — the containment threshold applies directly on the pair
    aggregate's output, map-side after its partial agg.
    (3) Stop-shingles are dropped by broadcast ANTI join against the
    HOT key set (df > max_df — the tiny Zipf head; a sort-merge anti
    join above ``HOT_SHINGLE_BROADCAST_CAP`` keys) instead of an
    equi-join against the huge rare set: the postings never shuffle
    for the prefilter, and the hot keys' posting rows are dropped
    map-side rather than hash-partitioned into one task (§2.5 — the
    rare-join form shuffled every copy of every stop shingle to a
    single reducer before discarding it).
    """
    from vectordb_light_spark.session import persist_if_batch

    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda x: x != ""
    )
    # Total expression even for docs shorter than the shingle width:
    # the length guard is INSIDE the expression (when → empty array),
    # not only in the row filter below — InferFiltersFromGenerate
    # derives an isnotnull(<grams>) predicate from the explode, and
    # FilterExec evaluates IsNotNull conjuncts FIRST, i.e. before the
    # size(toks) >= shingle conjunct can short-circuit; an unguarded
    # sequence(1, size-2) is DESCENDING for short docs and its
    # element_at raises under ANSI.
    grams = F.when(
        F.size("_t") >= shingle,
        F.transform(
            F.sequence(F.lit(1), F.size("_t") - (shingle - 1)),
            lambda i: F.concat_ws(
                " ",
                *[
                    F.element_at("_t", (i + j).cast("int"))
                    for j in range(shingle)
                ],
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # The explode input stays an INLINE (non-cheap) expression on
    # purpose: InferFiltersFromGenerate skips non-cheap generator
    # children (SPARK-33544), whereas staging the gram array as an
    # attribute first made the rule infer `size(_g)>0 AND
    # isnotnull(_g)`, alias-substitution expanded that to the whole
    # gram pipeline, and predicate pushdown dragged it below the
    # rebalance exchange into the single-split scan stage — one core
    # evaluated every doc's grams while 31 idled (measured 10x; the
    # same pushed-predicate serialization r12 fixed in exact_dedup).
    # size(distinct) + explode(distinct) evaluate the gram build
    # twice per doc, in the PARALLEL post-exchange stage — the lesser
    # evil by an order of magnitude.
    distinct_grams = F.array_distinct(grams)
    shingles = persist_if_batch(
        df.select(F.col(id_col), toks.alias("_t"))
        .where(F.size("_t") >= shingle)
        .select(
            F.col(id_col),
            F.size(distinct_grams).alias("_n"),
            F.explode(distinct_grams).alias("_s"),
        )
        .select(F.col(id_col), "_n", F.xxhash64("_s").alias("s"))
    )
    hot = over_cap(shingles, ["s"], max_df).select("s")
    # One bounded count decides the join; it also fills the persisted
    # shingles the pair join reads.
    cap = HOT_SHINGLE_BROADCAST_CAP
    if hot.limit(cap + 1).count() <= cap:
        hot = F.broadcast(hot)
    else:
        hot = hot.hint("merge")
    posts = shingles.join(hot, "s", "left_anti")
    a = posts.select(F.col(id_col).alias("doc_a"), "_n", "s")
    b = posts.select(F.col(id_col).alias("doc_b"), "s")
    return (
        a.join(b, "s")
        .where(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("_shared"),
            # _n is constant per doc_a; min() picks it deterministically
            F.min("_n").alias("_n"),
        )
        .withColumn("containment", F.col("_shared") / F.col("_n"))
        .where(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", F.round("containment", 6).alias("containment"))
    )


def remove_boilerplate(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_docs: int = 3,
    min_doc_frac: float | None = None,
) -> DataFrame:
    """Corpus-level boilerplate removal (the CCNet-style paragraph
    filter, public method): split every document into paragraphs,
    count how many DISTINCT documents each normalized paragraph
    appears in, and strip paragraphs above the repetition bar
    (``min_docs`` absolute or ``min_doc_frac`` of the corpus) —
    headers, footers, cookie banners, license blurbs vanish corpus-
    wide in one pass.

    Scale: the frequency table keys on a 64-bit ``xxhash64`` of the
    trimmed paragraph (the shuffle never carries paragraph text), and
    it aggregates to the distinct-paragraph count, so the join back
    is broadcast-able. Document rebuild preserves paragraph order via
    the explode position. Documents whose every paragraph is
    boilerplate come back with empty text (callers filter as they see
    fit). All JVM builtins.
    """
    from vectordb_light_spark.session import persist_if_batch

    n_docs = None
    if min_doc_frac is not None:
        n_docs = df.count()
        min_docs = max(int(n_docs * float(min_doc_frac)), 2)

    parts = persist_if_batch(
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), sep)).alias("_pos", "_para"),
        ).withColumn("_ph", F.xxhash64(F.trim("_para")))
    )
    hot = (
        parts.where(F.trim("_para") != "")
        .groupBy("_ph")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("_ph")
    )
    kept = parts.join(hot, "_ph", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_para"))),
                lambda s: s["_para"],
            ),
            sep,
        ).alias(text_col)
    )
    # docs whose EVERY paragraph was boilerplate have no kept rows —
    # re-anchor on the original id set so they return as empty text
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))
    )


def dedup_lines_keep_first(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-level exact segment dedup, keep-FIRST-occurrence (the
    RefinedWeb / MassiveText line-dedup tier): split every document
    into segments, and keep each distinct non-blank segment only at
    its globally first occurrence — ordered by ``(doc_id, position)``
    — removing every later copy corpus-wide, including repeats inside
    the same document. Blank segments are structural and always kept.

    This is the complement of :func:`remove_boilerplate` (which drops
    ALL copies of over-frequent segments): here exactly one canonical
    copy of every segment survives, so no content is lost, only
    repetition — the semantics training-data line dedup wants.

    Scale: the survivor election is a ``groupBy`` on the 64-bit
    segment hash aggregating ``min(struct(doc_id, pos))`` — a
    map-side-combinable shuffle of (hash, id, pos) triples, never the
    segment text. The election result joins back on the same hash
    (equi-join, AQE-broadcastable when the distinct-segment table is
    small), and the rebuild reuses the posexplode positions. All JVM
    builtins, no UDF."""
    parts = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("_pos", "_seg"),
    ).withColumn("_sh", F.xxhash64(F.trim("_seg")))
    first = (
        parts.where(F.trim("_seg") != "")
        .groupBy("_sh")
        .agg(F.min(F.struct(F.col(id_col), F.col("_pos"))).alias("_first"))
    )
    kept = parts.join(first, "_sh", "left").where(
        (F.trim("_seg") == "")
        | (
            (F.col(id_col) == F.col("_first")[id_col])
            & (F.col("_pos") == F.col("_first._pos"))
        )
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_seg"))),
                lambda s: s["_seg"],
            ),
            sep,
        ).alias(text_col)
    )
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))
    )


# ---------------------------------------------------------------------------
# Eval-set decontamination (n-gram overlap; beyond-reference)
# ---------------------------------------------------------------------------


def token_ngrams_from_tokens(toks: Column | str, n: int = 8) -> Column:
    """Token n-grams from a STAGED token-array column, as space-joined
    strings. Callers must materialize the token array as its own
    projection column first (the module-header staging rule): handed
    an inline ``split(...)`` subtree instead of an attribute, the
    per-position lambda would re-tokenize the document once per gram —
    O(tokens × chars) per doc (measured 3× on the Bloom probe)."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    sz = F.size(toks)
    return F.when(
        sz <= n, F.array(F.array_join(toks, " "))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), sz - n + 1),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )


def ngram_tokens(col: Column | str) -> Column:
    """The tokenization :func:`token_ngrams_from_tokens` expects —
    lower-cased whitespace split (the GPT-3-style decontamination
    unit) on the PINNED class (Java-``\\s``; RE2 ``\\s`` lacks \\x0B,
    so DuckDB oracle twins must spell the same class — see
    functions/text.py PINNED_WS_RE). Stage it as a column, don't
    inline it."""
    from vectordb_light_spark.functions.text import PINNED_WS_RE

    col = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(F.trim(col)), PINNED_WS_RE)


def ngram_contamination(
    train: DataFrame,
    bench: DataFrame,
    *,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-train-document count of DISTINCT token n-grams shared with
    the benchmark set — the pre-training decontamination pass (flag or
    drop train documents that leak eval data).

    Plan: both sides explode to (gram_key, ...) where gram_key is a
    128-bit md5 of the gram text (fixed-width shuffle keys, never the
    gram strings; md5 is a JVM builtin AND DuckDB-replicable, which
    keeps the operator oracle-checkable — swap xxhash64 in if oracle
    parity is not needed). The benchmark side is distinct-ed and
    broadcast when small (the usual case: eval sets are tiny next to
    the corpus); the train side stays partition-local until the
    aggregation on ``id_col``."""
    grams = token_ngrams_from_tokens(F.col("__toks"), n)
    bench_keys = (
        bench.select(ngram_tokens(F.col(text_col)).alias("__toks"))
        .select(F.explode(grams).alias("__g"))
        .select(F.md5(F.col("__g")).alias("__gk"))
        .distinct()
    )
    train_grams = train.select(
        F.col(id_col), ngram_tokens(F.col(text_col)).alias("__toks")
    ).select(
        F.col(id_col),
        F.explode(F.array_distinct(grams)).alias("__g"),
    ).select(id_col, F.md5(F.col("__g")).alias("__gk"))
    hits = train_grams.join(F.broadcast(bench_keys), "__gk")
    return (
        train.select(id_col)
        .join(
            hits.groupBy(id_col).agg(
                F.count_distinct(F.col("__gk")).alias("n_shared_grams")
            ),
            id_col,
            "left",
        )
        .select(
            id_col,
            F.coalesce(F.col("n_shared_grams"), F.lit(0)).alias("n_shared_grams"),
            (F.coalesce(F.col("n_shared_grams"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


#: Bloom-filter geometry defaults: 2^16 bits in 32-bit words (2048
#: words = 16 KiB), 4 hash functions. Words are 32-bit so every shift
#: stays far from the 64-bit sign bit in ANY engine — no overflow
#: semantics to reconcile between Spark and a SQL twin.
BLOOM_M_BITS = 1 << 16
BLOOM_K = 4
BLOOM_WORD_BITS = 32


def _pow2_word() -> Column:
    """1 << b for b in 0..31 as a literal long array — ``element_at``
    replaces a column-amount shiftleft (the pyspark builtin only takes
    a Python-int shift), and the lookup works inside HOF lambdas.
    Built per call: literal Columns need an active SparkSession."""
    from vectordb_light_spark.session import literal_array

    return literal_array([1 << b for b in range(BLOOM_WORD_BITS)], "bigint")


def _bloom_positions_from_hex(hex_col: Column, *, m_bits: int, k: int) -> Column:
    """Array of ``k`` bit positions from ONE md5 hex digest: position
    *i* is hex chars ``[8i, 8i+8)`` (a 32-bit slice) mod ``m_bits`` —
    the classic one-hash/split-bits Bloom construction (Kirsch &
    Mitzenmacher 2006 shows split/derived positions preserve the FPR).
    One md5 per gram instead of k: the md5 is the expensive step when
    the probe runs as an interpreted higher-order lambda, and slicing
    is also exactly what a SQL twin replays (``substr(md5(g),
    1+8i, 8)``). 128 hex bits bound ``k`` at 4."""
    if not 1 <= k <= 4:
        raise ValueError(f"k must be in [1, 4] (one 128-bit md5), got {k}")
    return F.array(
        *[_bloom_position(hex_col, i, m_bits) for i in range(k)]
    )


def _bloom_position(hex_col: Column, i: int, m_bits: int) -> Column:
    """Bit position *i* from an md5 hex digest — the ONE formula both
    the filter build and the probe evaluate (shared so they cannot
    drift): 32-bit hex slice ``[8i, 8i+8)`` mod ``m_bits``."""
    return (
        F.conv(F.substring(hex_col, 1 + 8 * i, 8), 16, 10).cast("long")
        % m_bits
    )


def bloom_build(
    bench: DataFrame,
    *,
    n: int = 8,
    text_col: str = "text",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> list[int]:
    """Build the benchmark-side Bloom filter over token n-grams:
    returns the dense word array (``m_bits / 32`` ints, zeros
    included) ready to broadcast as a literal into the probe
    projection.

    Plan: grams explode, each fans out to its ``k`` bit positions,
    and ONE ``groupBy(word_idx).agg(bit_or(1 << bit))`` aggregates —
    map-side-combinable, output bounded at ``m_bits/32`` rows
    regardless of benchmark size. The collect is that bounded word
    table (16 KiB at the default geometry), the same bounded-small-
    side pattern as the query-weight pools."""
    pos = (
        bench.select(ngram_tokens(F.col(text_col)).alias("__toks"))
        .select(
            F.explode(
                token_ngrams_from_tokens(F.col("__toks"), n)
            ).alias("__g")
        )
        .select(F.md5("__g").alias("__h"))
        .select(
            F.explode(
                _bloom_positions_from_hex(F.col("__h"), m_bits=m_bits, k=k)
            ).alias("__p")
        )
    )
    words = (
        pos.groupBy((F.col("__p") / BLOOM_WORD_BITS).cast("int").alias("__w"))
        .agg(
            F.bit_or(
                F.element_at(
                    _pow2_word(),
                    (F.col("__p") % BLOOM_WORD_BITS).cast("int") + 1,
                )
            ).alias("__bits")
        )
        .collect()
    )
    dense = [0] * (m_bits // BLOOM_WORD_BITS)
    for r in words:
        dense[r["__w"]] = int(r["__bits"])
    return dense


def bloom_decontaminate(
    train: DataFrame,
    bloom_words: list[int],
    *,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Decontamination via Bloom-filter membership (Bloom 1970 applied
    the way large-corpus pipelines do): flag each train document whose
    token n-grams probe positive against the benchmark filter. Unlike
    :func:`ngram_contamination`'s exact distinct-key broadcast join,
    the filter is CONSTANT memory in the benchmark size — the at-scale
    trade: a deterministic, tunable false-positive rate (never false
    negatives) for a probe that touches no second table at all.

    Plan shape: the word array enters as a literal; distinct grams
    explode (a Generate — stays inside the scan stage), and the k bit
    tests run as PLAIN projections so the whole probe is whole-stage
    codegen (measured 3.4× over the equivalent higher-order-lambda
    form, which executes interpreted). The per-doc rollup is one
    map-side-combinable aggregate, so the only exchange carries ONE
    short row per document — at 100 TB the cost is the text scan plus
    that per-doc exchange, still with no second table anywhere.

    Returns ``(id, n_grams, n_hits, contaminated)``; bit positions
    and words are integer md5 arithmetic, so a SQL twin reproduces
    the filter — false positives included — bit-for-bit."""
    n_words = m_bits // BLOOM_WORD_BITS
    if len(bloom_words) != n_words:
        raise ValueError(
            f"bloom_words must have {n_words} entries for m_bits={m_bits}, "
            f"got {len(bloom_words)}"
        )
    from vectordb_light_spark.session import literal_array

    # ONE parsed expression: 2048 per-element F.lit calls cost ~6 s of
    # py4j plan-construction wall (session.literal_array docstring)
    words = literal_array(bloom_words, "bigint")
    pow2 = _pow2_word()

    grams = (
        train.select(
            F.col(id_col), ngram_tokens(F.col(text_col)).alias("__toks")
        )
        .select(
            F.col(id_col),
            F.explode(
                F.array_distinct(token_ngrams_from_tokens(F.col("__toks"), n))
            ).alias("__g"),
        )
        .select(F.col(id_col), F.md5("__g").alias("__h"))
    )
    hit = None
    for i in range(k):
        p = _bloom_position(F.col("__h"), i, m_bits)
        bit_set = (
            F.element_at(words, (p / BLOOM_WORD_BITS).cast("int") + 1).bitwiseAND(
                F.element_at(pow2, (p % BLOOM_WORD_BITS).cast("int") + 1)
            )
            != 0
        )
        hit = bit_set if hit is None else (hit & bit_set)
    return (
        grams.select(F.col(id_col), hit.cast("int").alias("__hit"))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_grams"),
            F.sum("__hit").cast("int").alias("n_hits"),
        )
        .withColumn("contaminated", (F.col("n_hits") > 0).cast("int"))
    )


# ---------------------------------------------------------------------------
# Corpus-level exact-substring dedup (repeated-span mining; beyond-reference)
# ---------------------------------------------------------------------------


def _anchor_grams(
    df: DataFrame, *, id_col: str, text_col: str, anchor: int
) -> DataFrame:
    """(id, pos, gk) rows: one md5 key per token ``anchor``-gram, with
    its 0-based start position in the document's whitespace token
    stream. Tokens are lower-cased for the KEY only (positions refer
    to the case-preserving split, which is whitespace-identical).
    Documents shorter than ``anchor`` tokens emit nothing — they
    cannot contain a repeated span at this granularity (exact_dedup
    owns whole-short-doc duplication). Staged projections keep the
    tokenize out of the per-element lambda (see module docstring)."""
    toks = df.select(
        F.col(id_col),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("__toks"),
    ).where(F.size("__toks") >= anchor)
    grams = toks.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("__toks") - anchor),
                lambda i: F.struct(
                    i.cast("int").alias("pos"),
                    # 16-byte binary key, not the 32-char hex string:
                    # gk is internal (equality only — never surfaced),
                    # and the anchor-gram rows are exactly what the
                    # hot aggregate and the cover join shuffle, so
                    # halving the key halves those exchanges (§2.3).
                    F.unhex(
                        F.md5(
                            F.array_join(
                                F.slice("__toks", i + 1, anchor), " "
                            )
                        )
                    ).alias("gk"),
                ),
            )
        ).alias("__a"),
    )
    return grams.select(id_col, "__a.pos", "__a.gk")


def repeated_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    anchor: int = 8,
    min_docs: int = 2,
    min_span_tokens: int | None = None,
) -> DataFrame:
    """Mine maximal cross-document repeated token spans — the
    exact-substring dedup tier (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"), re-expressed for
    Spark: where the paper builds a corpus-wide suffix array, this
    uses sliding token ``anchor``-gram hashes as span anchors, which
    detects exactly the spans of ≥ ``anchor`` tokens shared by
    ≥ ``min_docs`` DISTINCT documents. remove_boilerplate is the
    paragraph-exact sibling; this tier catches a 60-token quote
    duplicated MID-paragraph across 10k pages, which no paragraph or
    whole-doc hash sees. Within-document self-repetition is
    ts_repetition_filter's job and does not trigger here.

    Returns one row per maximal repeated region: (id, span_start,
    span_end, span_tokens), 0-based token positions, end exclusive,
    only regions with ≥ ``min_span_tokens`` tokens (default: 2 ×
    ``anchor``, so an isolated common phrase of exactly one anchor
    does not fire). Overlapping and ABUTTING anchor covers merge into
    one region (gaps-and-islands over the per-doc position stream).

    Scale: the only wide ops are (a) a groupBy on the 128-bit gram
    key to find hot anchors — count-style aggregation, constant
    memory per key, partial-agg friendly, never collect_set; (b) an
    equi-join of gram rows against the hot-key set — output is at
    most the gram-row count (LINEAR in corpus tokens; no pair
    emission anywhere, so a million-fold repeated span costs a
    million rows, not a million²); AQE broadcasts the hot set when
    small and splits skewed build keys otherwise; and (c) a per-doc
    window for the interval merge, bounded by document length. The
    shuffle never carries text — md5 keys and int positions only.
    """
    from pyspark.sql import Window

    from vectordb_light_spark.session import persist_if_batch

    if min_span_tokens is None:
        min_span_tokens = 2 * anchor
    # both the hot-anchor aggregation and the cover join consume the
    # gram rows — persist so tokenize + per-gram md5 run once
    grams = persist_if_batch(
        _anchor_grams(df, id_col=id_col, text_col=text_col, anchor=anchor)
    )
    hot = (
        grams.groupBy("gk")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("gk")
    )
    cov = grams.join(hot, "gk").select(
        id_col,
        F.col("pos").alias("__s"),
        (F.col("pos") + anchor).alias("__e"),
    )
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("__s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("__s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_max_end = F.max("__e").over(w_prev)
    islands = cov.withColumn(
        "__isl",
        F.sum(
            F.when(
                prev_max_end.isNull() | (F.col("__s") > prev_max_end), 1
            ).otherwise(0)
        ).over(w_run),
    )
    return (
        islands.groupBy(id_col, "__isl")
        .agg(
            F.min("__s").alias("span_start"),
            F.max("__e").alias("span_end"),
        )
        .withColumn("span_tokens", F.col("span_end") - F.col("span_start"))
        .where(F.col("span_tokens") >= min_span_tokens)
        .drop("__isl")
    )


def remove_repeated_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    anchor: int = 8,
    min_docs: int = 2,
    min_span_tokens: int | None = None,
) -> DataFrame:
    """Strip every occurrence of the repeated regions mined by
    :func:`repeated_spans` from every document (the Lee et al. 2022
    released tool's remove-all-copies policy; retain-one belongs to
    cluster-level dedup, not substring surgery). Returns the original
    rows with ``text_col`` rebuilt from the kept tokens (whitespace
    normalized to single spaces, case preserved) plus
    ``removed_tokens``; documents that were entirely repeated come
    back with empty text, mirroring remove_boilerplate.

    The span list joins back 1:1 on the id (a handful of int pairs
    per doc), and the rebuild is a single higher-order filter over
    the token array — no shuffle beyond repeated_spans' own.
    """
    spans = repeated_spans(
        df,
        id_col=id_col,
        text_col=text_col,
        anchor=anchor,
        min_docs=min_docs,
        min_span_tokens=min_span_tokens,
    )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    kept = F.filter(
        toks,
        lambda x, i: ~F.exists(
            "__spans",
            lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
        ),
    )
    out = (
        df.join(per_doc, id_col, "left")
        .withColumn(
            "__kept", F.when(F.col("__spans").isNull(), toks).otherwise(kept)
        )
        .withColumn(
            "removed_tokens",
            (F.size(toks) - F.size("__kept")).cast("int"),
        )
        .withColumn(text_col, F.array_join("__kept", " "))
        .drop("__spans", "__kept")
    )
    return out
