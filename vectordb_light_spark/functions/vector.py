"""Vector math over ``array<float>`` columns — pure Catalyst builtins.

The reference's FLAT index computes cosine distance in TileDB's C++
kernel (reference vector_db_creator.py:337-344, vector_db_query.py:163).
Here the same math is expressed with Spark higher-order functions
(`zip_with` + `aggregate`), which run JVM-side per row with no Python
transfer — the idiomatic "exact scan" on a DataFrame. Embeddings are
L2-normalized at write time (reference embedding_models.py:437) so
cosine reduces to a dot product on the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ as a double. JVM-side: aggregate(zip_with(a,b,*), 0.0, +).

    Elements are promoted to double BEFORE the multiply: float*float
    stays float in Spark, which loses ~3 decimal digits per product
    and breaks value-parity with engines that compute in double."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    """‖a‖₂ as a double."""
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def l2_normalize(a: Column | str, eps: float = 1e-12) -> Column:
    """a / max(‖a‖₂, eps) as array<double>; keeps zero vectors finite.

    Mirrors the reference's write-time F.normalize(p=2, dim=1)
    (reference embedding_models.py:437).
    """
    a = F.col(a) if isinstance(a, str) else a
    norm = F.greatest(l2_norm(a), F.lit(eps))
    return F.transform(a, lambda x: x / norm)


def cosine_similarity(a: Column | str, b: Column | str, eps: float = 1e-12) -> Column:
    """cos(a,b) = a·b / (‖a‖‖b‖), guarded against zero vectors.

    Use :func:`dot_product` directly when both sides are known to be
    L2-normalized (the engine's write-path invariant) — one pass
    instead of three.
    """
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return dot_product(a, b) / (
        F.greatest(l2_norm(a), F.lit(eps)) * F.greatest(l2_norm(b), F.lit(eps))
    )


def quantize_int8(a: Column | str) -> Column:
    """Symmetric int8 quantization of a unit-norm embedding:
    ``q = floor(clamp(x, -1, 1) * 127 + 0.5)`` per element, stored as
    ``array<tinyint>`` — 4× smaller than float32 on disk AND on the
    wire (the scan, the shuffle, and the broadcast all shrink with
    it), at ~0.3% cosine error for unit vectors.

    floor(x+0.5), NOT round(): engines disagree on round-half of
    doubles (Spark rounds the decimal string, C engines the binary
    value); floor of identical doubles is identical everywhere, so a
    quantized store built by any engine matches this one bit-for-bit.
    """
    c = F.col(a) if isinstance(a, str) else a
    return F.transform(
        c,
        lambda x: F.floor(
            F.least(F.greatest(x, F.lit(-1.0)), F.lit(1.0)) * 127.0 + 0.5
        ).cast("tinyint"),
    )


def dequantize_int8(q: Column | str) -> Column:
    """Back to ``array<double>`` (values in [-1, 1]): ``x = q/127``."""
    c = F.col(q) if isinstance(q, str) else q
    return F.transform(c, lambda x: x.cast("double") / 127.0)


def mean_pool_vectors(
    df,
    group_cols: str | list[str],
    vec_col: str = "vector",
    *,
    out_col: str = "vector",
    normalize: bool = True,
):
    """Element-wise mean of ``vec_col`` per group (chunk→document
    embedding pooling), optionally L2-renormalized — the standard way
    to derive one document vector from its chunk vectors.

    Scale shape: ``posexplode`` + ``sum/count`` groupBy. Spark has no
    element-wise array-sum aggregate, but the exploded groupBy gets
    MAP-SIDE partial aggregation for free — each task emits at most
    (groups-in-task × dim) partial sums, so the shuffle carries group
    partials, not N×dim element rows. A ``collect_list``-of-arrays
    formulation would shuffle every input vector (no partial agg) and
    OOM on hot groups; this one is skew-proof. Reassembly sorts dim
    entries per group (dim ≤ a few thousand — driver-safe per row).

    Returns a DataFrame with ``group_cols`` + ``out_col``
    (array<double>, unit-norm when ``normalize``).
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    flat = df.select(*groups, F.posexplode(F.col(vec_col)).alias("_pos", "_val"))
    means = flat.groupBy(*groups, "_pos").agg(
        (F.sum(F.col("_val").cast("double")) / F.count(F.lit(1))).alias("_mv")
    )
    assembled = means.groupBy(*groups).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_pos", "_mv"))),
            lambda s: s["_mv"],
        ).alias(out_col)
    )
    if normalize:
        assembled = assembled.withColumn(out_col, l2_normalize(out_col))
    return assembled
