"""The read path: exact top-k cosine search with the reference's
post-top-k filter semantics.

Reference pipeline (vector_db_query.py:140-263) in order:
  Q1 embed query → Q2 FLAT top-k cosine → Q4 dist→sim clip →
  Q5 similarity threshold (AFTER top-k — results may shrink below k) →
  Q8 case-insensitive search-term substring filter →
  Q9 document-type equality filter → Q10 rank-ordered projection.

Q2-Q10 are rendered in one place (:func:`search_sql`) and built in a
single ``spark.sql`` call. The ranked text is run by
``VectorDB.search`` over its view, and by :func:`_exact_topk` for
:func:`topk_cosine` and the ANN tiers' exact rank
(operators/similarity.py: the SRP/IVF candidate filter is the text's
``where``, the PQ re-rank pool its source). The facade's terminal
consumers (``VectorDB.rag_prompt``, ``chunks_only``, the CLI
``search``) collect the root top-k text instead, which carries the
same post-top-k predicate as a column: a top-k at the root of its
plan runs in one stage, its per-task heaps merged on the driver. A
DataFrame-API build of the same plan costs hundreds of py4j round
trips. Each row is scored once, JVM-side; the top-k order, the
threshold and ``VectorDB``'s on-read stats all read that one column.
User strings (the search term, the document type) are bound as named
parameters, never pasted into the text.

Order is semantics, not optimization: the threshold and post-filters
are applied to the top-k result, so pushing them below the limit would
be WRONG (they can only shrink the k rows, never admit replacements).
We encode that by ranking the top-k with row_number before filtering
— the limit is a hard barrier Catalyst cannot (and must not) push
filters through.

Scale notes (100 TB): the top-k itself is a TakeOrderedAndProject —
each task keeps a k-sized heap, the driver merges per-partition heaps;
no shuffle of the full table, no sort. The scan prunes to
(id, vector[, filter cols]) via Parquet column pruning. For repeated
queries, batch them via :func:`topk_cosine_batch` (one scan for Q
queries) rather than Q scans. Its per-partition local top-k and
per-query window rank (:func:`_batched_topk`, the rank one SQL text)
are also the batched ADC search's (``similarity.ann_topk_pq_batch``):
the two differ only in how a score block is computed.
"""

from __future__ import annotations

import functools
import math
import numbers
import uuid
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vectordb_light_spark.session import literal_array_sql, quote_ident, sql_over


@dataclass(frozen=True)
class SearchParams:
    """Query-time knobs, mirroring the reference's config
    (reference config.py:28-32): k ('contexts') default 6, similarity
    threshold default 0.4, optional substring search term and
    document-type equality filter. ``k`` must be a non-negative int
    that fits Spark's int ``LIMIT`` and ``threshold`` a finite number:
    both are rendered into SQL text."""

    k: int = 6
    threshold: float = 0.4
    search_term: str | None = None
    document_type: str | None = None
    assume_normalized: bool = False  # write-path vectors are L2-normalized

    def __post_init__(self):
        if (
            not isinstance(self.k, numbers.Integral)
            or isinstance(self.k, bool)
            or not 0 <= self.k < 2**31
        ):
            raise ValueError(
                f"SearchParams.k must be a non-negative int below 2**31, got {self.k!r}"
            )
        if (
            not isinstance(self.threshold, numbers.Real)
            or isinstance(self.threshold, bool)
            or not math.isfinite(self.threshold)
        ):
            raise ValueError(
                f"SearchParams.threshold must be a finite number, got {self.threshold!r}"
            )


def similarity_sql(vec_col: str, query: list[float], *, assume_normalized: bool) -> str:
    """Cosine similarity of a vector column against one literal query
    vector as SQL text, clipped to [0,1] like the reference's
    sim = clip(1 - distance, 0, 1) (vector_db_query.py:186-192).
    The higher-order-function math of functions/vector.py, rendered
    as ONE parsed SQL expression like ``session.literal_array``
    (lambda-built HOF trees pay a py4j round trip per node at every
    plan build)."""
    q, vec = [float(v) for v in query], quote_ident(vec_col)
    sim = (
        f"aggregate(zip_with({vec}, {literal_array_sql(q, 'double')}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
    )
    if not assume_normalized:
        # ‖q‖ summed in the aggregate's order: bit-identical to the HOF form
        q_norm = max(math.sqrt(functools.reduce(lambda acc, x: acc + x * x, q, 0.0)), 1e-12)
        sim += (
            f" / (greatest(sqrt(aggregate({vec}, 0.0D, (acc, x) -> acc + "
            f"CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 1e-12D) * {q_norm!r}D)"
        )
    return f"least(greatest({sim}, 0.0D), 1.0D)"


def similarity_column(vec_col: str, query: list[float], *, assume_normalized: bool) -> Column:
    """:func:`similarity_sql` as a Column."""
    return F.expr(similarity_sql(vec_col, query, assume_normalized=assume_normalized))


def search_sql(
    source: str,
    columns: list[str],
    query: list[float],
    params: SearchParams,
    *,
    id_col: str = "id",
    vec_col: str = "vector",
    drop: tuple[str, ...] = (),
    where: str | None = None,
) -> tuple[str, str, str, dict]:
    """Render one exact search over the table or view ``source`` as
    SQL: ``(scored, ranked, top, args)``.

    ``scored`` is the scan: ``columns`` minus the vector (and ``drop``)
    plus ``similarity_score``, optionally behind a ``where`` predicate
    on the unscored rows. ``ranked`` takes its top-k (per-task
    k-heaps, TakeOrderedAndProject), ranks the ≤k rows, THEN applies
    the post-top-k filters Q5 → Q8 → Q9 as one predicate, so
    surviving rows keep their original rank; ties break on ``id_col``
    ascending. ``top`` is the same top-k as the root of its plan, with
    that predicate as the ``__keep`` column: collected, it runs in one
    stage (no rank Window to shuffle into), and its rows in collected
    order are the ranks. ``search_term`` (lower-cased) and
    ``document_type`` are bound as the named parameters in ``args``,
    never pasted."""
    gone = {vec_col, *drop}
    keep = ", ".join(quote_ident(c) for c in columns if c not in gone)
    sim = similarity_sql(vec_col, query, assume_normalized=params.assume_normalized)
    scored = f"SELECT {keep}, {sim} AS similarity_score FROM {quote_ident(source)}"
    if where:
        scored += f" WHERE {where}"
    order = f"similarity_score DESC, {quote_ident(id_col)} ASC"
    cond = [f"similarity_score >= {float(params.threshold)!r}D"]
    args = {}
    if params.search_term:
        # Q8: case-insensitive substring containment on chunk text
        # (vector_db_query.py:243-250).
        cond.append("contains(lower(`text`), :search_term)")
        args["search_term"] = params.search_term.lower()
    if params.document_type:
        # Q9: exact equality on document_type (vector_db_query.py:252-257).
        cond.append("`document_type` = :document_type")
        args["document_type"] = params.document_type
    post = " AND ".join(cond)
    limited = f"{scored} ORDER BY {order} LIMIT {int(params.k)}"
    ranked = (
        f"SELECT * FROM (SELECT *, row_number() OVER (ORDER BY {order}) AS `rank` "
        f"FROM ({limited}) AS top) AS ranked WHERE {post} ORDER BY `rank`"
    )
    top = f"SELECT *, ({post}) AS __keep FROM ({limited}) AS top"
    return scored, ranked, top, args


def _exact_topk(
    vectors: DataFrame,
    query: list[float],
    params: SearchParams,
    *,
    id_col: str,
    vec_col: str,
    where: str | None = None,
) -> DataFrame:
    """:func:`search_sql`'s ranked text over ``vectors``, its scan
    narrowed by ``where``, built in one ``spark.sql`` call."""
    view = f"topk_{uuid.uuid4().hex}"
    _, ranked, _, args = search_sql(
        view, vectors.columns, query, params,
        id_col=id_col, vec_col=vec_col, where=where,
    )
    return sql_over(vectors, view, ranked, args)


def topk_cosine(
    vectors: DataFrame,
    query: list[float],
    params: SearchParams = SearchParams(),
    *,
    id_col: str = "id",
    vec_col: str = "vector",
) -> DataFrame:
    """Exact brute-force top-k cosine search (reference Q2,
    vector_db_query.py:148-163) with rank, then the reference's
    post-top-k filters (Q5/Q8/Q9): the :func:`search_sql` ranked text
    run over ``vectors`` in one ``spark.sql`` call.

    Returns the input columns (minus the vector) plus
    ``similarity_score`` (double, clipped) and ``rank`` (1..≤k).
    Ties break on ``id_col`` ascending so results are deterministic
    (the reference's numpy argpartition tie order is unspecified;
    SURVEY §2.8 requires an explicit tiebreaker).
    """
    return _exact_topk(vectors, query, params, id_col=id_col, vec_col=vec_col)


def range_search(
    vectors: DataFrame,
    query: list[float],
    *,
    radius: float,
    id_col: str = "id",
    vec_col: str = "vector",
    assume_normalized: bool = False,
) -> DataFrame:
    """ALL vectors within a similarity radius of the query (the FAISS
    ``range_search`` analogue) — no k: result size is data-dependent,
    which is what dedup sweeps and recall audits want, where top-k's
    fixed cutoff would truncate dense neighborhoods.

    Plan shape: one scan + map-side filter on the
    :func:`similarity_column` score — no shuffle at all until the
    final (result-sized, not data-sized) sort. At 100 TB this is
    strictly cheaper than top-k: no per-partition heaps, no ordered
    reduce; the scan parallelism IS the operator.

    Returns the input columns (minus the vector) plus
    ``similarity_score`` (double, clipped to [0,1]), ordered by
    (score desc, id).
    """
    sim = similarity_column(vec_col, query, assume_normalized=assume_normalized)
    # Catalyst inlines a projected alias into a filter pushed below it,
    # scoring passing rows twice; a generator output is never inlined.
    return (
        vectors.select(
            *[c for c in vectors.columns if c != vec_col],
            F.explode(F.array(sim)).alias("similarity_score"),
        )
        .where(F.col("similarity_score") >= F.lit(radius))
        .orderBy(F.col("similarity_score").desc(), F.col(id_col).asc())
    )


def _batched_topk(
    scan: DataFrame,
    qids: np.ndarray,
    payload,
    score_block,
    *,
    k: int,
    id_col: str,
    query_id_col: str,
    threshold: float | None = None,
) -> DataFrame:
    """The one batched top-k: every partition of ``scan`` scores each
    Arrow batch against ALL queries at once (``score_block(pdf,
    payload)`` returns the [rows, queries] score block) and emits only
    each query's local top-k, so the shuffle into the per-query window
    rank carries ≤ k rows per query per partition. Local and global
    orders are identical (score desc, id asc), which makes the
    two-phase top-k exact, ties included. ``(qids, payload)`` is
    broadcast once. The per-query rank (and the optional score
    ``threshold`` above it) is one ``spark.sql`` text over a temp view
    of the local top-k: the DataFrame-API Window costs a py4j round
    trip per Column call. Returns (query id, id, similarity_score,
    rank ≤ k).
    """
    if threshold is not None and not math.isfinite(threshold):
        raise ValueError(f"threshold must be a finite number, got {threshold!r}")
    b = scan.sparkSession.sparkContext.broadcast((qids, payload))

    def run(batches):
        qids_, payload_ = b.value
        for pdf in batches:
            if not len(pdf) or not len(qids_):
                continue
            a_ids = pdf[id_col].to_numpy(dtype=np.int64)
            sims = score_block(pdf, payload_)  # [n_block, n_queries]
            kk = min(k, sims.shape[0])
            out_q, out_i, out_s = [], [], []
            for j in range(sims.shape[1]):
                col = sims[:, j]
                idx = (
                    np.argpartition(-col, kk - 1)[:kk]
                    if kk < col.shape[0]
                    else np.arange(col.shape[0])
                )
                idx = idx[np.lexsort((a_ids[idx], -col[idx]))]
                out_q.append(np.full(len(idx), qids_[j], dtype=np.int64))
                out_i.append(a_ids[idx])
                out_s.append(col[idx])
            yield pd.DataFrame(
                {
                    query_id_col: np.concatenate(out_q),
                    id_col: np.concatenate(out_i),
                    "similarity_score": np.concatenate(out_s),
                }
            )

    local = scan.mapInPandas(
        run, schema=f"{query_id_col} long, {id_col} long, similarity_score double"
    )
    cond = f"`rank` <= {int(k)}"
    if threshold is not None:
        cond += f" AND similarity_score >= {float(threshold)!r}D"
    view = f"topk_{uuid.uuid4().hex}"
    return sql_over(
        local, view,
        f"SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY "
        f"{quote_ident(query_id_col)} ORDER BY similarity_score DESC, "
        f"{quote_ident(id_col)} ASC) AS `rank` FROM {quote_ident(view)}) AS ranked "
        f"WHERE {cond}",
    )


def topk_cosine_batch(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    k: int = 6,
    threshold: float = 0.0,
    id_col: str = "id",
    vec_col: str = "vector",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    assume_normalized: bool = False,
) -> DataFrame:
    """Top-k for MANY queries in one scan of the vectors table.

    The query set (small by contract — it is broadcast) is collected
    into a dense matrix and shipped to executors; every vectors
    partition computes its block × queriesᵀ with ONE BLAS matmul per
    Arrow batch and keeps only its per-query local top-k
    (:func:`_batched_topk`) — the O(N·M) similarity matrix never
    exists as rows. (A crossJoin + per-row higher-order-function dot
    product computes the same thing ~20× slower: the HOF lambda runs
    in the expression interpreter per row. SCALING.md's first table
    has this operator's timings at x1–x16.)

    This is the scale path for query throughput and for N×M similarity
    joins with a small N: one pass over 100 TB serves thousands of
    queries. For large×large, use the LSH tiers in
    operators.similarity instead.
    """
    qrows = queries.select(query_id_col, query_vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    if not assume_normalized and len(qmat):
        qn = np.linalg.norm(qmat, axis=1, keepdims=True)
        np.maximum(qn, 1e-12, out=qn)
        qmat = qmat / qn

    def cosine_block(pdf, qmat_):
        a_mat = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
        if not assume_normalized:
            n = np.linalg.norm(a_mat, axis=1, keepdims=True)
            np.maximum(n, 1e-12, out=n)
            a_mat = a_mat / n
        return np.clip(a_mat @ qmat_.T, 0.0, 1.0)

    return _batched_topk(
        vectors.select(id_col, vec_col), qids, qmat, cosine_block,
        k=k, id_col=id_col, query_id_col=query_id_col, threshold=threshold,
    )


def mmr_rerank(
    pool: DataFrame,
    query: list[float],
    *,
    k: int = 6,
    lam: float = 0.5,
    id_col: str = "id",
    vec_col: str = "vector",
) -> DataFrame:
    """Maximal-marginal-relevance diversification (Carbonell &
    Goldstein 1998, public method): greedily pick the candidate
    maximizing ``lam·sim(q, d) − (1−lam)·max_{s∈selected} sim(d, s)``
    — near-duplicate hits stop crowding the result the moment one of
    them is selected.

    Scale shape: the DISTRIBUTED part of the query (the full-table
    top-k scan) has already shrunk the data to a pool of tens of rows;
    MMR is an inherently sequential greedy loop over that pool, so it
    runs driver-side in numpy on k-sized data — putting it in a Spark
    job would add scheduling overhead to an O(pool²·dim) computation
    that fits in a cache line budget. Pass a pool of ``fetch_k`` (2-5×
    final k) rows from :func:`topk_cosine`; ties break by ascending
    id. Returns (id, similarity_score, mmr_score, mmr_rank).
    """
    rows = pool.select(id_col, vec_col).collect()
    if not rows:
        return pool.sparkSession.createDataFrame(
            [], f"{id_col} long, similarity_score double, mmr_score double, mmr_rank int"
        )
    ids = [r[0] for r in rows]
    mat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    qv = np.asarray(query, dtype=np.float64)
    rel = mat @ qv  # assume unit-norm store (write-path invariant)

    selected: list[int] = []
    scores: list[float] = []
    remaining = list(range(len(ids)))
    while remaining and len(selected) < k:
        if not selected:
            mmr = rel[remaining]
        else:
            red = (mat[remaining] @ mat[selected].T).max(axis=1)
            mmr = lam * rel[remaining] - (1.0 - lam) * red
        # argmax with ascending-id tiebreak: sort keys (score desc, id)
        best = min(
            range(len(remaining)),
            key=lambda i: (-mmr[i], ids[remaining[i]]),
        )
        selected.append(remaining[best])
        scores.append(float(mmr[best]))
        remaining.pop(best)

    out = [
        (int(ids[i]), float(rel[i]), scores[r], r + 1)
        for r, i in enumerate(selected)
    ]
    return pool.sparkSession.createDataFrame(
        out, f"{id_col} long, similarity_score double, mmr_score double, mmr_rank int"
    )
