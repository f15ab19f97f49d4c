"""ANN (SRP-LSH, IVF) and embedding near-dup tests, including recall
against the exact scan on the driver's embeddings table."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vectordb_light_spark.operators.similarity import (
    add_ivf_cluster,
    add_srp_signature,
    ann_topk_ivf,
    ann_topk_srp,
    cosine_pairs_exact,
    srp_planes,
    srp_signature_of,
    train_ivf_centroids,
)
from vectordb_light_spark.session import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").cache()


@pytest.fixture(scope="module")
def query(emb):
    row = emb.where(F.col("vec_id") == 3).select("embedding").first()
    return [float(x) for x in row[0]]


def exact_topk_ids(emb, query, k):
    from vectordb_light_spark.operators.search import SearchParams, topk_cosine

    out = topk_cosine(
        emb, query, SearchParams(k=k, threshold=0.0, assume_normalized=True),
        id_col="vec_id", vec_col="embedding",
    )
    return [r["vec_id"] for r in out.select("vec_id").collect()]


def test_srp_signature_driver_matches_cluster(spark, emb):
    indexed = add_srp_signature(emb, n_planes=16, seed=7)
    rows = indexed.select("vec_id", "embedding", "srp_sig").limit(20).collect()
    planes = srp_planes(64, 16, 7)
    for r in rows:
        assert srp_signature_of([float(x) for x in r["embedding"]], planes) == r["srp_sig"]


def test_srp_full_radius_equals_exact(spark, emb, query):
    indexed = add_srp_signature(emb, n_planes=16)
    ann = ann_topk_srp(indexed, query, k=10, probe_hamming=16, n_planes=16)
    assert [r["vec_id"] for r in ann.select("vec_id").collect()] == exact_topk_ids(
        emb, query, 10
    )


def test_srp_recall_at_modest_radius(spark, emb, query):
    indexed = add_srp_signature(emb, n_planes=16)
    ann = ann_topk_srp(indexed, query, k=10, probe_hamming=6, n_planes=16)
    got = {r["vec_id"] for r in ann.select("vec_id").collect()}
    exact = set(exact_topk_ids(emb, query, 10))
    recall = len(got & exact) / 10
    assert recall >= 0.5, f"SRP recall@10 too low: {recall}"
    # and the candidate filter actually pruned something
    n_cand = indexed.where(
        F.bit_count(
            F.col("srp_sig").bitwiseXOR(
                F.lit(srp_signature_of(query, srp_planes(64, 16, 42)))
            )
        )
        <= 6
    ).count()
    assert n_cand < emb.count()


def test_ivf_roundtrip_and_recall(spark, emb, query):
    cents = train_ivf_centroids(emb, n_centroids=8, n_iters=3)
    assert cents.shape == (8, 64)
    np.testing.assert_allclose(np.linalg.norm(cents, axis=1), 1.0, atol=1e-6)
    indexed = add_ivf_cluster(emb, cents).cache()
    # every row gets a cluster in range
    assert indexed.where(~F.col("ivf_cluster").between(0, 7)).count() == 0
    # full probe == exact
    ann_full = ann_topk_ivf(indexed, cents, query, k=10, nprobe=8)
    assert [r["vec_id"] for r in ann_full.select("vec_id").collect()] == exact_topk_ids(
        emb, query, 10
    )
    # partial probe: decent recall, strictly pruned scan
    ann4 = ann_topk_ivf(indexed, cents, query, k=10, nprobe=3)
    got = {r["vec_id"] for r in ann4.select("vec_id").collect()}
    recall = len(got & set(exact_topk_ids(emb, query, 10))) / 10
    assert recall >= 0.5, f"IVF recall@10 too low: {recall}"


def test_cosine_pairs_exact_symmetric_threshold(spark, emb):
    pairs = cosine_pairs_exact(emb, threshold=0.3).collect()
    assert all(r["id_a"] < r["id_b"] for r in pairs)
    assert all(r["cosine"] >= 0.3 for r in pairs)


def test_banded_near_dup_containment_and_recall(spark):
    from vectordb_light_spark.functions.embedding import embed_documents
    from vectordb_light_spark.operators.similarity import (
        embedding_near_dup_pairs_banded,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    emb_docs = embed_documents(docs, {"encoder": "hashing", "dim": 64, "seed": 0}).drop(
        "text"
    ).cache()
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_pairs_exact(
            emb_docs, id_col="doc_id", vec_col="vector", threshold=0.9
        ).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs_banded(
            emb_docs, id_col="doc_id", vec_col="vector", threshold=0.9
        ).collect()
    }
    assert approx <= set(exact)
    if exact:
        assert len(approx) / len(exact) >= 0.5


def test_ivf_partitioned_layout_prunes_scan(spark, emb, query, tmp_path):
    """The 100 TB IVF design made observable: the indexed table written
    partitionBy(ivf_cluster) turns a probe into a partition-pruned
    read — the scan's PartitionFilters carry the cluster predicate and
    only nprobe directories are touched — and the pruned probe returns
    exactly what the unpartitioned probe returns."""
    cents = train_ivf_centroids(emb, n_centroids=8, n_iters=3)
    indexed = add_ivf_cluster(emb, cents)
    path = str(tmp_path / "ivf_table")
    indexed.write.partitionBy("ivf_cluster").parquet(path)

    table = spark.read.parquet(path)
    ann = ann_topk_ivf(table, cents, query, k=10, nprobe=3)
    plan = ann._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_cluster" in plan.split(
        "PartitionFilters", 1
    )[1][:200]

    got = [(r["vec_id"], round(r["similarity_score"], 6)) for r in ann.collect()]
    base = ann_topk_ivf(indexed, cents, query, k=10, nprobe=3)
    expected = [
        (r["vec_id"], round(r["similarity_score"], 6)) for r in base.collect()
    ]
    assert got == expected


def test_ann_topk_join_lsh_recall(spark, emb):
    """Large×large LSH top-k join: ranked output is a subset of real
    cosine neighbors (exact values, correct per-left ordering) and
    recall@5 vs the exact batch join stays high at 64 planes/16
    bands."""
    from vectordb_light_spark.operators.search import topk_cosine_batch
    from vectordb_light_spark.operators.similarity import ann_topk_join_lsh

    left = emb.where(F.col("vec_id") < 60).select(
        F.col("vec_id").alias("l_id"), F.col("embedding").alias("l_vec")
    )
    right = emb.select(
        F.col("vec_id").alias("r_id"), F.col("embedding").alias("r_vec")
    )
    got = ann_topk_join_lsh(left, right, k=5, bands=16).collect()
    by_left: dict = {}
    for r in got:
        by_left.setdefault(r["l_id"], []).append((r["rank"], r["r_id"], r["cosine"]))
    # per-left ranks are 1..n and ordered by cosine desc
    for rows in by_left.values():
        rows.sort()
        assert [x[0] for x in rows] == list(range(1, len(rows) + 1))
        assert all(rows[i][2] >= rows[i + 1][2] for i in range(len(rows) - 1))

    exact = topk_cosine_batch(
        emb, left.select(F.col("l_id").alias("query_id"),
                         F.col("l_vec").alias("query_vec")),
        k=5, threshold=0.0, id_col="vec_id", vec_col="embedding",
        assume_normalized=True,
    ).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = total = 0
    for lid, want in exact_sets.items():
        have = {x[1] for x in by_left.get(lid, [])}
        hits += len(want & have)
        total += len(want)
    recall = hits / total
    assert recall >= 0.7, f"LSH join recall@5 too low: {recall:.2f}"


def test_cosine_pairs_blocked_equals_unblocked(spark, emb):
    """block_rows bounds the per-batch similarity block without
    changing the result: blocked and unblocked runs emit the same
    pair set and values."""
    full = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 9)
        for r in cosine_pairs_exact(emb, threshold=0.3).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 9)
        for r in cosine_pairs_exact(emb, threshold=0.3, block_rows=37).collect()
    }
    assert full == blocked and full


def test_pq_encode_codes_shape_and_determinism(spark, emb):
    from vectordb_light_spark.operators.similarity import (
        add_pq_codes,
        train_pq_codebooks,
    )

    books = train_pq_codebooks(emb, m=8, n_codes=16)
    assert books.shape == (8, 16, 8)  # dim 64 → 8 subspaces of 8
    coded = add_pq_codes(emb, books)
    assert dict(coded.dtypes)["pq_code"] == "array<tinyint>"
    rows = coded.select("vec_id", "pq_code").orderBy("vec_id").limit(20).collect()
    again = (
        add_pq_codes(emb, books)
        .select("vec_id", "pq_code")
        .orderBy("vec_id")
        .limit(20)
        .collect()
    )
    assert [list(r["pq_code"]) for r in rows] == [list(r["pq_code"]) for r in again]
    for r in rows:
        assert len(r["pq_code"]) == 8
        assert all(0 <= c < 16 for c in r["pq_code"])


def test_pq_adc_score_matches_numpy_and_recall(spark, emb, query):
    """ADC score from the JVM lookup expression equals the numpy
    reconstruction dot product, and recall@10 vs the exact scan is
    usable at 8×16 codes on 64-d vectors."""
    import numpy as np

    from vectordb_light_spark.operators.similarity import (
        add_pq_codes,
        ann_topk_pq,
        train_pq_codebooks,
    )

    m, n_codes, sub = 16, 64, 4  # 16 bytes/vector vs 256 for float32
    books = train_pq_codebooks(emb, m=m, n_codes=n_codes)
    coded = add_pq_codes(emb, books).cache()
    got = ann_topk_pq(coded, books, query, k=10)
    rows = got.collect()
    assert len(rows) == 10

    qv = np.asarray(query)
    lut = np.stack([books[s] @ qv[s * sub : (s + 1) * sub] for s in range(m)])
    codes = {
        r["vec_id"]: list(r["pq_code"])
        for r in coded.select("vec_id", "pq_code").collect()
    }
    for r in rows:
        expect = float(sum(lut[s][codes[r["vec_id"]][s]] for s in range(m)))
        assert abs(r["similarity_score"] - expect) < 1e-9

    exact10 = set(exact_topk_ids(emb, query, 10))
    recall = len({r["vec_id"] for r in rows} & exact10) / 10
    assert recall >= 0.5, f"PQ recall@10 too low: {recall}"

    # PQ's production shape: compressed-domain candidate pool + exact
    # re-rank — the top-50 ADC pool must contain the exact top-10
    pool = {r["vec_id"] for r in ann_topk_pq(coded, books, query, k=50).collect()}
    assert exact10 <= pool

    # rerank_pool wires that in: scores become EXACT cosines (not ADC
    # estimates), the result ⊆ the ADC pool, and recall beats raw ADC
    rer = ann_topk_pq(coded, books, query, k=10, rerank_pool=50).collect()
    assert len(rer) == 10
    assert {r["vec_id"] for r in rer} <= pool
    id2vec = {
        r["vec_id"]: np.asarray(list(r["embedding"]), dtype=np.float64)
        for r in emb.select("vec_id", "embedding").collect()
    }
    for r in rer:
        expect = float(np.clip(id2vec[r["vec_id"]] @ qv, 0.0, 1.0))
        assert abs(r["similarity_score"] - expect) < 1e-6
    rerank_recall = len({r["vec_id"] for r in rer} & exact10) / 10
    assert rerank_recall >= recall
    assert rerank_recall >= 0.9, f"rerank recall@10: {rerank_recall}"


def test_pq_dim_mismatch_raises(spark, emb):
    from vectordb_light_spark.operators.similarity import train_pq_codebooks

    with pytest.raises(ValueError):
        train_pq_codebooks(emb, m=7)  # 64 % 7 != 0


def test_ivfpq_composes_pruning_and_recall(spark, emb, query):
    """IVFPQ: result ⊆ probed clusters; full-probe IVFPQ ≡ plain PQ
    top-k; partial probe keeps usable recall vs the exact scan."""
    from vectordb_light_spark.operators.similarity import (
        add_ivf_cluster,
        add_pq_codes,
        ann_topk_ivfpq,
        ann_topk_pq,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    cents = train_ivf_centroids(emb, n_centroids=8)
    books = train_pq_codebooks(emb, m=16, n_codes=64)
    indexed = add_pq_codes(add_ivf_cluster(emb, cents), books).cache()

    full = ann_topk_ivfpq(indexed, cents, books, query, k=10, nprobe=8)
    plain = ann_topk_pq(indexed, books, query, k=10)
    assert [r["vec_id"] for r in full.collect()] == [
        r["vec_id"] for r in plain.collect()
    ]

    part = ann_topk_ivfpq(indexed, cents, books, query, k=10, nprobe=3)
    rows = part.collect()
    assert len(rows) == 10
    got = {r["vec_id"] for r in rows}
    recall = len(got & set(exact_topk_ids(emb, query, 10))) / 10
    assert recall >= 0.5, f"IVFPQ recall@10 too low: {recall}"


def test_pca_and_random_projection_preserve_neighbors(spark, emb, query):
    """64→32 dims: projected top-k keeps neighbor overlap with the
    full-dimension exact top-k (synthetic near-isotropic vectors are
    the WORST case for reduction — no low-dim structure to find, so
    the bars are modest); PCA beats the training-free JL projection;
    projected vectors are unit-norm; PCA training is deterministic."""
    import numpy as np

    from vectordb_light_spark.operators.similarity import (
        project_vectors,
        random_projection_matrix,
        train_pca_projection,
    )

    P = train_pca_projection(emb, 32)
    assert P.shape == (64, 32)
    np.testing.assert_allclose(P, train_pca_projection(emb, 32))
    # orthonormal columns
    np.testing.assert_allclose(P.T @ P, np.eye(32), atol=1e-9)

    exact = set(exact_topk_ids(emb, query, 10))
    overlaps = {}
    for name, M in (("pca", P), ("rand", random_projection_matrix(64, 32))):
        red = project_vectors(emb, M).cache()
        v = red.select("embedding").first()[0]
        assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-5
        assert len(v) == 32
        qv = np.asarray(query) @ M
        qv = (qv / np.linalg.norm(qv)).tolist()
        got = set(exact_topk_ids(red, qv, 10))
        overlaps[name] = len(got & exact) / 10
    assert overlaps["pca"] >= 0.5, overlaps
    assert overlaps["rand"] >= 0.2, overlaps
    assert overlaps["pca"] > overlaps["rand"]


def test_pq_batch_matches_single_query_adc(spark, emb):
    """Batched ADC over the code column equals per-query ann_topk_pq
    for every query in the batch (exact two-phase top-k, ties incl.)."""
    from vectordb_light_spark.operators.similarity import (
        add_pq_codes,
        ann_topk_pq,
        ann_topk_pq_batch,
        train_pq_codebooks,
    )

    books = train_pq_codebooks(emb, m=16, n_codes=64)
    coded = add_pq_codes(emb, books).cache()
    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where(F.col("vec_id") < 5).collect()
    ]
    batch = ann_topk_pq_batch(coded, books, qs, k=7).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(
            (r["vec_id"], round(r["similarity_score"], 9), r["rank"])
        )
    assert set(by_q) == {q[0] for q in qs}
    for qid, qv in qs:
        single = [
            (r["vec_id"], round(r["similarity_score"], 9), i + 1)
            for i, r in enumerate(ann_topk_pq(coded, books, qv, k=7).collect())
        ]
        assert by_q[qid] == single


def test_index_artifacts_roundtrip_preserve_ann_results(spark, emb, query, tmp_path):
    """Trained artifacts saved with the DB reload bit-identically, and
    ANN search from the LOADED artifacts equals search from the
    freshly-trained ones."""
    from vectordb_light_spark.operators.ingest import (
        load_index_artifacts,
        save_index_artifacts,
    )
    from vectordb_light_spark.operators.similarity import (
        add_pq_codes,
        ann_topk_pq,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    db = str(tmp_path / "db")
    import os as _os

    _os.makedirs(db)
    books = train_pq_codebooks(emb, m=16, n_codes=64)
    cents = train_ivf_centroids(emb, n_centroids=8)
    assert save_index_artifacts(db, {"pq_codebooks": books, "ivf_centroids": cents}) == [
        "ivf_centroids",
        "pq_codebooks",
    ]
    loaded = load_index_artifacts(db)
    np.testing.assert_array_equal(loaded["pq_codebooks"], books)
    np.testing.assert_array_equal(loaded["ivf_centroids"], cents)

    coded = add_pq_codes(emb, loaded["pq_codebooks"])
    got = [
        (r["vec_id"], round(r["similarity_score"], 9))
        for r in ann_topk_pq(coded, loaded["pq_codebooks"], query, k=5).collect()
    ]
    fresh = [
        (r["vec_id"], round(r["similarity_score"], 9))
        for r in ann_topk_pq(add_pq_codes(emb, books), books, query, k=5).collect()
    ]
    assert got == fresh

    # re-saving one tier MERGES (atomic swap of the union): the other
    # tier's artifacts survive, and the re-saved array is the new one
    save_index_artifacts(db, {"pq_codebooks": books * 2})
    after = load_index_artifacts(db)
    assert set(after) == {"pq_codebooks", "ivf_centroids"}
    np.testing.assert_array_equal(after["pq_codebooks"], books * 2)
    np.testing.assert_array_equal(after["ivf_centroids"], cents)


def test_pq_n_codes_int8_bound_raises(spark, emb):
    """Codes are stored int8: n_codes > 128 would wrap negative and
    element_at() would silently index the ADC LUT from the end — both
    the trainer and the encoder must refuse."""
    import numpy as np
    import pytest

    from vectordb_light_spark.operators.similarity import (
        make_pq_encode_udf,
        train_pq_codebooks,
    )

    with pytest.raises(ValueError, match="128"):
        train_pq_codebooks(emb, m=8, n_codes=256)
    with pytest.raises(ValueError, match="128"):
        make_pq_encode_udf(np.zeros((8, 256, 8)))
    # the documented safe bound trains fine
    books = train_pq_codebooks(emb.limit(200), m=8, n_codes=128, n_iters=1)
    assert books.shape[1] == 128


def test_cosine_pairs_auto_tier_dispatch(spark, emb):
    """The dispatcher must pick exact under the broadcast bound and
    the LSH tier above it — and the LSH plan must not contain a
    driver collect (its physical plan carries the band join, and
    building it triggers no job beyond the size probe)."""
    from vectordb_light_spark.operators.similarity import cosine_pairs

    # small data, generous bound → exact tier (full recall)
    exact = cosine_pairs(emb, threshold=0.9, max_broadcast_bytes=1 << 30)
    exact_pairs = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    assert "MapInPandas" in exact._jdf.queryExecution().executedPlan().toString()

    # same data, 1 KB bound → auto must refuse to broadcast: LSH tier
    lsh = cosine_pairs(emb, threshold=0.9, max_broadcast_bytes=1024)
    plan = lsh._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan  # no broadcast-matmul stage
    lsh_pairs = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
    # probabilistic tier: subset of the exact answer, high recall
    assert lsh_pairs <= exact_pairs
    if exact_pairs:
        assert len(lsh_pairs) >= 0.8 * len(exact_pairs)

    # explicit override beats the probe
    forced = cosine_pairs(emb, threshold=0.9, tier="exact",
                          max_broadcast_bytes=1024)
    assert {(r["id_a"], r["id_b"]) for r in forced.collect()} == exact_pairs

    import pytest as _pytest

    with _pytest.raises(ValueError):
        cosine_pairs(emb, tier="bogus")


# ---------------------------------------------------------------------------
# Sparse all-pairs cosine
# ---------------------------------------------------------------------------


def test_sparse_cosine_pairs_matches_dense(spark):
    import numpy as np

    from vectordb_light_spark.operators.similarity import sparse_cosine_pairs

    postings = spark.createDataFrame(
        [
            (1, "a", 2), (1, "b", 1),
            (2, "a", 2), (2, "b", 1),          # identical to 1 → cos 1.0
            (3, "a", 1), (3, "c", 3),          # partial overlap with 1
            (4, "d", 5),                        # disjoint from all
        ],
        "doc_id long, term string, weight long",
    )
    out = {
        (r.id_a, r.id_b): r.cosine
        for r in sparse_cosine_pairs(
            postings, weight_col="weight", threshold=0.0
        ).collect()
    }
    # dense reference
    vecs = {1: [2, 1, 0, 0], 2: [2, 1, 0, 0], 3: [1, 0, 3, 0], 4: [0, 0, 0, 5]}
    for (a, b), got in out.items():
        va, vb = np.array(vecs[a], float), np.array(vecs[b], float)
        want = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        assert abs(got - want) < 1e-12, (a, b)
    assert abs(out[(1, 2)] - 1.0) < 1e-12
    # disjoint pairs never meet (no term in common → no row, even at t=0)
    assert not any(4 in p for p in out)


def test_sparse_cosine_pairs_max_df_drops_stop_terms(spark):
    from vectordb_light_spark.operators.similarity import sparse_cosine_pairs

    postings = spark.createDataFrame(
        # "the" appears in all 3 docs (df=3); distinctive terms df=1
        [(i, "the", 10) for i in (1, 2, 3)]
        + [(1, "x", 1), (2, "y", 1), (3, "z", 1)],
        "doc_id long, term string, weight long",
    )
    with_cap = sparse_cosine_pairs(
        postings, weight_col="weight", threshold=0.0, max_df=2
    ).count()
    without = sparse_cosine_pairs(
        postings, weight_col="weight", threshold=0.0
    ).count()
    assert without == 3  # all pairs meet via "the"
    assert with_cap == 0  # stop term dropped → distinctive terms disjoint


def test_feature_hash_spark_matches_driver_twin(spark):
    from vectordb_light_spark.functions.embedding import (
        feature_hash_query_weights,
        feature_hash_weights,
    )

    text = "spark merge batch spark stream"
    df = spark.createDataFrame([(7, text)], "doc_id long, text string")
    got = {
        (r.bucket, r.weight)
        for r in feature_hash_weights(df, dim=64).collect()
    }
    want = set(feature_hash_query_weights(text, dim=64))
    assert got == want  # JVM md5/conv path ≡ Python hashlib twin


# ---------------------------------------------------------------------------
# OPQ — learned rotation before PQ
# ---------------------------------------------------------------------------


def test_opq_rotation_orthogonal_and_lowers_reconstruction_error(spark, emb):
    import numpy as np

    from vectordb_light_spark.operators.similarity import (
        _sampled_matrix,
        pq_reconstruction_mse,
        train_opq,
        train_pq_codebooks,
    )

    R, books = train_opq(emb, m=8, n_codes=16, opq_iters=6)
    np.testing.assert_allclose(R @ R.T, np.eye(R.shape[0]), atol=1e-9)

    # the OPQ objective: rotated-space reconstruction error must not
    # exceed plain PQ's on the same sample
    X = _sampled_matrix(emb, vec_col="embedding", id_col="vec_id", max_train=25_000)
    pq_books = train_pq_codebooks(emb, m=8, n_codes=16)
    assert pq_reconstruction_mse(X @ R, books) <= pq_reconstruction_mse(
        X, pq_books
    ) + 1e-12


def test_opq_zero_iters_degenerates_to_pq(spark, emb):
    import numpy as np

    from vectordb_light_spark.operators.similarity import (
        add_opq_codes,
        add_pq_codes,
        train_opq,
        train_pq_codebooks,
    )

    R, books = train_opq(emb, m=8, n_codes=16, opq_iters=0, n_iters_final=8)
    np.testing.assert_array_equal(R, np.eye(R.shape[0]))
    np.testing.assert_allclose(books, train_pq_codebooks(emb, m=8, n_codes=16))
    got = {
        r["vec_id"]: list(r["opq_code"])
        for r in add_opq_codes(emb, R, books).select("vec_id", "opq_code").collect()
    }
    want = {
        r["vec_id"]: list(r["pq_code"])
        for r in add_pq_codes(emb, train_pq_codebooks(emb, m=8, n_codes=16))
        .select("vec_id", "pq_code")
        .collect()
    }
    assert got == want


def test_opq_full_pool_rerank_equals_exact(spark, emb):
    from vectordb_light_spark.operators.search import SearchParams, topk_cosine
    from vectordb_light_spark.operators.similarity import (
        add_opq_codes,
        ann_topk_opq,
        train_opq,
    )

    R, books = train_opq(emb, m=8, n_codes=16, opq_iters=4)
    coded = add_opq_codes(emb, R, books)
    q = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    got = [
        r["vec_id"]
        for r in ann_topk_opq(coded, R, books, q, k=5, rerank_pool=10_000).collect()
    ]
    want = [
        r["vec_id"]
        for r in topk_cosine(
            emb, q, SearchParams(k=5, threshold=0.0, assume_normalized=True),
            id_col="vec_id", vec_col="embedding",
        ).collect()
    ]
    assert got == want


def test_topk_join_right_bucket_cap(spark):
    """r3: a hot right-side bucket (many near-identical rights) is
    truncated deterministically; every left still gets k results and
    the cap is inert on small buckets (same output with/without)."""
    import numpy as np

    from vectordb_light_spark.operators.similarity import ann_topk_join_lsh

    rng = np.random.default_rng(7)
    base = rng.normal(size=16)
    base /= np.linalg.norm(base)
    rights = [(i, [float(x) for x in base]) for i in range(120)]
    for j in range(6):
        v = rng.normal(size=16)
        v /= np.linalg.norm(v)
        rights.append((500 + j, [float(x) for x in v]))
    right = spark.createDataFrame(rights, "r_id long, r_vec array<float>")
    left = spark.createDataFrame(
        [(1, [float(x) for x in base])], "l_id long, l_vec array<float>"
    )
    out = ann_topk_join_lsh(left, right, k=5, bands=16, max_right_bucket=20).collect()
    assert len(out) == 5
    assert all(abs(r["cosine"] - 1.0) < 1e-5 for r in out)
    # lowest right ids survive the deterministic truncation
    assert {r["r_id"] for r in out} == {0, 1, 2, 3, 4}

    small_r = spark.createDataFrame(rights[115:], "r_id long, r_vec array<float>")
    a = sorted((r["l_id"], r["r_id"], r["rank"]) for r in
               ann_topk_join_lsh(left, small_r, k=3, bands=16).collect())
    b = sorted((r["l_id"], r["r_id"], r["rank"]) for r in
               ann_topk_join_lsh(left, small_r, k=3, bands=16,
                                 max_right_bucket=None,
                                 max_left_bucket=None).collect())
    assert a == b
    # r5: salting without a right cap has no worst-task bound — rejected
    import pytest

    with pytest.raises(ValueError, match="max_left_bucket salting"):
        ann_topk_join_lsh(left, small_r, k=3, bands=16,
                          max_right_bucket=None, max_left_bucket=100)


def test_banded_near_dup_hot_bucket_star(spark):
    import numpy as np

    from vectordb_light_spark.operators.similarity import (
        embedding_near_dup_pairs_banded,
    )

    rng = np.random.default_rng(11)
    base = rng.normal(size=16)
    base /= np.linalg.norm(base)
    rows = [(i, [float(x) for x in base]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = embedding_near_dup_pairs_banded(
        df, threshold=0.95, max_bucket=8
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(0, i) for i in range(1, 50)}
    assert all(abs(r["cosine"] - 1.0) < 1e-5 for r in out)


def test_banded_near_dup_cap_neutral_below_threshold(spark):
    """The shared hot-bucket cap is inert while no band bucket exceeds
    it: a 12-row identical cluster under max_bucket=16 keeps its full
    clique, exactly as with the cap off."""
    import numpy as np

    from vectordb_light_spark.operators.similarity import (
        embedding_near_dup_pairs_banded,
    )

    rng = np.random.default_rng(11)
    base = rng.normal(size=16)
    base /= np.linalg.norm(base)
    rows = [(i, [float(x) for x in base]) for i in range(12)]
    for j in range(20):
        v = rng.normal(size=16)
        rows.append((100 + j, [float(x) for x in v / np.linalg.norm(v)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def pairs(max_bucket):
        return sorted(
            (r["id_a"], r["id_b"], round(r["cosine"], 9))
            for r in embedding_near_dup_pairs_banded(
                df, threshold=0.95, max_bucket=max_bucket
            ).collect()
        )

    capped = pairs(16)
    assert capped == pairs(None)
    assert {(0, 1), (10, 11)} <= {(a, b) for a, b, _ in capped}
    assert len(capped) >= 66


def test_srp_zero_width_bands_raise(spark):
    """bands > n_planes leaves 0 bits per band: every row would share
    every band value and the band join would go all-pairs. Both SRP
    banders reject it before planning anything."""
    from vectordb_light_spark.operators.similarity import (
        ann_topk_join_lsh,
        embedding_near_dup_pairs_banded,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="zero-width SRP bands"):
        embedding_near_dup_pairs_banded(df, n_planes=64, bands=128)
    left = df.withColumnsRenamed({"vec_id": "l_id", "embedding": "l_vec"})
    right = df.withColumnsRenamed({"vec_id": "r_id", "embedding": "r_vec"})
    with pytest.raises(ValueError, match="zero-width SRP bands"):
        ann_topk_join_lsh(left, right, n_planes=16, bands=32)


def test_banded_tier_verifies_unnormalized_cosine(spark):
    """cosine_pairs(assume_normalized=False) past broadcast reach: the
    banded tier takes the flag and verifies with the norm-guarded
    cosine, so every pair's score is a true cosine in [-1, 1], not
    the raw dot product of unnormalized vectors."""
    from vectordb_light_spark.operators.similarity import cosine_pairs

    rng = np.random.default_rng(5)
    mat = rng.normal(size=(40, 16)) * rng.uniform(0.2, 20.0, size=(40, 1))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(mat)],
        "vec_id long, embedding array<double>",
    )
    got = cosine_pairs(
        df, tier="lsh", dim=16, assume_normalized=False, threshold=-1.0, bands=32
    ).collect()
    assert len(got) > 40
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for r in got:
        assert -1.0 <= r["cosine"] <= 1.0, r
        assert abs(r["cosine"] - unit[r["id_a"]] @ unit[r["id_b"]]) < 1e-9, r


def test_ann_tier_build_round_trip_cap(spark, emb, query):
    """Building an ANN top-k is one parsed SQL text for the exact rank
    (plus one for the PQ ADC scan): a bounded number of py4j round
    trips, not one per expression node."""
    from vectordb_light_spark.operators.similarity import (
        add_pq_codes,
        ann_topk_pq,
        train_pq_codebooks,
    )

    cents = train_ivf_centroids(emb, n_centroids=8, n_iters=3)
    books = train_pq_codebooks(emb, m=16, n_codes=64)
    srp = add_srp_signature(emb, n_planes=16)
    ivf = add_ivf_cluster(emb, cents)
    pq = add_pq_codes(emb, books)
    caps = {
        "srp": (lambda: ann_topk_srp(srp, query, k=10, probe_hamming=6), 25),
        "ivf": (lambda: ann_topk_ivf(ivf, cents, query, k=10, nprobe=3), 25),
        "pq": (lambda: ann_topk_pq(pq, books, query, k=10, rerank_pool=50), 150),
        "adc": (lambda: ann_topk_pq(pq, books, query, k=10), 25),
    }
    for name, (build, cap) in caps.items():
        trips = _median_round_trips(spark, build)
        assert 0 < trips <= cap, (name, trips)


def _median_round_trips(spark, build) -> float:
    """py4j round trips of ``build()``: the median of 3 warmed builds
    (py4j garbage collection adds occasional spikes)."""
    import statistics

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    build()  # warm
    counts = []
    for _ in range(3):
        calls = []

        def counting(*a, **kw):
            calls.append(1)
            return send(*a, **kw)

        client.send_command = counting
        try:
            build()
        finally:
            client.send_command = send
        counts.append(len(calls))
    return statistics.median(counts)


def test_batched_topk_build_round_trip_cap(spark, emb):
    """The batched top-k's per-query rank and threshold are one parsed
    SQL text over the local top-k: building it costs the query collect,
    the broadcast and the mapInPandas, not a round trip per Column
    call of a DataFrame-API Window."""
    from vectordb_light_spark.operators.search import topk_cosine_batch
    from vectordb_light_spark.operators.similarity import (
        add_pq_codes,
        ann_topk_pq_batch,
        train_pq_codebooks,
    )

    books = train_pq_codebooks(emb, m=16, n_codes=64)
    pq = add_pq_codes(emb, books)
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    qs = [(int(r[0]), [float(x) for x in r[1]]) for r in queries.collect()]
    caps = {
        "cosine": (
            lambda: topk_cosine_batch(
                emb, queries, k=5, id_col="vec_id", vec_col="embedding"
            ),
            110,  # 81 measured; 209 with the DataFrame-API Window
        ),
        "pq": (lambda: ann_topk_pq_batch(pq, books, qs, k=7), 125),  # 94; 194
    }
    for name, (build, cap) in caps.items():
        trips = _median_round_trips(spark, build)
        assert 0 < trips <= cap, (name, trips)


def test_topk_join_left_bucket_salting_is_output_neutral(spark):
    """r4: a hot LEFT bucket (boilerplate cluster of lefts sharing a
    band key) is salted across reducers against replicas of the
    truncated right bucket — pure repartitioning, so the output must
    be IDENTICAL with salting on, off, and at different salt counts,
    and every left row still gets its top-k."""
    import numpy as np

    from vectordb_light_spark.operators.similarity import ann_topk_join_lsh

    rng = np.random.default_rng(11)
    base = rng.normal(size=16)
    base /= np.linalg.norm(base)
    # 60 near-identical lefts (one hot band bucket) + 5 distinct
    lefts = [(i, [float(x) for x in base]) for i in range(60)]
    for j in range(5):
        v = rng.normal(size=16)
        v /= np.linalg.norm(v)
        lefts.append((900 + j, [float(x) for x in v]))
    rights = []
    for j in range(25):
        v = base + 0.05 * rng.normal(size=16)
        v /= np.linalg.norm(v)
        rights.append((j, [float(x) for x in v]))
    left = spark.createDataFrame(lefts, "l_id long, l_vec array<float>")
    right = spark.createDataFrame(rights, "r_id long, r_vec array<float>")

    def run(**kw):
        return sorted(
            (r["l_id"], r["r_id"], r["rank"])
            for r in ann_topk_join_lsh(left, right, k=3, bands=16, **kw).collect()
        )

    # r5: three skew plans, identical output required —
    # broadcast_hot_rows=0 forces the adaptive-salting fallback; the
    # default takes the hot-bucket broadcast path.
    salted = run(max_left_bucket=10, left_salts=4, broadcast_hot_rows=0)
    unsalted = run(max_left_bucket=None)
    broadcasted = run(max_left_bucket=10)
    assert salted == unsalted == broadcasted
    assert len({l for l, _, _ in salted}) == 60 + 5  # every left served
    # adaptive salting: the salt count scales with the bucket
    # (ceil(60/10) = 6 groups here) and the left_salts cap clamps it —
    # output must stay identical in both regimes, including a cap of 1
    # (degenerate: hot path with a single salt group ≡ unsalted).
    adaptive = run(max_left_bucket=10, left_salts=64, broadcast_hot_rows=0)
    clamped = run(max_left_bucket=10, left_salts=1, broadcast_hot_rows=0)
    assert adaptive == clamped == unsalted


def test_topk_join_adaptive_salt_counts(spark):
    """r5: per-key salt counts are ceil(bucket / max_left_bucket)
    clamped to left_salts — checked against the internal hot-key
    derivation (the bound max_left_bucket x max_right_bucket per task
    only holds if the salt count actually tracks the bucket size)."""
    from pyspark.sql import functions as F

    rows = [(i, "hot") for i in range(37)] + [(100 + i, "cold") for i in range(3)]
    df = spark.createDataFrame(rows, "id long, key string")
    max_left_bucket, cap = 5, 64
    hot = (
        df.groupBy("key")
        .agg(F.count(F.lit(1)).alias("__lc"))
        .where(F.col("__lc") > max_left_bucket)
        .withColumn(
            "__salts",
            F.least(
                F.lit(cap), F.ceil(F.col("__lc") / F.lit(max_left_bucket))
            ).cast("int"),
        )
    ).collect()
    assert [(r["key"], r["__salts"]) for r in hot] == [("hot", 8)]  # ceil(37/5)


def test_topk_join_hot_broadcast_is_a_broadcast_join(spark):
    """r5: the preferred skew plan must actually be MAP-SIDE — the
    executed plan for the hot-key join contains a BroadcastHashJoin
    (no exchange of the hot left rows), and forcing the salting
    fallback (broadcast_hot_rows=0) removes the broadcast of hot_b
    in favor of the salted sort-merge/shuffle join."""
    import numpy as np

    from vectordb_light_spark.operators.similarity import ann_topk_join_lsh

    rng = np.random.default_rng(7)
    base = rng.normal(size=16)
    base /= np.linalg.norm(base)
    lefts = [(i, [float(x) for x in base]) for i in range(60)]
    rights = []
    for j in range(25):
        v = base + 0.05 * rng.normal(size=16)
        v /= np.linalg.norm(v)
        rights.append((j, [float(x) for x in v]))
    left = spark.createDataFrame(lefts, "l_id long, l_vec array<float>")
    right = spark.createDataFrame(rights, "r_id long, r_vec array<float>")

    def plan(**kw):
        df = ann_topk_join_lsh(left, right, k=3, bands=8, **kw)
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()

    hot = plan(max_left_bucket=10)
    assert "BroadcastHashJoin" in hot
    fallback = plan(max_left_bucket=10, left_salts=4, broadcast_hot_rows=0)
    assert "__salt" in fallback  # the adaptive-salting keys are live


def test_topk_join_probe_skip_is_output_neutral(spark):
    """r6: when no left bucket can exceed max_left_bucket (provably,
    from the left row count), the hot-key probe is skipped — via the
    caller's left_rows hint or the banded count — and the output is
    identical to both the probed and the salting-disabled plans."""
    import numpy as np

    from vectordb_light_spark.operators.similarity import ann_topk_join_lsh

    rng = np.random.default_rng(3)
    lefts, rights = [], []
    for i in range(8):
        v = rng.normal(size=16)
        v /= np.linalg.norm(v)
        lefts.append((i, [float(x) for x in v]))
    for j in range(40):
        v = rng.normal(size=16)
        v /= np.linalg.norm(v)
        rights.append((j, [float(x) for x in v]))
    left = spark.createDataFrame(lefts, "l_id long, l_vec array<float>")
    right = spark.createDataFrame(rights, "r_id long, r_vec array<float>")

    def run(**kw):
        return sorted(
            (r["l_id"], r["r_id"], r["rank"])
            for r in ann_topk_join_lsh(left, right, k=3, bands=16, **kw).collect()
        )

    hinted = run(left_rows=8)
    counted = run()  # banded count 8×16 ≤ 4096×16 → probe skipped
    disabled = run(max_left_bucket=None)
    assert hinted == counted == disabled
    assert len({l for l, _, _ in hinted}) == 8


def test_topk_join_broadcast_bytes_gate_forces_salting(spark):
    """r6 (ADVICE): the hot-bucket broadcast gate is sized in bytes,
    not only rows — a hot set that passes the row gate but exceeds
    broadcast_hot_bytes must take the adaptive-salting fallback
    (wide embeddings would otherwise broadcast multi-GB hot_b)."""
    import numpy as np

    from vectordb_light_spark.operators.similarity import ann_topk_join_lsh

    rng = np.random.default_rng(7)
    base = rng.normal(size=16)
    base /= np.linalg.norm(base)
    lefts = [(i, [float(x) for x in base]) for i in range(60)]
    rights = []
    for j in range(25):
        v = base + 0.05 * rng.normal(size=16)
        v /= np.linalg.norm(v)
        rights.append((j, [float(x) for x in v]))
    left = spark.createDataFrame(lefts, "l_id long, l_vec array<float>")
    right = spark.createDataFrame(rights, "r_id long, r_vec array<float>")

    def plan(**kw):
        df = ann_topk_join_lsh(left, right, k=3, bands=8, **kw)
        out = sorted((r["l_id"], r["r_id"], r["rank"]) for r in df.collect())
        return out, df._jdf.queryExecution().executedPlan().toString()

    bc_out, bc_plan = plan(max_left_bucket=10)
    assert "BroadcastHashJoin" in bc_plan
    salt_out, salt_plan = plan(max_left_bucket=10, broadcast_hot_bytes=0)
    assert "__salt" in salt_plan  # row gate passes, byte gate trips
    assert salt_out == bc_out  # and the output is unchanged


def test_topk_join_byte_gate_uses_schema_element_width(spark):
    """r6 ADVICE: the byte estimate must read the element width from
    the schema — with n_hot=8 bands x 256 max_right_bucket x dim 16,
    the estimate is 8*256*(4*16+64) = 256 KiB for array<float> but
    8*256*(8*16+64) = 384 KiB for array<double>. A 300 KiB cap must
    therefore broadcast the float input and salt the double input."""
    import numpy as np

    from vectordb_light_spark.operators.similarity import ann_topk_join_lsh

    rng = np.random.default_rng(7)
    base = rng.normal(size=16)
    base /= np.linalg.norm(base)
    lefts = [(i, [float(x) for x in base]) for i in range(60)]
    rights = []
    for j in range(25):
        v = base + 0.05 * rng.normal(size=16)
        v /= np.linalg.norm(v)
        rights.append((j, [float(x) for x in v]))

    def plan(elem):
        left = spark.createDataFrame(lefts, f"l_id long, l_vec array<{elem}>")
        right = spark.createDataFrame(
            rights, f"r_id long, r_vec array<{elem}>"
        )
        df = ann_topk_join_lsh(
            left, right, k=3, bands=8,
            max_left_bucket=10, broadcast_hot_bytes=300_000,
        )
        out = sorted((r["l_id"], r["r_id"], r["rank"]) for r in df.collect())
        return out, df._jdf.queryExecution().executedPlan().toString()

    f_out, f_plan = plan("float")
    d_out, d_plan = plan("double")
    assert "BroadcastHashJoin" in f_plan and "__salt" not in f_plan
    assert "__salt" in d_plan
    assert f_out == d_out  # strategy changes, output never does


def test_semantic_dedup_chains_singletons_and_survivors(spark):
    """r6 SemDeDup tier: transitive chains merge into one cluster
    (pairs alone under-merge), unpaired rows come back as singleton
    keepers, and exactly the min-id row of each cluster survives."""
    import numpy as np

    from vectordb_light_spark.operators.similarity import semantic_dedup

    # chain 10 ~ 11 ~ 12 as exact planar rotations: adjacent pairs at
    # cos(14°) ≈ 0.970 ≥ 0.95, chain ends at cos(28°) ≈ 0.883 < 0.95 —
    # so 10 and 12 meet ONLY transitively through 11
    theta = np.deg2rad(14.0)

    def rot(k):
        v = np.zeros(16)
        v[0], v[1] = np.cos(k * theta), np.sin(k * theta)
        return [float(x) for x in v]

    lone = np.zeros(16)
    lone[5] = 1.0
    rows = [
        (10, rot(0)),
        (11, rot(1)),
        (12, rot(2)),
        (99, [float(x) for x in lone]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: r
        for r in semantic_dedup(df, threshold=0.95, tier="exact").collect()
    }
    assert set(got) == {10, 11, 12, 99}          # full coverage
    assert {got[i]["cluster_id"] for i in (10, 11, 12)} == {10}
    assert all(got[i]["cluster_size"] == 3 for i in (10, 11, 12))
    assert got[10]["keep"] is True
    assert got[11]["keep"] is False and got[12]["keep"] is False
    assert got[99]["cluster_id"] == 99
    assert got[99]["cluster_size"] == 1 and got[99]["keep"] is True
    # deterministic on re-evaluation
    again = {
        r["vec_id"]: (r["cluster_id"], r["keep"])
        for r in semantic_dedup(df, threshold=0.95, tier="exact").collect()
    }
    assert again == {i: (got[i]["cluster_id"], got[i]["keep"]) for i in got}
    # the facade's pointer_jumping="auto" pass-through reaches the
    # same fixed point (r11: VectorDB.dedup_semantic /
    # train_val_test_split default)
    auto = {
        r["vec_id"]: (r["cluster_id"], r["keep"])
        for r in semantic_dedup(
            df, threshold=0.95, tier="exact", pointer_jumping="auto"
        ).collect()
    }
    assert auto == again


def test_sparse_cosine_matches_cross_corpus(spark):
    """r6 cross-corpus sparse cosine: exact values vs numpy on integer
    postings, left ids never pair with left ids, and the benchmark
    side rides a BroadcastHashJoin (the corpus never shuffles for the
    posting join)."""
    import numpy as np

    from vectordb_light_spark.operators.similarity import sparse_cosine_matches

    rng = np.random.default_rng(3)
    D = 8

    def postings(ids, seed):
        r = np.random.default_rng(seed)
        rows = []
        vecs = {}
        for i in ids:
            v = r.integers(-3, 4, size=D)
            if not v.any():
                v[0] = 1
            vecs[i] = v
            rows += [(i, t, int(w)) for t, w in enumerate(v) if w != 0]
        return rows, vecs

    lrows, lv = postings(range(100, 110), 1)
    rrows, rv = postings(range(1, 4), 2)
    left = spark.createDataFrame(lrows, "doc_id long, term int, weight long")
    right = spark.createDataFrame(rrows, "doc_id long, term int, weight long")
    out = sparse_cosine_matches(
        left, right, term_col="term", threshold=0.1
    )
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in out.collect()}
    for (a, b), c in got.items():
        assert a >= 100 and b < 100  # strictly cross-corpus
        want = float(
            lv[a] @ rv[b] / (np.linalg.norm(lv[a]) * np.linalg.norm(rv[b]))
        )
        assert abs(c - want) < 1e-12
    # completeness: every numpy pair >= threshold is present
    for a in lv:
        for b in rv:
            w = float(lv[a] @ rv[b] / (np.linalg.norm(lv[a]) * np.linalg.norm(rv[b])))
            if w >= 0.1 + 1e-9:
                assert (a, b) in got
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
