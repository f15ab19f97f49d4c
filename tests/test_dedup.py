"""Dedup operator tests (exact / minhash LSH / simhash / jaccard)."""

from __future__ import annotations

from pyspark.sql import functions as F

from vectordb_light_spark.operators.dedup import (
    add_minhash_signature,
    add_simhash64,
    char_shingles,
    duplicate_groups,
    exact_dedup,
    hamming64,
    minhash_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_near_dups,
    word_shingles,
)

CORPUS = [
    (1, "The quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the  quick Brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1 (canonical)
    (3, "The quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup of 1
    (4, "Completely different content about databases and distributed query engines"),
    (5, "Another unrelated text discussing machine learning model training at scale"),
]


def _df(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def test_exact_dedup_min_id_survives(spark):
    out = exact_dedup(_df(spark)).collect()
    ids = sorted(r["doc_id"] for r in out)
    assert ids == [1, 3, 4, 5]  # 2 is the canonical dup of 1


def test_duplicate_groups(spark):
    groups = duplicate_groups(_df(spark)).collect()
    assert len(groups) == 1
    assert (groups[0]["min_id"], groups[0]["max_id"], groups[0]["n_dups"]) == (1, 2, 2)


def test_shingles(spark):
    df = spark.createDataFrame([(1, "abcdef")], "id long, text string")
    row = df.select(
        char_shingles("text", 3).alias("cs"), word_shingles("text", 2).alias("ws")
    ).first()
    assert row["cs"] == ["abc", "bcd", "cde", "def"]
    assert row["ws"] == ["abcdef"]  # single word → whole-text shingle
    row2 = (
        spark.createDataFrame([(1, "a b c")], "id long, text string")
        .select(word_shingles("text", 2).alias("ws"))
        .first()
    )
    assert row2["ws"] == ["a b", "b c"]


def test_minhash_lsh_finds_near_dups(spark):
    cand = minhash_lsh_candidates(_df(spark), num_hashes=64, bands=16).collect()
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in cand}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # canonical-identical
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.5
    assert (4, 5) not in pairs


def test_minhash_dedup_drops_higher_ids(spark):
    out = minhash_dedup(_df(spark), threshold=0.8).collect()
    ids = sorted(r["doc_id"] for r in out)
    assert 1 in ids and 4 in ids and 5 in ids
    assert 2 not in ids  # est_jaccard 1.0 with id 1


def test_minhash_signature_shape_and_determinism(spark):
    sig = add_minhash_signature(_df(spark), num_hashes=32)
    rows = {r["doc_id"]: r["minhash"] for r in sig.collect()}
    assert all(len(v) == 32 for v in rows.values())
    assert rows[1] == rows[2]  # canonical-identical → identical signature
    rows2 = {r["doc_id"]: r["minhash"] for r in add_minhash_signature(_df(spark), num_hashes=32).collect()}
    assert rows == rows2  # deterministic across runs


def test_simhash_identical_and_hamming(spark):
    df = _df(spark)
    sims = {
        r["doc_id"]: r["simhash"]
        for r in add_simhash64(df).collect()
    }
    assert sims[1] == sims[2]  # canonical-identical text → same simhash
    d13 = (
        spark.range(1)
        .select(hamming64(F.lit(sims[1]), F.lit(sims[3])).alias("h"))
        .first()["h"]
    )
    d14 = (
        spark.range(1)
        .select(hamming64(F.lit(sims[1]), F.lit(sims[4])).alias("h"))
        .first()["h"]
    )
    assert d13 < d14  # near-dup closer than unrelated


def test_simhash_near_dups_pairs(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dups(_df(spark), max_hamming=10).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 0
    assert (4, 5) not in pairs


def test_ngram_jaccard_exact_verification(spark):
    df = _df(spark)
    cand = minhash_lsh_candidates(df, num_hashes=64, bands=16)
    verified = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, cand).collect()
    }
    assert verified[(1, 2)] == 1.0
    assert 0.5 < verified[(1, 3)] < 1.0


def test_containment_detects_subset_duplicates(spark):
    """A short excerpt of a long doc has low Jaccard but containment
    ≈ 1 from the excerpt's side — the asymmetric detector's point."""
    from vectordb_light_spark.operators.dedup import containment_pairs

    import itertools

    # distinct alphabetic words (the tokenizer keeps [a-z] runs only)
    vocab = ["".join(p) for p in itertools.product("abcdefghij", repeat=3)]
    long_words = " ".join(vocab[:200])
    excerpt = " ".join(vocab[50:80])  # 30-word quote
    other = " ".join("z" + w for w in vocab[:100])
    df = spark.createDataFrame(
        [(1, long_words), (2, excerpt), (3, other)], "doc_id long, text string"
    )
    rows = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in containment_pairs(
            df, threshold=0.5, max_df=10, text_col="text"
        ).collect()
    }
    # excerpt(2) is fully contained in long(1): all 28 of its 3-gram
    # shingles appear in doc 1
    assert rows.get((2, 1)) == 1.0
    # the long doc's containment in the excerpt is far below threshold
    assert (1, 2) not in rows
    # unrelated doc shares nothing
    assert not any(3 in pair for pair in rows)


def test_containment_ignores_too_short_docs(spark):
    """Docs with fewer tokens than the shingle width produce no
    shingles and no pairs — no crash, no spurious matches."""
    from vectordb_light_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(
        [(1, "just two"), (2, "just two"), (3, "")],
        "doc_id long, text string",
    )
    assert containment_pairs(df, threshold=0.0).count() == 0


def test_containment_hot_set_over_broadcast_cap_shuffles(spark, monkeypatch):
    """A hot-shingle set above HOT_SHINGLE_BROADCAST_CAP drops the stop
    shingles by a sort-merge anti join instead of a broadcast, with
    the same pairs."""
    from vectordb_light_spark.operators import dedup

    import itertools

    vocab = ["".join(p) for p in itertools.product("abcdefghij", repeat=3)]
    footer = " ".join(vocab[900:910])  # hot: in every doc
    rows = [
        (i, " ".join(vocab[i * 40 : i * 40 + 60]) + " " + footer) for i in range(8)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def run():
        out = dedup.containment_pairs(df, threshold=0.1, max_df=3)
        got = sorted(tuple(r) for r in out.collect())
        plan = out._jdf.queryExecution().executedPlan().toString()
        return got, [ln for ln in plan.splitlines() if "LeftAnti" in ln]

    want, anti = run()
    assert want and anti and all("BroadcastHashJoin" in ln for ln in anti), anti
    monkeypatch.setattr(dedup, "HOT_SHINGLE_BROADCAST_CAP", 0)
    got, anti = run()
    assert got == want
    assert anti and all("SortMergeJoin" in ln for ln in anti), anti


def test_remove_boilerplate_strips_repeated_paragraphs(spark):
    """A footer shared by most docs disappears corpus-wide; unique
    paragraphs survive in order; a doc that is ALL boilerplate comes
    back empty."""
    from vectordb_light_spark.operators.dedup import remove_boilerplate

    footer = "subscribe to our newsletter"
    rows = [
        (i, f"unique paragraph {i} alpha\nmore unique {i} beta\n{footer}")
        for i in range(5)
    ]
    rows.append((99, footer))  # all-boilerplate doc
    rows.append((100, "totally original\ncontent here"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = {r["doc_id"]: r["text"] for r in remove_boilerplate(df, min_docs=3).collect()}
    assert out[0] == "unique paragraph 0 alpha\nmore unique 0 beta"
    assert out[3] == "unique paragraph 3 alpha\nmore unique 3 beta"
    assert out[99] == ""
    assert out[100] == "totally original\ncontent here"
    assert len(out) == 7  # every doc returned, none dropped

    # fraction form: bar = 6 docs * 0.5 → footer still stripped
    out_frac = {
        r["doc_id"]: r["text"]
        for r in remove_boilerplate(df, min_doc_frac=0.5).collect()
    }
    assert footer not in out_frac[0]


# ---------------------------------------------------------------------------
# poly31 oracle-twin family
# ---------------------------------------------------------------------------


def test_minhash_poly31_finds_same_dups_as_production_family(spark):
    df = _df(spark)
    for family in ("splitmix64", "poly31"):
        cand = minhash_lsh_candidates(
            df, num_hashes=32, bands=8, hash_family=family
        ).where(F.col("est_jaccard") >= 0.5)
        pairs = {(r.id_a, r.id_b) for r in cand.collect()}
        # both families must surface the exact dup (1,2) and the
        # near dup (1,3)/(2,3) cluster, and nothing touching 4 or 5
        assert (1, 2) in pairs, family
        assert all(a not in (4, 5) and b not in (4, 5) for a, b in pairs), family


def test_minhash_poly31_signature_range_and_determinism(spark):
    df = _df(spark)
    sig1 = {
        r.doc_id: r.minhash
        for r in add_minhash_signature(df, hash_family="poly31").collect()
    }
    sig2 = {
        r.doc_id: r.minhash
        for r in add_minhash_signature(df, hash_family="poly31").collect()
    }
    assert sig1 == sig2
    p61 = (1 << 61) - 1
    assert all(0 <= v < p61 for s in sig1.values() for v in s)


def test_simhash_poly31_uses_low_31_bits_only(spark):
    df = _df(spark)
    sketches = [
        r.simhash for r in add_simhash64(df, hash_family="poly31").collect()
    ]
    assert all(0 <= s < (1 << 31) for s in sketches)


def test_simhash_poly31_blocked_pairs_match_brute_force(spark):
    df = _df(spark)
    blocked = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dups(df, max_hamming=3, hash_family="poly31").collect()
    }
    sk = {r.doc_id: r.simhash for r in add_simhash64(df, hash_family="poly31").collect()}
    ids = sorted(sk)
    brute = {
        (a, b): bin(sk[a] ^ sk[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sk[a] ^ sk[b]).count("1") <= 3
    }
    assert blocked == brute  # pigeonhole over 4 blocks is lossless at <=3


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------


def test_ngram_contamination_counts_shared_grams(spark):
    from vectordb_light_spark.operators.dedup import ngram_contamination

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "prefix alpha beta gamma delta epsilon suffix"),  # contains bench
            (2, "totally different words with zero overlap here"),
            (3, "alpha beta gamma delta words beyond"),  # shares one 4-gram
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in ngram_contamination(train, bench, n=4).collect()}
    assert out[1].contaminated and out[1].n_shared_grams == 2
    assert not out[2].contaminated and out[2].n_shared_grams == 0
    assert out[3].contaminated and out[3].n_shared_grams == 1


def test_ngram_contamination_short_docs_use_whole_text_gram(spark):
    from vectordb_light_spark.operators.dedup import ngram_contamination

    bench = spark.createDataFrame([(9, "tiny doc")], "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, "tiny doc"), (2, "other thing")], "doc_id long, text string"
    )
    out = {r.doc_id: r.contaminated for r in ngram_contamination(train, bench, n=4).collect()}
    assert out == {1: True, 2: False}


def test_cross_corpus_candidates_find_near_dups_across_sides(spark):
    from vectordb_light_spark.operators.dedup import minhash_lsh_candidates_cross

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    ref = spark.createDataFrame(
        [(1, base), (2, "completely different reference content here " * 6)],
        "doc_id long, text string",
    )
    # id 1 overlaps ref's id space on purpose — cross variant needs no
    # id<id guard
    new = spark.createDataFrame(
        [(1, base + "tail"), (9, "unrelated new corpus text entirely " * 6)],
        "doc_id long, text string",
    )
    out = minhash_lsh_candidates_cross(new, ref).collect()
    pairs = {(r["ref_id"], r["new_id"]): r["est_jaccard"] for r in out}
    assert (1, 1) in pairs and pairs[(1, 1)] >= 0.75
    assert (2, 9) not in pairs


# ---------------------------------------------------------------------------
# Hot-bucket cap (round 3): a duplicate cluster larger than max_bucket
# must produce LINEARLY many candidate rows (star per signature
# group), not |bucket|^2/2, and cluster-level dedup must see the same
# connected components either way.
# ---------------------------------------------------------------------------


def _hot_corpus(spark, n_dups=400, n_noise=20):
    """n_dups canonical-identical docs + a few distinct ones."""
    rows = [(i, "shared boilerplate paragraph repeated across the crawl " * 4)
            for i in range(n_dups)]
    rows += [(1000 + i, f"unique document number {i} with its own words entirely "
              * 3) for i in range(n_noise)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_hot_bucket_emits_linear_star(spark):
    df = _hot_corpus(spark)
    out = minhash_lsh_candidates(
        df, num_hashes=16, bands=4, max_bucket=64
    ).collect()
    star = [(r["id_a"], r["id_b"]) for r in out if r["id_a"] == 0]
    # the 400-dup cluster collapses to a min-id star: 399 pairs, not 79800
    assert len(out) < 1000
    assert len(star) == 399
    assert all(r["est_jaccard"] == 1.0 for r in out if r["id_a"] == 0)


def test_minhash_cap_preserves_components(spark):
    from vectordb_light_spark.operators.components import duplicate_clusters

    df = _hot_corpus(spark, n_dups=80, n_noise=10)
    capped = minhash_lsh_candidates(df, num_hashes=16, bands=4, max_bucket=16)
    uncapped = minhash_lsh_candidates(df, num_hashes=16, bands=4, max_bucket=None)
    c1 = {(r["doc_id"], r["cluster_id"])
          for r in duplicate_clusters(
              capped.where(F.col("est_jaccard") >= 0.75),
              left_id="id_a", right_id="id_b").collect()}
    c2 = {(r["doc_id"], r["cluster_id"])
          for r in duplicate_clusters(
              uncapped.where(F.col("est_jaccard") >= 0.75),
              left_id="id_a", right_id="id_b").collect()}
    assert c1 == c2


def test_minhash_cap_neutral_below_threshold(spark):
    df = _df(spark)
    a = sorted((r["id_a"], r["id_b"], r["est_jaccard"])
               for r in minhash_lsh_candidates(df, num_hashes=64, bands=16).collect())
    b = sorted((r["id_a"], r["id_b"], r["est_jaccard"])
               for r in minhash_lsh_candidates(
                   df, num_hashes=64, bands=16, max_bucket=None).collect())
    assert a == b


def test_minhash_zero_width_bands_raise(spark):
    """bands > num_hashes leaves 0 rows per band: every document would
    share every band key and the candidate join would go all-pairs
    (40 random docs: 780/780 pairs). Both MinHash banders reject it."""
    import pytest

    from vectordb_light_spark.operators.dedup import minhash_lsh_candidates_cross

    df = _df(spark)
    with pytest.raises(ValueError, match="zero-width LSH bands"):
        minhash_lsh_candidates(df, num_hashes=16, bands=32, max_bucket=None)
    with pytest.raises(ValueError, match="zero-width LSH bands"):
        minhash_lsh_candidates_cross(df, df, num_hashes=16, bands=32)


def test_cross_corpus_hot_bucket_links_to_min_ref(spark):
    from vectordb_light_spark.operators.dedup import minhash_lsh_candidates_cross

    boiler = "shared boilerplate paragraph repeated across the crawl " * 4
    ref = spark.createDataFrame(
        [(i, boiler) for i in range(40)] + [(90, "distinct reference text here " * 5)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(200 + i, boiler) for i in range(40)]
        + [(300, "unrelated new document content " * 5)],
        "doc_id long, text string",
    )
    out = minhash_lsh_candidates_cross(
        new, ref, num_hashes=16, bands=4, max_bucket=8
    ).collect()
    pairs = {(r["ref_id"], r["new_id"]) for r in out}
    # every hot new doc links to exactly the min ref id (0), not 40 refs
    assert pairs == {(0, 200 + i) for i in range(40)}
    assert all(r["est_jaccard"] == 1.0 for r in out)


def test_simhash_block_scheme_widens_with_corpus(spark):
    from vectordb_light_spark.operators.dedup import simhash_block_scheme

    m_small, k_small = simhash_block_scheme(3, 64, 10**6)
    m_big, k_big = simhash_block_scheme(3, 64, 10**9)
    bits = lambda m, k: k * (64 // m)
    assert bits(m_big, k_big) > bits(m_small, k_small)
    # pigeonhole guarantee holds for both
    assert k_small <= m_small - 3 and k_big <= m_big - 3


def test_simhash_output_invariant_to_scheme(spark):
    df = _hot_corpus(spark, n_dups=6, n_noise=8)
    classic = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dups(
            df, max_hamming=3, blocks=4, combo=1).collect())
    combo = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dups(
            df, max_hamming=3, blocks=5, combo=2).collect())
    wide = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dups(
            df, max_hamming=3, n_docs_hint=10**9).collect())
    assert classic == combo == wide


# ---------------------------------------------------------------------------
# Hot-cluster star collapse for SimHash (round 4): identical-sketch
# clusters above max_cluster emit a linear min-id star instead of
# C(m,k)*D^2/2 join rows; components unchanged; explicit scheme
# overrides are pigeonhole-validated.
# ---------------------------------------------------------------------------


def test_simhash_hot_cluster_emits_linear_star(spark):
    df = _hot_corpus(spark, n_dups=400, n_noise=20)
    out = simhash_near_dups(df, max_hamming=3, max_cluster=64).collect()
    star = [(r["id_a"], r["id_b"]) for r in out if r["id_a"] == 0]
    # the 400-identical cluster collapses to a min-id star: 399 rows
    # (hamming 0), never 79800 clique rows
    assert len(star) == 399
    assert all(r["hamming"] == 0 for r in out if r["id_a"] == 0)
    assert len(out) < 1000


def test_simhash_cap_preserves_components(spark):
    from vectordb_light_spark.operators.components import duplicate_clusters

    df = _hot_corpus(spark, n_dups=80, n_noise=10)
    capped = simhash_near_dups(df, max_hamming=3, max_cluster=16)
    uncapped = simhash_near_dups(df, max_hamming=3, max_cluster=None)
    c1 = {(r["doc_id"], r["cluster_id"])
          for r in duplicate_clusters(
              capped, left_id="id_a", right_id="id_b").collect()}
    c2 = {(r["doc_id"], r["cluster_id"])
          for r in duplicate_clusters(
              uncapped, left_id="id_a", right_id="id_b").collect()}
    assert c1 == c2


def test_simhash_cap_keeps_rep_external_edges(spark):
    # a hot identical cluster plus ONE near (not identical) neighbour:
    # the representative must still meet the neighbour via the combo
    # join after the collapse.
    base = "shared boilerplate paragraph repeated across the crawl " * 4
    rows = [(i, base) for i in range(50)]
    rows.append((999, base + " tail"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = simhash_near_dups(df, max_hamming=6, max_cluster=8).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (0, 999) in pairs  # rep ↔ external neighbour survives
    assert {(0, i) for i in range(1, 50)} <= pairs  # star edges


def test_simhash_blocks_only_override_takes_k1(spark):
    # blocks=4 with max_hamming=3 used to inherit the adaptive k=2 —
    # a silent pigeonhole violation (k > m - h). It now takes k=1
    # (classic scheme) and stays output-invariant.
    df = _hot_corpus(spark, n_dups=6, n_noise=8)
    blocks_only = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dups(df, max_hamming=3, blocks=4).collect())
    default = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dups(df, max_hamming=3).collect())
    assert blocks_only == default


def test_simhash_invalid_scheme_raises(spark):
    import pytest

    df = _hot_corpus(spark, n_dups=2, n_noise=2)
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dups(df, max_hamming=3, blocks=4, combo=2).collect()
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dups(df, max_hamming=2, blocks=3, combo=2).collect()


def test_combo_only_override_grows_blocks(spark):
    from vectordb_light_spark.operators.dedup import resolve_block_scheme

    assert resolve_block_scheme(3, 64, None, None, 2) == (5, 2)
    assert resolve_block_scheme(3, 64, None, 4, None) == (4, 1)
    assert resolve_block_scheme(2, 64, None, 6, 3) == (6, 3)


def test_auto_hint_counts_corpus(spark):
    # the default n_docs_hint="auto" must not change output (scheme
    # invariance) and must accept explicit ints / None unchanged
    df = _hot_corpus(spark, n_dups=5, n_noise=10)
    auto = sorted((r["id_a"], r["id_b"]) for r in
                  simhash_near_dups(df, max_hamming=2).collect())
    none = sorted((r["id_a"], r["id_b"]) for r in
                  simhash_near_dups(df, max_hamming=2, n_docs_hint=None).collect())
    assert auto == none


def test_graded_sf_stays_under_production_caps(spark):
    """The driver-graded SFs must keep every LSH band bucket and every
    identical-sketch cluster under DEFAULT_MAX_BUCKET, so the capped
    production defaults and the uncapped oracle-twin registry entries
    are output-identical on graded data (ADVICE r3: hash equality must
    not silently hinge on this — assert it)."""
    import os

    from vectordb_light_spark.operators.dedup import (
        DEFAULT_MAX_BUCKET,
        lsh_band_keys,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        docs = (
            spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .select("doc_id", "text")
            .where(F.length(F.trim(F.col("text"))) > 0)
        )
        sig = add_minhash_signature(
            docs, num_hashes=16, seed=42, hash_family="poly31"
        )
        banded = sig.select(
            F.posexplode(
                lsh_band_keys(F.col("minhash"), 4, 4, "poly31")
            ).alias("i", "k")
        )
        max_bucket = (
            banded.groupBy("i", "k").count().agg(F.max("count")).first()[0]
        )
        assert max_bucket <= DEFAULT_MAX_BUCKET, (sf_dir, max_bucket)
        sk = add_simhash64(docs, hash_family="poly31")
        max_cluster = (
            sk.groupBy("simhash").count().agg(F.max("count")).first()[0]
        )
        assert max_cluster <= DEFAULT_MAX_BUCKET, (sf_dir, max_cluster)


# ---------------------------------------------------------------------------
# Exact-substring dedup (r5: repeated_spans / remove_repeated_spans)
# ---------------------------------------------------------------------------


def test_repeated_spans_mines_cross_doc_regions(spark):
    """A 30-token blurb shared by 3 docs is mined as one maximal span
    per occurrence; an 8-token shared phrase stays below the 16-token
    bar; a unique doc yields nothing."""
    from vectordb_light_spark.operators.dedup import repeated_spans

    blurb = " ".join(f"b{i}" for i in range(30))
    short = "one two three four five six seven eight"
    rows = [
        (1, f"alpha beta {blurb} gamma delta"),
        (2, f"{blurb} tail words here now yes ok fine sure"),
        (3, "totally unique content with no repeats anywhere at all ever"),
        (4, f"head words {short} unique tail alpha9 beta9 gamma9"),
        (5, f"other start {short} different ending tokens here now"),
        (6, f"p1 p2 p3 {blurb} q1 {blurb} q2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"]): r["span_tokens"]
        for r in repeated_spans(df, anchor=8, min_span_tokens=16).collect()
    }
    assert (1, 2, 32) in spans and spans[(1, 2, 32)] == 30
    assert (2, 0, 30) in spans
    # both occurrences inside doc 6 are found once corpus-hot
    assert (6, 3, 33) in spans and (6, 34, 64) in spans
    assert not any(d in (3, 4, 5) for d, _, _ in spans)


def test_repeated_spans_within_doc_only_does_not_fire(spark):
    """Self-repetition inside ONE doc is ts_repetition_filter's job:
    min_docs counts DISTINCT documents."""
    from vectordb_light_spark.operators.dedup import repeated_spans

    blurb = " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, f"{blurb} mid {blurb}"), (2, "nothing shared with that doc")],
        "doc_id long, text string",
    )
    assert repeated_spans(df, anchor=8, min_span_tokens=16).count() == 0


def test_repeated_spans_abutting_covers_merge(spark):
    """Two 8-token hot regions that touch merge into one 16-token
    island (each alone would miss the bar)."""
    from vectordb_light_spark.operators.dedup import repeated_spans

    a = " ".join(f"a{i}" for i in range(8))
    b = " ".join(f"b{i}" for i in range(8))
    # a and b abut in docs 1/2 — every straddling 8-gram is also
    # shared, so the cover is one seamless [start, start+16) region
    df = spark.createDataFrame(
        [
            (1, f"x1 x2 {a} {b} y1 y2"),
            (2, f"z1 {a} {b} z2 z3 z4"),
            (3, "filler text with no shared grams at all here"),
        ],
        "doc_id long, text string",
    )
    spans = {
        (r["doc_id"], r["span_start"]): r["span_tokens"]
        for r in repeated_spans(df, anchor=8, min_span_tokens=16).collect()
    }
    assert spans == {(1, 2): 16, (2, 1): 16}


def test_remove_repeated_spans_strips_all_occurrences(spark):
    """Removal drops EVERY occurrence (Lee et al. released-tool
    policy), preserves case and token order, and reports counts;
    docs that are entirely repeated come back empty."""
    from vectordb_light_spark.operators.dedup import remove_repeated_spans

    blurb = " ".join(f"B{i}" for i in range(20))
    df = spark.createDataFrame(
        [
            (1, f"Keep Me {blurb} And Me"),
            (2, f"{blurb}"),
            (3, f"Front {blurb} Mid {blurb} End"),
            (4, "Nothing Repeated In This One At All Today"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["text"], r["removed_tokens"])
        for r in remove_repeated_spans(
            df, anchor=8, min_span_tokens=16
        ).collect()
    }
    assert out[1] == ("Keep Me And Me", 20)
    assert out[2] == ("", 20)
    assert out[3] == ("Front Mid End", 40)
    assert out[4] == ("Nothing Repeated In This One At All Today", 0)


def test_repeated_spans_hot_span_stays_linear(spark):
    """Adversarial: ONE span repeated across 400 docs emits exactly
    one span row per doc (never pairs) — output linear in corpus
    size, the property that keeps a million-fold repeated license
    blurb bounded at 100 TB."""
    from vectordb_light_spark.operators.dedup import repeated_spans

    blurb = " ".join(f"h{i}" for i in range(24))
    rows = [(i, f"u{i}a u{i}b {blurb} u{i}c u{i}d") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = repeated_spans(df, anchor=8, min_span_tokens=16).collect()
    assert len(spans) == 400
    assert all(r["span_tokens"] == 24 for r in spans)


def test_dedup_lines_keep_first_global_first_occurrence(spark):
    """Each distinct non-blank segment survives only at its globally
    first (doc_id, pos); later copies vanish — across docs AND within
    a doc; blanks are structural and always kept; a doc made entirely
    of already-seen lines comes back empty."""
    from vectordb_light_spark.operators.dedup import dedup_lines_keep_first

    df = spark.createDataFrame(
        [
            (1, "alpha\nshared line\nbeta"),
            (2, "shared line\ngamma"),
            (3, "delta\ndelta"),
            (4, "shared line"),
            (5, "epsilon\n\nzeta"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in dedup_lines_keep_first(df).collect()}
    assert out[1] == "alpha\nshared line\nbeta"  # first occurrence keeps all
    assert out[2] == "gamma"  # lost the shared line
    assert out[3] == "delta"  # within-doc repeat removed
    assert out[4] == ""  # every line already seen
    assert out[5] == "epsilon\n\nzeta"  # blank preserved
    assert len(out) == 5


def test_dedup_lines_keep_first_trim_normalized(spark):
    """Survivor identity is the TRIMMED segment (same normalization as
    remove_boilerplate): '  shared  ' in a later doc matches 'shared'
    seen earlier and is removed."""
    from vectordb_light_spark.operators.dedup import dedup_lines_keep_first

    df = spark.createDataFrame(
        [(1, "shared"), (2, "  shared  \nkeep me")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in dedup_lines_keep_first(df).collect()}
    assert out[1] == "shared"
    assert out[2] == "keep me"


def test_bloom_decontaminate_superset_of_exact_and_deterministic(spark):
    """The Bloom probe can never miss a true hit (no false negatives):
    every document the exact decontaminator flags is flagged by the
    Bloom variant, per-doc bloom n_hits >= exact n_shared_grams, and
    two independent builds produce identical words and identical
    probe results."""
    from vectordb_light_spark.operators.dedup import (
        bloom_build,
        bloom_decontaminate,
        ngram_contamination,
    )

    bench = spark.createDataFrame(
        [(1, "the secret eval answer is forty two exactly")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (10, "the secret eval answer is forty two exactly plus noise"),
            (11, "completely unrelated text about weather patterns today"),
            (12, "answer is forty two exactly said the guide"),
        ],
        "doc_id long, text string",
    )
    words = bloom_build(bench, n=4)
    assert words == bloom_build(bench, n=4)  # deterministic build
    assert any(w != 0 for w in words)

    bloom = {
        r["doc_id"]: r
        for r in bloom_decontaminate(train, words, n=4).collect()
    }
    exact = {
        r["doc_id"]: r for r in ngram_contamination(train, bench, n=4).collect()
    }
    for did, ex in exact.items():
        assert bloom[did]["n_hits"] >= ex["n_shared_grams"]
        if ex["contaminated"]:
            assert bloom[did]["contaminated"] == 1
    assert bloom[10]["contaminated"] == 1
    assert bloom[12]["contaminated"] == 1


def test_bloom_small_filter_false_positives_never_negative(spark):
    """A deliberately tiny filter (64 bits, k=2) saturates: false
    positives appear, but every true member still probes positive —
    the Bloom guarantee under the worst geometry."""
    from vectordb_light_spark.operators.dedup import (
        bloom_build,
        bloom_decontaminate,
    )

    bench = spark.createDataFrame(
        [(i, f"bench doc {i} tokens alpha beta gamma {i}") for i in range(8)],
        "doc_id long, text string",
    )
    words = bloom_build(bench, n=4, m_bits=64, k=2)
    assert len(words) == 2
    # probing the bench docs themselves: all must hit (no false negatives)
    out = bloom_decontaminate(bench, words, n=4, m_bits=64, k=2).collect()
    assert all(r["contaminated"] == 1 for r in out)
    assert all(r["n_hits"] == r["n_grams"] for r in out)
