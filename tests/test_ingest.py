"""End-to-end write-path tests: extract → chunk → normalize → embed →
write → open → search (SURVEY §5.3 golden-path test with the
deterministic hashing encoder)."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from vectordb_light_spark.engine import VectorDB
from vectordb_light_spark.functions.embedding import HashingEmbedder, embed_documents
from vectordb_light_spark.operators.ingest import (
    IngestConfig,
    create_database,
    delete_database,
    list_databases,
)
from vectordb_light_spark.operators.search import SearchParams
from vectordb_light_spark.sources.extract import extract_bytes, load_directory, strip_html


# ---------------------------------------------------------------------------
# Extractors (pure functions)
# ---------------------------------------------------------------------------


def test_extract_txt_and_md():
    assert extract_bytes("a.txt", b"hello world") == ("hello world", None)
    assert extract_bytes("a.md", b"# title")[0] == "# title"
    # latin-1 fallback: 0xe9 is not valid utf-8
    text, reason = extract_bytes("a.txt", b"caf\xe9")
    assert reason is None and text == b"caf\xe9".decode("latin-1")


def test_extract_csv_flattens_to_prose():
    text, reason = extract_bytes("t.csv", b"a,b,c\n1,2,3\n")
    assert reason is None
    assert text == "a b c\n1 2 3"


def test_extract_html_strips_tags_and_script():
    html = b"<html><head><script>var x=1;</script></head><body><p>Hi <b>there</b></p></body></html>"
    text, reason = extract_bytes("p.html", html)
    assert reason is None
    assert "var x" not in text and "Hi" in text and "there" in text


def test_strip_html_separator():
    assert strip_html("<p>a</p><p>b</p>").split() == ["a", "b"]


def test_strip_html_parity_mode_matches_get_text_semantics():
    # bs4 get_text(separator=" ") keeps script/style text and the
    # whitespace-only nodes between tags; joins every text node with
    # a single space. Comments are excluded.
    html = (
        "<html>\n<head><script>var x=1;</script></head>\n"
        "<body><!-- note --><p>Hi <b>there</b></p></body>\n</html>"
    )
    parity = strip_html(html, parity=True)
    # "Hi " and "there" are separate text nodes: the separator joins
    # them on top of "Hi "'s own trailing space, exactly as bs4 does.
    assert parity == "\n var x=1; \n Hi  there \n"
    assert "note" not in parity
    # semantic default: same join, minus script/style contents
    semantic = strip_html(html)
    assert "var x" not in semantic and "Hi  there" in semantic


def test_strip_html_parity_entities_and_nesting():
    html = "<div>A&amp;B<style>p{}</style><span> C</span></div>"
    assert strip_html(html, parity=True) == "A&B p{}  C"
    assert strip_html(html) == "A&B  C"


def test_extract_eml_subject_and_body():
    eml = (
        b"From: x@example.com\r\nTo: y@example.com\r\n"
        b"Subject: Test mail\r\nContent-Type: text/plain\r\n\r\n"
        b"The body text.\r\n"
    )
    text, reason = extract_bytes("m.eml", eml)
    assert reason is None
    assert text.startswith("Subject: Test mail")
    assert "The body text." in text


def test_extract_drop_policies():
    assert extract_bytes("a.xyz", b"x") == (None, "unsupported_extension")
    assert extract_bytes("a.txt", b"   ") == (None, "no_content")
    # pdf is UNGATED (pure-Python fallback runs): a textless PDF is a
    # clean no_content drop, not a missing_parser one
    assert extract_bytes("a.pdf", b"%PDF-1.4") == (None, "no_content")
    # msg is ungated too (pure-Python CFB fallback): a truncated
    # compound file is a clean no_content drop, never missing_parser
    assert extract_bytes("a.msg", b"\xd0\xcf\x11\xe0junk") == (
        None,
        "no_content",
    )


# ---------------------------------------------------------------------------
# Embedding stage
# ---------------------------------------------------------------------------


def test_hashing_embedder_deterministic_unit_norm():
    e = HashingEmbedder(dim=32, seed=7)
    v1 = e.encode(["hello world", "other text"])
    v2 = e.encode(["hello world", "other text"])
    np.testing.assert_array_equal(v1, v2)
    assert v1.shape == (2, 32) and v1.dtype == np.float32
    np.testing.assert_allclose(np.linalg.norm(v1, axis=1), 1.0, atol=1e-5)
    # similar token multisets are closer than disjoint ones
    a, b, c = e.encode(["the cat sat", "the cat sat down", "xylophone quartz"])
    assert float(a @ b) > float(a @ c)


def test_embed_documents_stage(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, None)], "id long, text string"
    )
    out = embed_documents(df, {"encoder": "hashing", "dim": 16, "seed": 0})
    rows = {r["id"]: r["vector"] for r in out.collect()}
    assert set(rows) == {1, 2, 3}
    assert len(rows[1]) == 16
    # same text → same vector as the driver-side encoder
    expected = HashingEmbedder(dim=16, seed=0).encode(["alpha beta"])[0]
    np.testing.assert_allclose(rows[1], expected, atol=1e-6)
    # null text embeds as the zero vector (kept finite by eps-norm)
    assert np.linalg.norm(rows[3]) < 1e-6


# ---------------------------------------------------------------------------
# Full write path + engine API
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def doc_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("docs")
    (d / "alpha.txt").write_text(
        "The quick brown fox jumps over the lazy dog. " * 40
    )
    (d / "beta.md").write_text("Spark engines process data in parallel. " * 40)
    (d / "gamma.csv").write_text("name,role\nada,engineer\nalan,scientist\n")
    (d / "page.html").write_text("<html><body><p>Hypertext content here.</p></body></html>")
    (d / "bad.xyz").write_text("unsupported")
    (d / "empty.txt").write_text("   ")
    return str(d)


@pytest.fixture(scope="module")
def built_db(spark, doc_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("dbroot"))
    docs, rejects = load_directory(spark, doc_dir)
    cfg = IngestConfig(
        chunk_size=200,
        chunk_overlap=50,
        embedder_spec={"encoder": "hashing", "dim": 32, "seed": 1},
        target_files=2,
    )
    meta = create_database(spark, docs, root, "testdb", cfg)
    return root, meta, rejects


def test_load_directory_reads_the_files_as_they_are_now(spark, tmp_path):
    """A second load of a directory in the same session sees an edited
    and an added file: the first load's extraction is not served from
    a cache."""
    src = tmp_path / "src"
    src.mkdir()
    body = {name: " ".join([word] * 60) for name, word in
            (("a.txt", "alpha"), ("b.txt", "bravo"))}
    for name, text in body.items():
        (src / name).write_text(text)
    cfg = IngestConfig(
        chunk_size=200,
        chunk_overlap=50,
        embedder_spec={"encoder": "hashing", "dim": 8, "seed": 0},
        target_files=1,
    )
    root = str(tmp_path / "root")
    docs, _ = load_directory(spark, str(src))
    first = create_database(spark, docs, root, "v1", cfg)

    body.update({"a.txt": " ".join(["hotel"] * 60), "c.txt": " ".join(["delta"] * 60)})
    for name in ("a.txt", "c.txt"):
        (src / name).write_text(body[name])
    docs, _ = load_directory(spark, str(src))
    assert {r["file_name"]: r["text"] for r in docs.collect()} == body
    second = create_database(spark, docs, root, "v2", cfg)
    assert first["observed"]["n_docs"] == 2 and second["observed"]["n_docs"] == 3
    assert second["num_vectors"] * 2 == first["num_vectors"] * 3


def test_load_directory_rejects(spark, doc_dir):
    docs, rejects = load_directory(spark, doc_dir)
    names = {r["file_name"] for r in docs.select("file_name").collect()}
    assert names == {"alpha.txt", "beta.md", "gamma.csv", "page.html"}
    rej = {r["file_path"].split("/")[-1]: r["reject_reason"] for r in rejects.collect()}
    assert rej.get("empty.txt") == "no_content"
    # unsupported extension is excluded by the scan's glob filter
    assert "bad.xyz" not in rej


def test_create_database_layout_and_meta(built_db, spark):
    root, meta, _ = built_db
    assert list_databases(root) == ["testdb"]
    assert meta["distance_metric"] == "cosine"
    assert meta["index_type"] == "FLAT"
    assert meta["dimensions"] == 32
    assert meta["num_vectors"] > 0
    db = VectorDB.open(spark, root, "testdb", cache=False)
    vec = db.vectors
    assert {"id", "doc_hash", "chunk_index", "page_number", "text", "vector"} <= set(
        vec.columns
    )
    # ids are deterministic: xxhash64(doc_hash, file_name, chunk_index)
    recomputed = vec.where(
        F.xxhash64(F.col("doc_hash"), F.col("file_name"), F.col("chunk_index"))
        != F.col("id")
    ).count()
    assert recomputed == 0
    # write-path invariant: all vectors unit-norm
    norms = [
        float(np.linalg.norm(r["vector"])) for r in vec.select("vector").collect()
    ]
    assert all(abs(n - 1.0) < 1e-5 for n in norms)


def test_exists_guard(built_db, spark):
    root, _, _ = built_db
    docs = spark.createDataFrame(
        [("h", "text", ".txt", "f", "/f")],
        "hash string, text string, file_type string, file_name string, file_path string",
    )
    with pytest.raises(FileExistsError):
        create_database(spark, docs, root, "testdb")


def test_identical_files_get_unique_ids_and_their_own_numbering(spark, tmp_path):
    """Two identical .txt files and two identical .pdf files share a
    doc_hash. Every chunk still gets its own id, and each file numbers
    its chunks 0..n-1 in offset order."""
    import re

    from test_chunker import _ref_fixed_split
    from test_pdf_text import make_pdf

    from vectordb_light_spark.functions.text import normalize_text_py

    words = [f"w{i:03d}" for i in range(160)]
    body = " ".join(words)
    pdf = make_pdf(
        [f"BT ({' '.join(ws)}) Tj ET".encode() for ws in (words[:80], words[80:])]
    )
    src = tmp_path / "src"
    src.mkdir()
    for name in ("a.txt", "b.txt"):
        (src / name).write_text(body)
    for name in ("c.pdf", "d.pdf"):
        (src / name).write_bytes(pdf)
    docs, _ = load_directory(spark, str(src))
    cfg = IngestConfig(
        chunk_size=100,
        chunk_overlap=20,
        embedder_spec={"encoder": "hashing", "dim": 8, "seed": 0},
        target_files=1,
    )
    create_database(spark, docs, str(tmp_path / "root"), "dups", cfg)
    rows = (
        spark.read.parquet(str(tmp_path / "root" / "dups" / "vectors"))
        .select("id", "file_name", "chunk_index", "text")
        .collect()
    )
    assert len({r["id"] for r in rows}) == len(rows)

    chunks: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: r["chunk_index"]):
        chunks.setdefault(r["file_name"], []).append(r)
    assert set(chunks) == {"a.txt", "b.txt", "c.pdf", "d.pdf"}
    for name, rs in chunks.items():
        assert [r["chunk_index"] for r in rs] == list(range(len(rs))), name
        # offset order: the first whole word of each chunk only grows
        firsts = [int(re.search(r"w(\d{3})", r["text"]).group(1)) for r in rs]
        assert firsts == sorted(set(firsts)), name
    texts = {name: [r["text"] for r in rs] for name, rs in chunks.items()}
    want = [normalize_text_py(c, True) for c in _ref_fixed_split(body, 100, 20)]
    assert texts["a.txt"] == texts["b.txt"] == want
    assert texts["c.pdf"] == texts["d.pdf"]


def test_write_path_plan_is_map_only_and_runs_no_job(spark, doc_dir):
    """Chunk numbering is a posexplode: the vectors plan has no Window
    and no hash exchange before the embed stage, normalize runs once,
    and building the frame (embed_documents' partition-count probe
    included) launches no Spark job."""
    from vectordb_light_spark.operators.ingest import build_chunks, build_vectors

    docs, _ = load_directory(spark, doc_dir)
    cfg = IngestConfig(chunk_size=200, chunk_overlap=50)
    vectors, n_jobs = _jobs_during(
        spark, "wp-build", lambda: build_vectors(build_chunks(docs, cfg), cfg)
    )
    assert n_jobs == 0
    plan = vectors._jdf.queryExecution().executedPlan().toString()
    below_embed = plan[plan.index("MapInPandas"):]
    assert "Window" not in plan
    assert "hashpartitioning" not in below_embed
    arrow = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    assert sum("vdb_normalize_text(" in ln for ln in arrow) == 1, arrow


def test_create_database_job_budget(spark, doc_dir, tmp_path):
    """The whole build (vectors write, documents write; the row count
    comes from the vectors write) stays within 5 Spark jobs."""
    docs, _ = load_directory(spark, doc_dir)
    # the loader's persisted extraction fills on its first use: those
    # jobs are the loader's, and an earlier test may have run them
    docs.count()
    cfg = IngestConfig(chunk_size=200, chunk_overlap=50, target_files=2)
    _, n_jobs = _jobs_during(
        spark,
        "wp-create",
        lambda: create_database(spark, docs, str(tmp_path), "budget", cfg),
    )
    assert n_jobs <= 5


def test_write_path_build_round_trip_cap(spark, doc_dir):
    """``build_chunks`` and ``build_vectors`` are one SQL text each
    around the embed map: a bounded number of py4j round trips, not one
    per DataFrame call (~940 when they were DataFrame-API builds)."""
    from test_similarity import _median_round_trips

    from vectordb_light_spark.operators.ingest import build_chunks, build_vectors

    docs, _ = load_directory(spark, doc_dir)
    cfg = IngestConfig(chunk_size=200, chunk_overlap=50)
    trips = _median_round_trips(spark, lambda: build_vectors(build_chunks(docs, cfg), cfg))
    assert 0 < trips <= 60, trips


def test_narrow_input_embeds_on_every_core(spark, tmp_path):
    """An input with half as many splits as the cluster has cores is
    widened before the embed: the chunk plan's PDF branch adds as many
    (empty) partitions again, which must not count as width."""
    from vectordb_light_spark.operators.ingest import build_chunks, build_vectors

    cores = spark.sparkContext.defaultParallelism
    n_splits = max(cores // 2, 1)
    rows = [
        (f"h{i}", " ".join(f"w{i}_{j}" for j in range(400)), ".txt", f"d{i}.txt", f"/d{i}.txt")
        for i in range(n_splits)
    ]
    spark.createDataFrame(
        rows, "hash string, text string, file_type string, file_name string, file_path string"
    ).repartition(n_splits).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    assert docs.rdd.getNumPartitions() == n_splits
    cfg = IngestConfig(
        chunk_size=200, chunk_overlap=50, embedder_spec={"encoder": "hashing", "dim": 8, "seed": 0}
    )
    vectors = build_vectors(build_chunks(docs, cfg), cfg)
    sizes = (
        vectors.groupBy(F.spark_partition_id().alias("p")).count().select("count").collect()
    )
    assert len(sizes) >= cores, sorted(r["count"] for r in sizes)


@pytest.mark.parametrize("texts", [[], ["   \n\t ", ""]], ids=["empty", "whitespace"])
def test_create_database_over_no_chunks(spark, tmp_path, texts):
    """A corpus with no documents, or with only blank ones, builds an
    empty store whose num_vectors is 0, the parquet row count."""
    docs = spark.createDataFrame(
        [(f"h{i}", t, ".pdf" if i % 2 else ".txt", f"f{i}", f"/f{i}") for i, t in enumerate(texts)],
        "hash string, text string, file_type string, file_name string, file_path string",
    )
    cfg = IngestConfig(embedder_spec={"encoder": "hashing", "dim": 8, "seed": 0})
    meta = create_database(spark, docs, str(tmp_path), "none", cfg)
    stored = spark.read.parquet(str(tmp_path / "none" / "vectors")).count()
    assert meta["num_vectors"] == 0 == stored
    assert meta["observed"] == {"n_docs": len(texts), "n_chunks": 0}


def test_documents_table_is_coalesced_to_target_files(built_db, spark, doc_dir):
    """``documents/`` is written in at most ``target_files`` files, not
    one per scan split, with the loaded rows unchanged."""
    root, _, _ = built_db
    docs_dir = os.path.join(root, "testdb", "documents")
    files = [f for f in os.listdir(docs_dir) if f.endswith(".parquet")]
    assert 0 < len(files) <= 2, files
    docs, _ = load_directory(spark, doc_dir)
    stored = spark.read.parquet(docs_dir)
    assert stored.columns == docs.columns
    assert sorted(map(tuple, stored.collect())) == sorted(map(tuple, docs.collect()))


def test_open_reads_documents_on_first_access(built_db, spark):
    """Opening a database pays the vectors table's schema job only;
    the documents table is read when first used."""
    root, _, _ = built_db
    db, n_jobs = _jobs_during(
        spark, "open", lambda: VectorDB.open(spark, root, "testdb", cache=False)
    )
    assert n_jobs == 1
    assert db.documents.columns == [
        "file_path", "file_type", "file_name", "modification_date",
        "text", "hash", "document_type",
    ]


def test_search_end_to_end(built_db, spark):
    root, _, _ = built_db
    db = VectorDB.open(spark, root, "testdb", cache=False)
    res = db.search("quick brown fox", params=SearchParams(k=4, threshold=0.0))
    rows = res.collect()
    assert 0 < len(rows) <= 4
    # the fox document should win
    assert rows[0]["file_name"] == "alpha.txt"
    assert rows[0]["rank"] == 1
    sims = [r["similarity_score"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    assert all(0.0 <= s <= 1.0 for s in sims)


def test_search_threshold_and_term_filters(built_db, spark):
    root, _, _ = built_db
    db = VectorDB.open(spark, root, "testdb", cache=False)
    # absurd threshold → empty result, not an error
    assert db.search("fox", params=SearchParams(k=4, threshold=0.999)).count() in (0, 1, 2, 3, 4)
    hi = db.search("fox", params=SearchParams(k=4, threshold=1.01))
    assert hi.count() == 0
    # search term filter: only chunks containing 'spark' (case-insensitive)
    res = db.search(
        "engines parallel", params=SearchParams(k=6, threshold=0.0, search_term="SPARK")
    )
    assert all("spark" in r["text"].lower() for r in res.collect())


def test_chunks_only_formatting(built_db, spark):
    root, _, _ = built_db
    db = VectorDB.open(spark, root, "testdb", cache=False)
    out = db.chunks_only("quick brown fox", params=SearchParams(k=2, threshold=0.0))
    assert "CONTEXT 1 | alpha.txt" in out
    assert out.count("-" * 80) >= 2


def test_rag_prompt(built_db, spark):
    root, _, _ = built_db
    db = VectorDB.open(spark, root, "testdb", cache=False)
    prompt = db.rag_prompt("quick brown fox", params=SearchParams(k=2, threshold=0.0))
    assert prompt.startswith("Here are the contexts")
    assert prompt.rstrip().endswith("quick brown fox")
    with pytest.raises(ValueError):
        db.rag_prompt("fox", params=SearchParams(k=2, threshold=1.01))


def test_citations_over_search(built_db, spark):
    root, _, _ = built_db
    db = VectorDB.open(spark, root, "testdb", cache=False)
    res = db.search("quick brown fox parallel data", params=SearchParams(k=6, threshold=0.0))
    cites = db.citations(res).collect()
    assert len(cites) >= 1
    mins = [r["min_score"] for r in cites]
    assert mins == sorted(mins)


def test_delete_database(built_db, spark, doc_dir, tmp_path_factory):
    root2 = str(tmp_path_factory.mktemp("dbroot2"))
    docs, _ = load_directory(spark, doc_dir)
    create_database(
        spark, docs, root2, "tmpdb",
        IngestConfig(chunk_size=200, chunk_overlap=50, target_files=1),
    )
    assert list_databases(root2) == ["tmpdb"]
    delete_database(root2, "tmpdb")
    assert list_databases(root2) == []
    assert not os.path.exists(os.path.join(root2, "tmpdb"))


def test_backup_restore_roundtrip(built_db, spark, tmp_path_factory):
    """K10 backup → delete → restore: the restored database answers the
    same search with identical results (reference utilities.py:79-105,
    initialize.py:55-81)."""
    from vectordb_light_spark.operators.ingest import (
        backup_database,
        restore_database,
    )

    root, _, _ = built_db
    backup_root = str(tmp_path_factory.mktemp("backups"))

    db = VectorDB.open(spark, root, "testdb", cache=False)
    before = [
        (r["id"], round(r["similarity_score"], 6))
        for r in db.search("quick brown fox").select("id", "similarity_score").collect()
    ]
    db.close()

    backup_database(root, "testdb", backup_root)
    delete_database(root, "testdb")
    assert "testdb" not in list_databases(root)
    restore_database(backup_root, "testdb", root)
    assert "testdb" in list_databases(root)

    db2 = VectorDB.open(spark, root, "testdb", cache=False)
    after = [
        (r["id"], round(r["similarity_score"], 6))
        for r in db2.search("quick brown fox").select("id", "similarity_score").collect()
    ]
    db2.close()
    assert before == after and before


def test_observability_metrics(built_db, spark):
    """Stage counters ride the jobs as observe() metrics: the _meta
    records docs/chunks counted during the build, and each search
    exposes the reference's per-query similarity distribution
    (vector_db_creator.py:397,438; vector_db_query.py:184-201)."""
    root, meta, _ = built_db
    obs = meta["observed"]
    assert obs["n_docs"] == 4
    assert obs["n_chunks"] > 0 and obs["avg_chunk_chars"] > 0

    db = VectorDB.open(spark, root, "testdb", cache=False)
    hits = db.search("quick brown fox").collect()
    stats = db.last_search_stats
    # the stats cover the whole scan, not just the top-k: compare them
    # with numpy over every stored vector
    mat = np.array(
        [r["vector"] for r in db.vectors.select("vector").collect()], dtype=np.float64
    )
    q = np.asarray(db.embed("quick brown fox"), dtype=np.float64)
    sims = np.clip(mat @ q, 0.0, 1.0)
    assert stats["n_scanned"] == meta["num_vectors"] == len(sims)
    assert abs(stats["min_sim"] - sims.min()) < 1e-12
    assert abs(stats["max_sim"] - sims.max()) < 1e-12
    assert abs(stats["avg_sim"] - sims.mean()) < 1e-12
    assert stats["n_passing_threshold"] == int((sims >= SearchParams().threshold).sum())
    assert stats["n_passing_threshold"] >= len(hits)
    db.close()


def test_search_hybrid_end_to_end(built_db, spark):
    root, _, _ = built_db
    db = VectorDB.open(spark, root, "testdb", cache=False)
    res = db.search_hybrid("quick brown fox", k=4, fetch_k=8)
    rows = res.collect()
    assert 0 < len(rows) <= 4
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    # the fox document matches both arms → fused to the top
    assert rows[0]["file_name"] == "alpha.txt"
    assert rows[0]["n_systems"] == 2
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert {"id", "text", "file_name"} <= set(res.columns)


def test_compact_vectors_reduces_files_keeps_rows(spark, built_db, tmp_path):
    from vectordb_light_spark.operators.ingest import compact_vectors

    # fragment the table like N streaming micro-batches would
    root, _, _ = built_db
    src = os.path.join(root, "testdb")
    frag = str(tmp_path / "fragdb")
    shutil.copytree(src, frag)
    vec_dir = os.path.join(frag, "vectors")
    base = spark.read.parquet(vec_dir)
    before_rows = {tuple(r) for r in base.select("id", "text").collect()}
    for i in range(3):
        base.limit(0).write.mode("append").parquet(vec_dir)  # empty batches
    base.repartition(16).write.mode("append").parquet(vec_dir)
    n_files = len([f for f in os.listdir(vec_dir) if f.endswith(".parquet")])
    assert n_files > 16

    stats = compact_vectors(spark, frag, target_mb=512)
    after = spark.read.parquet(vec_dir)
    n_after = len([f for f in os.listdir(vec_dir) if f.endswith(".parquet")])
    assert n_after == stats["files_after"] < n_files
    # doubled rows (append of a full copy) preserved exactly
    assert after.count() == 2 * len(before_rows)
    assert {tuple(r) for r in after.select("id", "text").collect()} == before_rows
    assert not os.path.exists(vec_dir + ".compact-tmp")
    assert not os.path.exists(vec_dir + ".compact-old")
    # r7: compaction re-synchronizes the num_vectors size hint (the
    # appended copy doubled the rows; _meta.json must say so now)
    import json as _json

    with open(os.path.join(frag, "_meta.json")) as f:
        meta = _json.load(f)
    assert meta["num_vectors"] == 2 * len(before_rows)
    assert stats["num_vectors"] == meta["num_vectors"]


def _jobs_during(spark, label, fn):
    """Run ``fn()`` under job group ``label``; return (result, number of
    Spark jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(label, "job-count assertion")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(label))


def test_facade_dedup_runs_zero_probe_jobs(built_db, spark):
    """r6 verdict item 6: tier dispatch over a built DB must read
    n_rows/dim from _meta.json instead of running count()/first()
    probe jobs — asserted by job-group job count at plan time."""
    root, _, _ = built_db
    db = VectorDB.open(spark, root, "testdb", cache=False)

    # LSH tier is pure plan construction: with the meta dim hint it
    # must schedule ZERO jobs before the first action
    df, n_jobs = _jobs_during(
        spark, "zp-lsh", lambda: db.near_duplicates(threshold=0.5, tier="lsh")
    )
    assert n_jobs == 0
    df.collect()  # and the hinted plan executes

    # auto dispatch: the exact tier's own matrix collect is priced in
    # (1 job, by design); the hints must remove BOTH dispatch probes
    # (count + first) relative to the unhinted operator call
    from vectordb_light_spark.operators.similarity import cosine_pairs

    hinted, n_hinted = _jobs_during(
        spark, "zp-auto", lambda: db.near_duplicates(threshold=0.5)
    )
    unhinted, n_unhinted = _jobs_during(
        spark, "zp-raw",
        lambda: cosine_pairs(
            db.vectors, id_col="id", vec_col="vector", threshold=0.5
        ),
    )
    # hinted: exactly the documented 1 job (matrix collect). unhinted:
    # that plus the count and first probes (AQE may add a stage, so
    # lower-bound rather than pin the raw call's total).
    assert n_hinted == 1
    assert n_unhinted >= n_hinted + 2
    # hints change jobs, never output
    assert sorted(map(tuple, hinted.collect())) == sorted(
        map(tuple, unhinted.collect())
    )


def test_facade_semantic_dedup_keeps_one_per_cluster(built_db, spark):
    root, _, _ = built_db
    db = VectorDB.open(spark, root, "testdb", cache=False)
    out = db.dedup_semantic(threshold=0.95).collect()
    n_vectors = db.vectors.count()
    assert len(out) == n_vectors  # total over the store
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for rows in by_cluster.values():
        assert sum(1 for r in rows if r["keep"]) == 1
        assert min(r["id"] for r in rows) == next(
            r["id"] for r in rows if r["keep"]
        )


def test_facade_train_val_test_split_is_leakage_safe(built_db, spark):
    """The r10 facade: every stored chunk gets exactly one split, the
    weights land in the right ballpark, and NO semantic near-dup
    cluster straddles two splits (the property the method exists
    for)."""
    root, _, _ = built_db
    db = VectorDB.open(spark, root, "testdb", cache=False)
    out = db.train_val_test_split(threshold=0.95)
    rows = out.collect()
    n_vectors = db.vectors.count()
    assert len(rows) == n_vectors
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    # the train bucket dominates under the default 0.8/0.1/0.1
    from collections import Counter

    counts = Counter(r["split"] for r in rows)
    assert counts["train"] > counts["val"] + counts["test"]
    # leak check: join the splits back onto the same clusters
    clusters = db.dedup_semantic(threshold=0.95).select(
        "id", "cluster_id"
    )
    split_by_id = {r["id"]: r["split"] for r in rows}
    leaks = {}
    for r in clusters.collect():
        leaks.setdefault(r["cluster_id"], set()).add(
            split_by_id[r["id"]]
        )
    assert all(len(s) == 1 for s in leaks.values())


def test_read_jsonl_corpus_quarantines_bad_lines(spark, tmp_path):
    """JSONL source: valid docs parse with the declared schema;
    corrupt lines and empty-text docs quarantine as rejects; nothing
    fails the job."""
    from vectordb_light_spark.sources.jsonl import read_jsonl_corpus

    p = tmp_path / "corpus.jsonl"
    lines = [
        '{"doc_id": 1, "text": "alpha bravo", "lang": "en", "source": "s1"}',
        '{"doc_id": 2, "text": "charlie delta", "lang": "de", "source": "s1"}',
        'this is not json at all',
        '{"doc_id": 3, "text": "", "lang": "en", "source": "s2"}',
        '{"broken": ',
    ]
    p.write_text("\n".join(lines))

    docs, rejects = read_jsonl_corpus(spark, str(p))
    got = {(r["doc_id"], r["text"], r["lang"]) for r in docs.collect()}
    assert got == {(1, "alpha bravo", "en"), (2, "charlie delta", "de")}
    assert rejects.count() == 3  # 2 corrupt + 1 empty-text
    assert docs.columns == ["doc_id", "text", "lang", "source"]


def test_compact_vectors_dedup_backstop_heals_replay(spark, built_db, tmp_path):
    """A crash between the vectors append and the manifest append lets
    a replayed micro-batch double-write content; ids are deterministic
    (K2), so compact_vectors(drop_duplicates_on=["id"]) restores
    exactly-once contents."""
    from vectordb_light_spark.operators.ingest import compact_vectors

    root, _, _ = built_db
    src = os.path.join(root, "testdb")
    frag = str(tmp_path / "replaydb")
    shutil.copytree(src, frag)
    vec_dir = os.path.join(frag, "vectors")
    base = spark.read.parquet(vec_dir)
    before = {tuple(r) for r in base.select("id", "text").collect()}
    # replayed micro-batch: identical rows appended a second time
    base.write.mode("append").parquet(vec_dir)
    assert spark.read.parquet(vec_dir).count() == 2 * len(before)

    stats = compact_vectors(spark, frag, target_mb=512, drop_duplicates_on=["id"])
    after = spark.read.parquet(vec_dir)
    assert after.count() == len(before)
    assert {tuple(r) for r in after.select("id", "text").collect()} == before
    # the rows the rewrite wrote, not the doubled input
    assert stats["num_vectors"] == len(before)
